package graft

import graft.queries.{EventQueries, StatsQueries}
import org.apache.spark.sql.functions._

/** Value-level pins for the round-10 second-wave operators, on inputs
  * small enough to verify by hand — the oracle gate proves Spark/DuckDB
  * agreement, these prove both agree with the MATH.
  */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  test("CUSUM fires on an injected level shift and stays quiet without one") {
    // series "a": 20 days at 10/day then 10 days at 30/day. With the
    // retrospective global mean (~16.7) BOTH one-sided charts must fire —
    // the upper inside the shifted window, the lower inside the quiet one
    // (counts of 10 sit below mu - k for 20 straight days). Series "b" is
    // constant: deviations never exceed the allowance, so nothing fires.
    val rows = (for {
      day <- 0 until 30
      n = if (day < 20) 10 else 30
      _ <- 0 until n
    } yield (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), "a")) ++
      (for {
        day <- 0 until 30
        _ <- 0 until 15
      } yield (java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"), "b"))
    val out = EventQueries.cusumChart(rows.toDF("ts", "event_type"))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("up_alarm_days") > 0, s"upper chart must fire: $a")
    assert(a.getAs[String]("first_up_alarm") >= "2024-01-21",
      s"upper alarm belongs in the shifted window: $a")
    assert(a.getAs[Long]("dn_alarm_days") > 0, s"lower chart must fire: $a")
    assert(a.getAs[String]("first_dn_alarm") <= "2024-01-20",
      s"lower alarm belongs in the quiet window: $a")
    val b = out("b")
    assert(b.getAs[Long]("up_alarm_days") == 0L
      && b.getAs[Long]("dn_alarm_days") == 0L
      && b.getAs[String]("first_up_alarm") == "none",
      s"constant series must not alarm: $b")
  }

  test("Holt smoothing settles on a constant series: level=c, trend=0") {
    val rows = for {
      day <- 1 to 25
      _ <- 0 until 5
    } yield (java.sql.Timestamp.valueOf(f"2024-02-$day%02d 12:00:00"), "a")
    val out = StatsQueries.holtDaily(spark, rows.toDF("ts", "event_type"))
      .orderBy(desc("day")).limit(1).collect().head
    val level = out.getAs[Double]("level")
    val trend = out.getAs[Double]("trend")
    // horizon-15 truncation: weights beyond the window sum to < 2^-9
    assert(math.abs(level - 5.0) < 0.05, s"level=$level")
    assert(math.abs(trend) < 0.05, s"trend=$trend")
    assert(math.abs(out.getAs[Double]("forecast_next") - 5.0) < 0.1)
  }

  test("Spearman is exactly +/-1 on monotone columns, ties averaged") {
    val df = (1 to 40)
      .map(i => (i.toDouble, 2.0 * i, 100.0 - i))
      .toDF("x", "y", "z")
    val rho = StatsQueries.spearmanRho(df, Seq("x", "y", "z"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    assert(rho(("x", "y")) == 1.0)
    assert(rho(("x", "z")) == -1.0)
    assert(rho(("y", "z")) == -1.0)
  }

  test("U-shaped attribution credits 40/20/40 in touch order") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      // user 1: click, view, click -> purchase(10): credits 4 / 2 / 4
      (1L, 1L, ts(0), "click", 0.0),
      (2L, 1L, ts(1), "view", 0.0),
      (3L, 1L, ts(2), "click", 0.0),
      (4L, 1L, ts(3), "purchase", 10.0),
      // user 2: no touches -> (direct) keeps the full value
      (5L, 2L, ts(0), "purchase", 7.0),
      // user 3: one view -> 100%
      (6L, 3L, ts(0), "view", 0.0),
      (7L, 3L, ts(1), "purchase", 5.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val out = EventQueries.uShapedAttribution(events)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out("click") == 8.0, s"first+last 40% each: $out")
    assert(out("view") == 7.0, s"middle 2.0 + solo 5.0: $out")
    assert(out("(direct)") == 7.0, out.toString)
  }
}
