package graft

import org.apache.spark.sql.functions._

/** Windowed/approximate event analytics: structural invariants plus error
  * bounds of the sketch aggregates against their exact counterparts (the
  * oracle hash-compare covers q25–q28 value-exactly; sketches can't be
  * oracle-compared, so we bound them here).
  */
class EventQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("tumbling windows partition all events exactly once") {
    val events = Tables.events(spark, sf)
    val windowed = Registry.byName("q25_window_tumbling_agg").run(spark, sf)
    val total = windowed.agg(sum("n_events")).head().getLong(0)
    assert(total === events.count())
  }

  test("sliding 1h/15m windows hold each event exactly 4 times") {
    val events = Tables.events(spark, sf)
    val windowed = Registry.byName("q26_window_sliding_counts").run(spark, sf)
    val total = windowed.agg(sum("n_events")).head().getLong(0)
    assert(total === 4 * events.count())
  }

  test("session windows: events covered once, gaps within sessions < 30 min") {
    val events = Tables.events(spark, sf)
    val sessions = Registry.byName("q27_session_window").run(spark, sf)
    assert(sessions.agg(sum("n_events")).head().getLong(0) === events.count())
    // session_end = last event + gap, so every session spans ≥ 30 minutes
    val badSpan = sessions
      .filter(col("session_end") < col("session_start") + expr("INTERVAL 30 minutes"))
      .count()
    assert(badSpan === 0)
    // sessions of the same user never overlap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_start")
    val overlaps = sessions
      .withColumn("prev_end", lag("session_end", 1).over(w))
      .filter(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
      .count()
    assert(overlaps === 0)
  }

  test("approx_count_distinct within 10% of exact; quantiles ordered") {
    val approx = Registry.byName("q29_approx_aggs").run(spark, sf)
      .select("event_type", "approx_users", "p50", "p95", "p99").collect()
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { r =>
      val et = r.getString(0)
      val est = r.getLong(1).toDouble
      val ex = exact(et).toDouble
      assert(math.abs(est - ex) / ex <= 0.10, s"$et: est=$est exact=$ex")
      val qs = Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(qs(0) <= qs(1) && qs(1) <= qs(2))
    }
  }

  // the oracle replays these booleans in DuckDB; a false-false pair would
  // still hash-match, so the TRUTH of every bound is pinned here
  test("sketch-trio within_bound columns are all true (q29/q66/q67)") {
    val q29 = Registry.byName("q29_approx_aggs").run(spark, sf)
    assert(q29.filter(!col("users_within") || !col("p50_within") ||
      !col("p95_within") || !col("p99_within")).count() === 0)
    val q66 = Registry.byName("q66_hll_distinct").run(spark, sf)
    assert(q66.filter(!col("within_bound")).count() === 0)
    val q67 = Registry.byName("q67_ddsketch_quantiles").run(spark, sf)
    assert(q67.filter(!col("p50_within") || !col("p95_within") ||
      !col("p99_within")).count() === 0)
  }

  test("linearAttribution: equal split, direct fallback, window exclusion") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1: purchase 10.0 with one click + one view in window -> 5 + 5
      (1L, 1L, "click", ts("2024-01-04 00:00:00"), 0.0),
      (2L, 1L, "view", ts("2024-01-03 00:00:00"), 0.0),
      (3L, 1L, "purchase", ts("2024-01-05 00:00:00"), 10.0),
      // user 2: no touches -> (direct) 8.0
      (4L, 2L, "purchase", ts("2024-01-05 00:00:00"), 8.0),
      // user 3: touch 10 days before -> outside window -> (direct) 6.0
      (5L, 3L, "click", ts("2023-12-26 00:00:00"), 0.0),
      (6L, 3L, "purchase", ts("2024-01-05 00:00:00"), 6.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = graft.queries.EventQueries.linearAttribution(events)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getAs[Double]("attributed_revenue"))))
      .toMap
    assert(got("click") === ((1L, 1L, 5.0)))
    assert(got("view") === ((1L, 1L, 5.0)))
    assert(got("(direct)") === ((2L, 2L, 14.0)))
  }
}
