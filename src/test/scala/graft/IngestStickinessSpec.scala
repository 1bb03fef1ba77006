package graft

import org.apache.spark.sql.functions._

/** Hand ground truths for DAU/WAU stickiness (q160) and the PERMISSIVE
  * CSV quarantine contract behind q161.
  */
class IngestStickinessSpec extends SparkSpec {
  import spark.implicits._

  test("stickiness: rolling distinct window counts each user once") {
    // day1: users {1,2}; day2: {2}; day9: {1} (outside day2's window)
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 11:00:00"),
      (2L, "2024-01-01 12:00:00"), // same user+day: must not double-count
      (2L, "2024-01-02 10:00:00"),
      (1L, "2024-01-09 10:00:00"))
      .toDF("user_id", "tss")
      .select(col("user_id"), to_timestamp(col("tss")).as("ts"))
    val got = graft.queries.EventQueries.stickiness(ev).collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("2024-01-01") === ((2L, 2L, 1.0)))
    assert(got("2024-01-02") === ((1L, 2L, 0.5))) // window covers day1 too
    assert(got("2024-01-09") === ((1L, 1L, 1.0))) // day2 is 7 days back: outside
  }

  test("PERMISSIVE csv parse lanes malformed rows without losing good ones") {
    val dir = tmpDir("graft_csvq")
    val f = new java.io.PrintWriter(s"$dir/t.csv", "UTF-8")
    f.println("8,100,12.5")
    f.println("oops,not-a-long,nah")
    f.println("16,200,2.5")
    f.close()
    val raw = spark.read
      .schema("k long, c long, v double, _bad string")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(s"$dir/t.csv")
      .cache()
    val good = raw.filter(col("_bad").isNull)
    val bad = raw.filter(col("_bad").isNotNull)
    assert(good.count() === 2L && bad.count() === 1L)
    assert(good.agg(sum("k")).head().getLong(0) === 24L)
    assert(bad.head().getAs[String]("_bad") === "oops,not-a-long,nah")
  }
  test("markovEval: held-out accuracy against the trained argmax") {
    import spark.implicits._
    // train half (day 1): u1 emits a->b, a->b, a->c  => argmax(a) = b
    // test half (day 28): pairs a->b (correct) and a->c (wrong)
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a"), (1L, "2024-01-01 10:01:00", 2L, "b"),
      (1L, "2024-01-01 10:02:00", 3L, "a"), (1L, "2024-01-01 10:03:00", 4L, "b"),
      (1L, "2024-01-01 10:04:00", 5L, "a"), (1L, "2024-01-01 10:05:00", 6L, "c"),
      (2L, "2024-01-28 10:00:00", 7L, "a"), (2L, "2024-01-28 10:01:00", 8L, "b"),
      (2L, "2024-01-28 10:02:00", 9L, "a"), (2L, "2024-01-28 10:03:00", 10L, "c"))
    val ev = rows.toDF("user_id", "tss", "event_id", "event_type")
      .select(col("user_id"), to_timestamp(col("tss")).as("ts"),
        col("event_id"), col("event_type"))
    val out = graft.queries.EventQueries.markovEval(ev).collect()
    // train pairs: a->b, b->a, a->b, b->a, a->c ⇒ argmax(a)=b, argmax(b)=a.
    // test pairs: a->b (hit), b->a (hit), a->c (miss) ⇒
    //   prev a: 2 pairs / 1 correct; prev b: 1 pair / 1 correct
    val byPrev = out.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byPrev("a") === ((2L, 1L)), out.mkString(";"))
    assert(byPrev("b") === ((1L, 1L)), out.mkString(";"))
  }
}
