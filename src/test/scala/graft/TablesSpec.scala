package graft

/** The events reader must not mutate session state: the legacy
  * nanos-as-long flag travels as a per-read option, so a library user's
  * session conf is exactly what they set (VERDICT r1 "what's wrong" #5).
  *
  * Also the testdata contract canary (VERDICT r6 "next round" #2): the
  * driver regenerates /root/testdata between rounds and has already changed
  * the events `ts` physical unit once (ns → µs). These assertions read the
  * real harness files so a regen that breaks the reader fails `sbt test`
  * with a message naming the file, not silently in the driver's verify run.
  *
  * And the footer-schema reader ([[Tables.parquet]]): it must yield the
  * schema Spark's inference yields, on pyarrow files (no Spark key) and on
  * Spark-written directories, without the inference job.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("events reads ts as timestamp without touching session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)

    val df = Tables.events(spark, sf)
    val n = df.count()
    assert(n > 0)
    assert(df.schema("ts").dataType.typeName == "timestamp")
    // a concrete value must materialize (the scan itself honors the option)
    assert(df.selectExpr("max(ts)").collect().head.get(0) != null)

    // registered SQLConfs report their default after unset; the reader must
    // not have flipped the session-level value to true
    assert(!spark.conf.get(key).toBoolean,
      "events reader leaked nanosAsLong into the session conf")
  }

  test(s"testdata canary: $sf/events.parquet ts values land in 2024") {
    val row = Tables.events(spark, sf)
      .selectExpr("year(min(ts))", "year(max(ts))", "count(*)")
      .collect().head
    val (minYear, maxYear, n) = (row.getInt(0), row.getInt(1), row.getLong(2))
    assert(n > 0, s"$sf/events.parquet: no rows")
    assert(minYear == 2024 && maxYear == 2024,
      s"$sf/events.parquet: ts range [$minYear, $maxYear] is not 2024 — " +
        "the driver regenerated events.parquet with a timestamp layout the " +
        "reader mishandles (check Tables.eventsTsIsNanos and the ÷1000 path)")
  }

  test(s"testdata canary: $sf table schemas match the engine's contract") {
    def typeOf(df: org.apache.spark.sql.DataFrame, col: String): String =
      df.schema(col).dataType.typeName
    val li = Tables.lineitem(spark, sf)
    assert(typeOf(li, "l_quantity") == "long" || typeOf(li, "l_quantity") == "double",
      s"$sf/lineitem.parquet: l_quantity is ${typeOf(li, "l_quantity")}")
    assert(typeOf(li, "l_shipdate") == "date" || typeOf(li, "l_shipdate").startsWith("timestamp"),
      s"$sf/lineitem.parquet: l_shipdate is ${typeOf(li, "l_shipdate")}")
    val docs = Tables.documents(spark, sf)
    assert(typeOf(docs, "text") == "string", s"$sf/documents.parquet: text is ${typeOf(docs, "text")}")
    val emb = Tables.embeddings(spark, sf)
    assert(typeOf(emb, "embedding") == "array",
      s"$sf/embeddings.parquet: embedding is ${typeOf(emb, "embedding")}")
  }

  private val tableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test(s"footer schema equals the inferred schema for every $sf table") {
    tableNames.foreach { t =>
      val p = s"$sf/$t.parquet"
      assert(Tables.parquet(spark, p).schema === spark.read.parquet(p).schema, p)
    }
  }

  test("footer schema equals the inferred schema for Spark-written directories") {
    import org.apache.spark.sql.functions._
    val df = spark.range(20).select(
      col("id"), col("id").cast("int").as("i"), (col("id") / 3).as("d"),
      col("id").cast("string").as("s"), col("id").cast("decimal(12,2)").as("m"),
      timestamp_seconds(col("id")).as("ts"), to_date(timestamp_seconds(col("id"))).as("day"),
      array(col("id"), lit(1L)).as("arr"), map(col("s"), col("d")).as("kv"),
      struct(col("i"), col("s")).as("st"), lit("x").as("not_null"),
      (col("id") % 3).as("k"))
    val root = tmpDir("graft_footer_")
    def check(path: String): Unit =
      assert(Tables.parquet(spark, path).schema === spark.read.parquet(path).schema, path)
    df.repartition(3).write.parquet(s"$root/plain")
    df.limit(0).write.parquet(s"$root/empty")
    df.write.partitionBy("k").parquet(s"$root/hive")
    Seq("plain", "empty", "hive").foreach(d => check(s"$root/$d"))
    assert(Tables.parquet(spark, s"$root/hive").columns.last === "k")
    assert(Tables.parquet(spark, s"$root/empty").count() === 0)
  }

  test("a directory with no data file fails by name") {
    val dir = tmpDir("graft_footer_nodata_")
    Seq("_SUCCESS", ".part-0.parquet.crc").foreach(n => assert(new java.io.File(dir, n).createNewFile()))
    val boom = intercept[IllegalStateException](Tables.parquet(spark, dir))
    assert(boom.getMessage === s"tables: no parquet file under $dir")
  }

  test("table reads and building q01/q177 run no Spark job") {
    assert(jobDescriptionsOf(Tables.lineitem(spark, sf))._2.isEmpty)
    assert(jobDescriptionsOf(Tables.events(spark, sf))._2.isEmpty)
    Seq("q01_scan_sort_limit", "q177_min_cost_supplier").foreach { q =>
      val jobs = jobDescriptionsOf(Registry.byName(q).run(spark, sf))._2
      assert(jobs.isEmpty, s"$q: ${jobs.size} jobs")
    }
  }
}
