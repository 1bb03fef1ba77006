package graft

import graft.pipeline.Medallion
import graft.schema.MonzoSchemas
import graft.sources.MonzoSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end medallion semantics vs the reference pipeline
  * (/root/reference/src/main.py:19-85), every run landed through the
  * atomic commit and read back from its committed view: idempotent keyed
  * bronze load (test_load.py semantics: same id twice → one row),
  * first-writer-wins dims, fact projection, gold rollup.
  */
class MedallionSpec extends SparkSpec {

  private def tx(id: String, amount: Long, created: String,
      merchant: String = "merch_1", merchName: String = "Shop A"): String =
    s"""{"id":"$id","description":"d","amount":$amount,"currency":"GBP",
       |"created":"$created","category":"general","notes":"","is_load":false,
       |"local_amount":$amount,"local_currency":"GBP",
       |"counterparty":{"name":"Alex","account_number":11111111,"sort_code":112233},
       |"merchant":{"id":"$merchant","name":"$merchName","category":"shops",
       |"online":false,"atm":false}}""".stripMargin.replaceAll("\n", "")

  private def bronzeBatch(rows: String*) =
    MonzoSource.flattenTransactions(jsonDf(MonzoSchemas.apiTransaction, rows: _*))

  private def ts(t: String) = lit(t).cast("timestamp")

  /** One atomic run with one-row balance/pots snapshots; returns the
    * committed view it published.
    */
  private def land(m: Medallion, batches: (DataFrame, String)*): Medallion = {
    import spark.implicits._
    val bal = Seq((100L, "GBP")).toDF("balance", "currency")
    val pots = Seq(("pot_1", 50L)).toDF("pot_id", "balance")
    m.runAtomicBatches(spark, batches.map { case (df, t) => df -> ts(t) },
      bal, pots, ts(batches.last._2))
    m.committed(spark).get
  }

  test("keyed bronze load is idempotent: same batch twice loads once") {
    val m = Medallion(tmpDir("medallion"))
    val batch = bronzeBatch(
      tx("tx_1", -100, "2025-01-01T00:00:00Z"),
      tx("tx_2", -200, "2025-01-02T00:00:00Z"))
    land(m, batch -> "2025-02-01T00:00:00Z")
    val c = land(m, batch -> "2025-02-01T00:00:00Z")
    assert(spark.read.parquet(c.bronzeTx).count() === 2)
  }

  test("incremental load appends only unseen ids") {
    val m = Medallion(tmpDir("medallion"))
    land(m, bronzeBatch(tx("tx_1", -100, "2025-01-01T00:00:00Z")) -> "2025-02-01T00:00:00Z")
    val c = land(m, bronzeBatch(
      tx("tx_1", -999, "2025-01-01T00:00:00Z"), // replay with changed amount: ignored
      tx("tx_3", -300, "2025-01-05T00:00:00Z")) -> "2025-02-01T00:00:00Z")
    val bronze = spark.read.parquet(c.bronzeTx)
    assert(bronze.count() === 2)
    assert(bronze.filter(col("id") === "tx_1").select("amount").collect()(0).getLong(0) === -100L)
  }

  test("overlapping re-delivery across two batches of one run lands each id once, first clock") {
    val m = Medallion(tmpDir("medallion"))
    // the reference's 30-day re-extraction window in miniature: page 2
    // re-sends tx_2 (with a changed amount) next to an unseen tx_3
    val c = land(m,
      bronzeBatch(
        tx("tx_1", -100, "2025-01-01T00:00:00Z"),
        tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> "2025-02-01T00:00:00Z",
      bronzeBatch(
        tx("tx_2", -222, "2025-01-02T00:00:00Z"),
        tx("tx_3", -300, "2025-01-03T00:00:00Z")) -> "2025-02-02T00:00:00Z")
    val got = spark.read.parquet(c.bronzeTx)
      .select(col("id"), col("amount"), col("date_retrieved").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got === Seq(
      ("tx_1", -100L, "2025-02-01 00:00:00"),
      ("tx_2", -200L, "2025-02-01 00:00:00"),
      ("tx_3", -300L, "2025-02-02 00:00:00")))
    assert(spark.read.parquet(c.silverTx).count() === 3)
  }

  test("null transaction id fails the run by name and publishes nothing") {
    val root = tmpDir("medallion")
    val m = Medallion(root)
    land(m, bronzeBatch(tx("tx_1", -100, "2025-01-01T00:00:00Z")) -> "2025-02-01T00:00:00Z")
    def nullId(amount: Long) =
      tx("x", amount, "2025-01-03T00:00:00Z").replace("\"id\":\"x\"", "\"id\":null")
    val boom = intercept[Exception] {
      land(m, bronzeBatch(tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> "2025-02-02T00:00:00Z",
        bronzeBatch(nullId(-1), nullId(-2)) -> "2025-02-02T00:00:00Z")
    }
    val named = Iterator.iterate(boom: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("bronze: null transaction id")))
    assert(named, s"unnamed failure: $boom")
    assert(graft.pipeline.Versions.latest(spark, root).get._1 === 1L)
    assert(spark.read.parquet(m.committed(spark).get.bronzeTx).count() === 1)
  }

  test("schema drift: a committed bronze column the batch lacks fails the run, publishes nothing") {
    val root = tmpDir("medallion")
    val m = Medallion(root)
    land(m, bronzeBatch(tx("tx_1", -100, "2025-01-01T00:00:00Z"))
      .withColumn("extra", lit("x")) -> "2025-02-01T00:00:00Z")
    intercept[org.apache.spark.sql.AnalysisException] {
      land(m, bronzeBatch(tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> "2025-02-02T00:00:00Z")
    }
    assert(graft.pipeline.Versions.latest(spark, root).get._1 === 1L)
    val bronze = spark.read.parquet(m.committed(spark).get.bronzeTx)
    assert(bronze.columns.contains("extra"))
    assert(bronze.count() === 1)
  }

  test("a committed table with no part file fails the run by name, publishes nothing") {
    val root = tmpDir("medallion")
    val m = Medallion(root)
    val c1 = land(m, bronzeBatch(tx("tx_1", -100, "2025-01-01T00:00:00Z")) -> "2025-02-01T00:00:00Z")
    new java.io.File(c1.bronzeTx).listFiles()
      .filter(_.getName.startsWith("part-")).foreach(f => assert(f.delete()))
    val boom = intercept[IllegalStateException] {
      land(m, bronzeBatch(tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> "2025-02-02T00:00:00Z")
    }
    assert(boom.getMessage === s"medallion: no parquet file under ${c1.bronzeTx}")
    assert(graft.pipeline.Versions.latest(spark, root).get._1 === 1L)
  }

  test("one run is at most 11 Spark jobs, each labelled medallion:, fresh or committed root") {
    val m = Medallion(tmpDir("medallion"))
    def run(clock: String) = jobDescriptionsOf(land(m,
      bronzeBatch(
        tx("tx_1", -100, "2025-01-01T00:00:00Z"),
        tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> clock,
      bronzeBatch(tx("tx_3", -300, "2025-01-03T00:00:00Z")) -> clock))._2
    for ((jobs, root) <- Seq(run("2025-02-01T00:00:00Z") -> "fresh",
        run("2025-02-02T00:00:00Z") -> "committed")) {
      assert(jobs.size <= 11, s"$root root: ${jobs.size} jobs: ${jobs.mkString(", ")}")
      assert(jobs.forall(_.startsWith("medallion:")), s"$root root: ${jobs.mkString(", ")}")
    }
  }

  test("silver: first-writer-wins merchant dim + fact keeps FKs, drops denormalized cols") {
    val m = Medallion(tmpDir("medallion"))
    val c = land(m, bronzeBatch(
      tx("tx_1", -100, "2025-01-01T00:00:00Z", merchName = "First Name"),
      tx("tx_2", -200, "2025-01-02T00:00:00Z", merchName = "Changed Name")) ->
      "2025-02-01T00:00:00Z")

    val merchants = spark.read.parquet(c.silverMerchants)
    assert(merchants.count() === 1)
    assert(merchants.select("name").collect()(0).getString(0) === "First Name")

    val cps = spark.read.parquet(c.silverCounterparties)
    assert(cps.count() === 1)
    assert(cps.columns.toSet === Set("account_num", "sort_code", "name"))

    val fact = spark.read.parquet(c.silverTx)
    assert(fact.count() === 2)
    assert(!fact.columns.contains("merchant_name"))
    assert(fact.columns.contains("merchant_id"))
    // T4: INTEGER→REAL widening, no unit conversion
    assert(fact.schema("amount").dataType.typeName === "double")
    assert(fact.filter(col("id") === "tx_1").select("amount").collect()(0).getDouble(0) === -100.0)
  }

  test("full run populates gold monthly spending from negative amounts") {
    val m = Medallion(tmpDir("medallion"))
    import spark.implicits._
    val balance = Seq((1000L, 1000L, "GBP", 0L))
      .toDF("balance", "total_balance", "currency", "spend_today")
    val pots = spark.read.json(spark.createDataset(Seq(
      """{"pots":[{"id":"pot_1","balance":1}]}""")))
    val batch = bronzeBatch(
      tx("tx_1", -100, "2025-01-10T00:00:00Z"),
      tx("tx_2", -300, "2025-01-20T00:00:00Z"),
      tx("tx_3", 5000, "2025-01-25T00:00:00Z"), // income: excluded from spend
      tx("tx_4", -50, "2025-02-01T00:00:00Z"))
    def run(clock: String): Medallion = {
      m.runAtomicBatches(spark, Seq(batch -> ts(clock)), MonzoSource.shapeBalance(balance),
        MonzoSource.explodePots(pots), ts(clock))
      m.committed(spark).get
    }
    val c1 = run("2025-03-01T00:00:00Z")

    val gold = spark.read.parquet(c1.goldMonthly).orderBy("year", "month").collect()
    assert(gold.length === 2)
    assert(gold(0).getAs[Long]("year") === 2025L || gold(0).getAs[Int]("year") === 2025)
    assert(gold(0).getAs[Double]("total_spend") === 400.0)
    assert(gold(0).getAs[Double]("avg_spend") === 200.0)
    assert(gold(1).getAs[Double]("total_spend") === 50.0)
    // one snapshot per commit
    assert(spark.read.parquet(c1.bronzeBalance).count() === 1)
    assert(spark.read.parquet(c1.bronzePots).count() === 1)
    // re-run is idempotent for bronze/silver; snapshots append (by design)
    val c2 = run("2025-03-02T00:00:00Z")
    assert(spark.read.parquet(c2.bronzeTx).count() === 4)
    assert(spark.read.parquet(c2.silverTx).count() === 4)
    assert(spark.read.parquet(c2.bronzeBalance).count() === 2)
  }

  test("Scd2.buildScd2: runs, null attrs, re-emerging values, open tail") {
    import spark.implicits._
    val snaps = Seq(
      ("A", 2020L, Some("x")), ("A", 2021L, Some("x")), ("A", 2022L, Some("y")),
      ("A", 2023L, Some("x")),
      ("B", 2020L, None), ("B", 2021L, None), ("B", 2022L, Some("z")))
      .toDF("k", "yr", "attr")
    val got = graft.operators.Scd2
      .buildScd2(snaps, Seq("k"), "yr", Seq("attr"))
      .select("k", "attr", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3))
    val want = Seq(
      ("A", Some("x"), 2020L, 2022L, false),
      ("A", Some("y"), 2022L, 2023L, false),
      ("A", Some("x"), 2023L, -1L, true),
      ("B", None, 2020L, 2022L, false),
      ("B", Some("z"), 2022L, -1L, true))
    assert(got.toSeq === want)
  }

  test("Cdc.applyChanges: upsert/delete semantics incl. absent keys") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "b2", "U"),   // update existing
      (3L, "c", "D"),    // delete existing
      (4L, "d", "I"),    // insert new
      (5L, "e2", "U"),   // update absent -> upserts
      (6L, "x", "D"))    // delete absent -> no-op
      .toDF("k", "v", "op")
    val got = graft.operators.Cdc.applyChanges(snap, changes, Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a"), (2L, "b2"), (4L, "d"), (5L, "e2")))
  }

  test("Cdc.diff: insert/delete/update classification, null-safe compare, unchanged dropped") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, Some("a")),  // unchanged -> dropped
      (2L, Some("b")),  // value change -> update
      (3L, Some("c")),  // only in old -> delete
      (5L, None),       // null -> value: update
      (6L, None))       // null -> null: unchanged, dropped
      .toDF("k", "v")
    val newSnap = Seq(
      (1L, Some("a")),
      (2L, Some("b2")),
      (4L, Some("d")),  // only in new -> insert
      (5L, Some("e")),
      (6L, None))
      .toDF("k", "v")
    val got = graft.operators.Cdc.diff(oldSnap, newSnap, Seq("k"), Seq("v"))
      .select("k", "change", "old_v", "new_v")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).sortBy(_._1).toSeq
    assert(got === Seq(
      (2L, "update", Some("b"), Some("b2")),
      (3L, "delete", Some("c"), None),
      (4L, "insert", None, Some("d")),
      (5L, "update", None, Some("e"))))
  }

  test("atomic commit: crash before _SUCCESS leaves readers on the old version") {
    import spark.implicits._
    val root = tmpDir("medallion_atomic")
    val m = Medallion(root)
    val bal = Seq((100L, "GBP")).toDF("balance", "currency")
    val pots = Seq(("pot_1", 50L)).toDF("pot_id", "balance")
    val clock1 = lit("2025-02-01T00:00:00Z").cast("timestamp")
    val clock2 = lit("2025-02-02T00:00:00Z").cast("timestamp")

    val v1 = m.runAtomicBatches(spark,
      Seq(bronzeBatch(tx("tx_1", -100, "2025-01-01T00:00:00Z")) -> clock1), bal, pots, clock1)
    assert(v1 === 1L)
    val c1 = m.committed(spark).get
    assert(spark.read.parquet(c1.bronzeTx).count() === 1)
    assert(spark.read.parquet(c1.silverTx).count() === 1)
    val goldBefore = spark.read.parquet(c1.goldMonthly).collect().map(_.toString).sorted

    // inject a crash in the widest window: bronze, silver and gold all
    // staged under v2, neither _SUCCESS nor the _LATEST flip written
    val boom = intercept[RuntimeException] {
      m.runAtomicBatches(spark,
        Seq(bronzeBatch(tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> clock2), bal, pots, clock2,
        afterSilver = () => throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage === "injected crash")
    // readers: still version 1, every layer the OLD consistent set —
    // bronze has NOT advanced ahead of silver/gold
    assert(graft.pipeline.Versions.latest(spark, root).get._1 === 1L)
    val cAfter = m.committed(spark).get
    assert(spark.read.parquet(cAfter.bronzeTx).count() === 1)
    assert(spark.read.parquet(cAfter.silverTx).count() === 1)
    assert(spark.read.parquet(cAfter.goldMonthly).collect().map(_.toString).sorted
      === goldBefore)
    // v2 is not marked complete, so the recovery scan skips it too: with
    // the pointer cache gone, readers still resolve to v1
    assert(!new java.io.File(s"$root/v2/_SUCCESS").exists())
    assert(new java.io.File(s"$root/v2/gold/monthly_spending").isDirectory)
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_LATEST"))
    assert(graft.pipeline.Versions.latest(spark, root).get._1 === 1L)

    // recovery: rerunning the batch stages v2 again and flips all layers at once
    val v2 = m.runAtomicBatches(spark,
      Seq(bronzeBatch(tx("tx_2", -200, "2025-01-02T00:00:00Z")) -> clock2), bal, pots, clock2)
    assert(v2 === 2L)
    val c2 = m.committed(spark).get
    assert(spark.read.parquet(c2.bronzeTx).count() === 2)
    assert(spark.read.parquet(c2.silverTx).count() === 2)
    assert(spark.read.parquet(c2.bronzeBalance).count() === 2) // one snapshot per commit
    assert(spark.read.parquet(c2.bronzePots).count() === 2)
  }

  test("incremental gold state fold == full rebuild, for any batch split") {
    val fact = Tables.orders(spark, "/root/testdata/sf0.001")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val full = graft.operators.GoldAgg
      .monthlySpend(fact, "o_orderdate", "o_totalprice")
      .collect().map(_.toString).sorted
    for (parts <- Seq(2, 5)) {
      val states = (0 until parts).map(r =>
        graft.operators.GoldAgg.monthlySpendState(
          fact.filter(col("o_orderkey") % parts === r), "o_orderdate", "o_totalprice"))
      val merged = states.reduce(graft.operators.GoldAgg.mergeMonthlyState(_, _))
      val inc = graft.operators.GoldAgg.finishMonthly(merged)
        .collect().map(_.toString).sorted
      assert(inc === full, s"incremental diverged from full at $parts batches")
    }
  }
}
