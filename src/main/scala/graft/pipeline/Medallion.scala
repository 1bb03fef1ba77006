package graft.pipeline

import graft.operators.{Dedup, GoldAgg, Normalize}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bronze → silver → gold medallion orchestration over Parquet directories
  * (SURVEY.md §3; reference lifecycle /root/reference/src/main.py:19-85).
  *
  * Reference semantics reproduced:
  *  - L1 insert-if-absent keyed bronze load (load.py:25-128) → one keyed
  *    first-writer window over the committed bronze and the incoming
  *    batches; a null id is a named error, not a row.
  *  - L2/L3 append-only snapshots (load.py:130-235) → committed history
  *    plus this run's snapshot.
  *  - L4 audit stamp (load.py:47,140,174) → injectable `clock` column so
  *    runs are reproducible in tests (SURVEY.md §7.4: nondeterministic
  *    current_timestamp would break differential comparison).
  *  - T1/T2 dimension extraction with first-writer-wins on PK conflicts
  *    (transform_bronze_to_silver.sql:1-35, INSERT OR IGNORE).
  *  - T3/T4 fact projection + INTEGER→REAL widening
  *    (transform_bronze_to_silver.sql:37-59, create_silver_layer.sql:4).
  *  - G1 gold monthly rollup (create_gold_layer.sql:1-6 — declared but never
  *    populated in the reference; we populate it).
  *
  * The reference's SQLite-file-through-S3 round trip (main.py:40-49,67-69)
  * disappears: each layer is a Parquet directory addressed directly (s3a://
  * in production). Its single end-of-run commit becomes one `_LATEST`
  * pointer flip over a staged version of all seven tables, written in two
  * concurrent waves — {bronze, balance, pots}, then {counterparties,
  * merchants, fact, gold} — with the crash seam after both
  * ([[runAtomicBatches]], the only writer). At warehouse scale the same
  * plans run unchanged over a transactional table format; nothing here
  * loops on the driver.
  */
final case class Medallion(root: String) {
  val bronzeTx = s"$root/bronze/transactions"
  val bronzeBalance = s"$root/bronze/balance"
  val bronzePots = s"$root/bronze/pots"
  val silverTx = s"$root/silver/transactions"
  val silverCounterparties = s"$root/silver/counterparties"
  val silverMerchants = s"$root/silver/merchants"
  val goldMonthly = s"$root/gold/monthly_spending"

  /** T1-T4 + G1 — staged bronze → silver and gold, as one wave of four
    * concurrent writes. Deterministic first-writer order: earliest
    * `date_retrieved`, then `created`, then PK (SQLite's pick among
    * duplicates is scan order; we fix a total order, SURVEY.md §7.4).
    */
  private def stageSilverAndGold(spark: SparkSession): Unit = {
    val bronze = graft.Tables.parquet(spark, bronzeTx, "medallion")
    val order = Seq(col("date_retrieved").asc, col("created").asc_nulls_last, col("id").asc)

    // T1 — counterparties dim, composite key (account_num, sort_code).
    val counterparties = Normalize.firstWriterDim(
        bronze,
        keyCols = Seq("counterparty_account_num", "counterparty_sort_code"),
        attrCols = Seq("counterparty_name"),
        order = order)
      .select(
        col("counterparty_account_num").as("account_num"),
        col("counterparty_sort_code").as("sort_code"),
        col("counterparty_name").as("name"))

    // T2 — merchants dim, key id, first-writer-wins on attribute conflicts.
    val merchantCols = bronze.columns.filter(_.startsWith("merchant_")).toSeq
    val merchants = Normalize.firstWriterDim(
        bronze,
        keyCols = Seq("merchant_id"),
        attrCols = merchantCols.filterNot(_ == "merchant_id"),
        order = order)
      .select(col("merchant_id").as("id") +:
        merchantCols.filterNot(_ == "merchant_id")
          .map(c => col(c).as(c.stripPrefix("merchant_"))): _*)

    // T3+T4 — fact projection: drop denormalized merchant/counterparty
    // attribute columns, keep FKs, widen amount to double, stamp inserted_at.
    // No per-id dedup here (round 13, guide §2.4 — a distinct on already-
    // unique data is a wasted exchange): a staged bronze holds every id
    // exactly once and no null id — runAtomicBatches rejects null ids and
    // lands one keyed first-writer window — so the fact is a pure
    // projection that fuses onto the bronze scan.
    val fact = bronze
      .select(
        col("id"), col("description"),
        col("amount").cast("double").as("amount"),
        col("currency"), col("created"), col("category"), col("notes"),
        col("is_load"), col("settled"),
        col("local_amount"), col("local_currency"),
        col("counterparty_account_num"), col("counterparty_sort_code"),
        col("merchant_id"),
        // reference silver_transactions carries only inserted_at
        // (create_silver_layer.sql:1-19)
        col("date_retrieved").as("inserted_at"))

    // G1 — gold monthly spending mart (spend = negative amounts, stored as
    // positive totals; reference leaves the populate unwritten, shape is
    // create_gold_layer.sql:1-6: month, year, total_spend, avg_spend).
    // Aggregated from the fact plan, so gold is written in this wave
    // beside silver instead of waiting for it to land.
    val gold = GoldAgg.monthlySpend(
        fact.filter(col("amount") < 0).withColumn("spend", -col("amount")),
        dateCol = "created", amountCol = "spend",
        yearName = "year", monthName = "month")
      .drop("n_rows")

    // four independent outputs of one bronze read: submit the writes
    // concurrently (guide §2.6 — the scheduler back-fills each job's tail
    // with the next job's tasks; sequential submission left the cluster
    // idle across the write barriers)
    Medallion.inParallelNamed(Seq(
      ("medallion: silver counterparties",
        () => counterparties.write.mode(SaveMode.Overwrite).parquet(silverCounterparties)),
      ("medallion: silver merchants",
        () => merchants.write.mode(SaveMode.Overwrite).parquet(silverMerchants)),
      ("medallion: silver fact",
        () => fact.write.mode(SaveMode.Overwrite).parquet(silverTx)),
      ("medallion: gold monthly",
        () => gold.write.mode(SaveMode.Overwrite).parquet(goldMonthly))))
  }

  /** The committed medallion view: a Medallion rooted at the current
    * version directory, so `.silverTx` etc. address the last ATOMICALLY
    * published run. Empty until the first [[runAtomicBatches]] commit.
    */
  def committed(spark: SparkSession): Option[Medallion] =
    Versions.latest(spark, root).map { case (_, dir) => Medallion(dir) }

  /** Entry-point-1 shape (main.py:19-85) with the reference's
    * single-commit semantics (/root/reference/src/load/load.py:271 — one
    * `commit()` after every layer is written, all API pages loaded
    * before it). All seven tables are staged under `root/v<N>` in two
    * concurrent waves, computed against the PREVIOUS committed version:
    *  1. bronze (every batch folded in with its own audit clock) and the
    *     balance and pots snapshots;
    *  2. silver's two dims and fact, and gold, all from the staged bronze.
    * Then `_SUCCESS` and ONE `_LATEST` pointer flip ([[Versions.publish]])
    * — bronze, silver and gold appear together or not at all. Every Spark
    * job the call runs is one of these writes: committed and staged tables
    * are read with their footer schema ([[graft.Tables.parquet]]), never
    * inferred. A crash at any point (injectable via `afterSilver`, after
    * both waves and before `_SUCCESS`: the widest window) leaves readers
    * on the old consistent version; rerunning the batches stages the same
    * version again and commits.
    * A null transaction id in any batch fails the stage-bronze job with
    * `bronze: null transaction id` before anything is published.
    *
    * Returns the committed version number.
    */
  def runAtomicBatches(spark: SparkSession, batches: Seq[(DataFrame, Column)],
      balance: DataFrame, pots: DataFrame, snapClock: Column,
      afterSilver: () => Unit = () => ()): Long = {
    require(batches.nonEmpty, "at least one transaction batch")
    val cur = Versions.latest(spark, root)
    val next = cur.map(_._1 + 1).getOrElse(1L)
    val stage = Medallion(s"$root/v$next")
    val curM = cur.map { case (_, dir) => Medallion(dir) }

    // L1 against the COMMITTED bronze, as ONE first-writer pass (round 13,
    // guide §2.4): the iterative fold ran an anti-join + window PER BATCH
    // with the staged frame's lineage nesting every earlier batch. Keyed
    // first-writer-wins over (batch index, created, id) — committed rows
    // as batch 0 — picks exactly the same survivor per id: the committed
    // row if the key exists (ids are unique in a committed bronze, which
    // this same pass enforces), else the earliest batch's in-batch winner.
    // One window, one exchange, regardless of batch count. A null id would
    // partition as one key and collapse to one row, so each incoming row's
    // id passes a raise_error guard evaluated inside this same job.
    val nullId = raise_error(lit("bronze: null transaction id"))
    val committed = curM.map(m => graft.Tables.parquet(spark, m.bronzeTx, "medallion"))
      .getOrElse(batches.head._1.withColumn("date_retrieved", batches.head._2).limit(0))
    val bronze = Dedup.firstWriterWins(
      batches.zipWithIndex.foldLeft(committed.withColumn("__batch", lit(0))) {
        case (acc, ((df, clk), i)) =>
          acc.unionByName(df.withColumn("id", coalesce(col("id"), nullId))
            .withColumn("date_retrieved", clk)
            .withColumn("__batch", lit(i + 1)))
      },
      Seq("id"),
      Seq(col("__batch").asc, col("created").asc_nulls_last, col("id").asc))
      .drop("__batch")
    // L2/L3 snapshots: committed history ∪ this run's stamped snapshot
    def stageSnapshot(df: DataFrame, prev: Option[String], path: String): Unit = {
      val snap = df.withColumn("date_retrieved", snapClock)
      val hist = prev.map(graft.Tables.parquet(spark, _, "medallion")).getOrElse(snap.limit(0))
      hist.unionByName(snap).write.mode(SaveMode.Overwrite).parquet(path)
    }
    // bronze + the two snapshots touch disjoint staged paths and disjoint
    // inputs — stage them concurrently (guide §2.6); the silver wave then
    // reads the landed bronze
    Medallion.inParallelNamed(Seq(
      ("medallion: stage bronze",
        () => bronze.write.mode(SaveMode.Overwrite).parquet(stage.bronzeTx)),
      ("medallion: stage balance snapshot",
        () => stageSnapshot(balance, curM.map(_.bronzeBalance), stage.bronzeBalance)),
      ("medallion: stage pots snapshot",
        () => stageSnapshot(pots, curM.map(_.bronzePots), stage.bronzePots))))

    stage.stageSilverAndGold(spark)
    afterSilver() // crash-injection seam: every table staged, no _SUCCESS yet

    Versions.markComplete(spark, root, next)
    Versions.publish(spark, root, next)
    next
  }
}

object Medallion {
  /** Run independent write jobs concurrently from a small pool (guide
    * §2.6): Spark's FIFO scheduler lets a later job's tasks back-fill
    * executors freed by an earlier job's straggler tail, so N independent
    * layer writes cost ~max instead of ~sum. Rethrows the first failure
    * after all tasks settle (no partially-abandoned staging writes).
    * Each task carries its own job description (guide §1.5): job
    * descriptions are thread-local, so each concurrent write is labelled
    * correctly in the UI / ProbeQueryJobs.
    */
  private[pipeline] def inParallelNamed(tasks: Seq[(String, () => Unit)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futs = tasks.map { case (name, t) =>
        pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = {
          val sc = org.apache.spark.sql.SparkSession.active.sparkContext
          sc.setJobDescription(name)
          try t() finally sc.setJobDescription(null)
        } })
      }
      var failure: Option[Throwable] = None
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (failure.isEmpty) failure = Some(e.getCause)
        }
      }
      failure.foreach(throw _)
    } finally pool.shutdown()
  }
}
