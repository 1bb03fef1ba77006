package graft.streaming

import graft.functions.Exact
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming forms of the event analytics in
  * [[graft.queries.EventQueries]] — same window semantics, incremental
  * execution. The reference pipeline is EventBridge-scheduled batch
  * (/root/reference/src/main.py:19-85); its natural streaming upgrade is
  * exactly this: a file/queue source, watermarked event-time windows, and
  * idempotent sinks. `Trigger.AvailableNow` reproduces the reference's
  * "process everything pending, then stop" lifecycle.
  *
  * Scale notes: watermark + windowed aggregation keeps state bounded (old
  * windows are dropped once the watermark passes); the stateful per-user
  * operator uses [[GroupStateTimeout.EventTimeTimeout]] so abandoned keys
  * are evicted rather than accumulating forever — both are required for an
  * unbounded 100 TB/day stream.
  */
object StreamOps {

  /** The events table as a file-source stream with `ts` normalized to a µs
    * TimestampType — same unit sniff as [[graft.Tables.events]] (streams
    * require an explicit schema, so the batch footer read decides which).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    if (graft.Tables.eventsTsIsNanos(spark, sfDir))
      spark.readStream
        .schema(graft.Tables.EventsRawSchemaNanos)
        .option(graft.Tables.NanosAsLongOption, "true")
        .parquet(streamDir(sfDir))
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else
      spark.readStream
        .schema(graft.Tables.EventsSchemaMicros)
        .parquet(streamDir(sfDir))

  /** The parquet file source requires a directory of leaf FILES; the
    * harness ships one file per table, while a table Spark wrote itself
    * is a DIRECTORY (part files + _SUCCESS). Stage a directory of
    * symlinks to the actual part files either way — linking the
    * directory itself (the pre-round-10 behavior) made the file source
    * list ZERO files and a drain over such a table silently processed an
    * empty stream. (A production deployment points the
    * source at the landing directory directly.)
    */
  private def streamDir(sfDir: String): String = {
    import java.nio.file.{Files, LinkOption, Paths, Path}
    import scala.jdk.CollectionConverters._
    val src = Paths.get(s"$sfDir/events.parquet")
    val parts: Seq[(String, Path)] =
      if (Files.isDirectory(src)) {
        val listing = Files.list(src)
        try listing.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
          .zipWithIndex
          .map { case (p, i) => (s"events_$i.parquet", p) }
        finally listing.close()
      } else Seq(("events_0.parquet", src))
    require(parts.nonEmpty, s"no parquet files under $src")
    // keyed by the sanitized full path (a 32-bit hash could collide and
    // silently serve another directory's data)
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft-stream-" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))
    Files.createDirectories(dir)
    // drop links from an earlier shape of the source (incl. the legacy
    // directory-target "events.parquet" link), then (re)link each part
    val existing = Files.list(dir)
    try existing.iterator().asScala.toSeq.foreach { l =>
      if (!parts.exists { case (n, p) =>
            n == l.getFileName.toString &&
              Files.isSymbolicLink(l) && Files.readSymbolicLink(l) == p })
        Files.delete(l)
    } finally existing.close()
    parts.foreach { case (n, p) =>
      val link = dir.resolve(n)
      if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
        Files.createSymbolicLink(link, p)
    }
    dir.toString
  }

  /** Watermarked session windows per user, 30-minute gap (streaming form of
    * q27; Spark merges/extends open sessions incrementally in state).
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value")).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Append-mode drain of [[sessionAgg]] — the PRODUCTION shape for an
    * unbounded stream. Complete mode (q97) rewrites the entire session
    * state into the sink every micro-batch — correct under a one-shot
    * drain, quadratic on a stream that never ends; Append emits each
    * session exactly once, when the watermark passes its end. But a
    * one-shot Append drain holds back every session inside the final
    * watermark horizon (here: the corpus's last 1.5 h of sessions), and
    * those sessions are real. The standard production move is a
    * watermark-advancing sentinel: a single out-of-band event stamped past
    * max(ts) + horizon + gap. The sentinel rides IN the data micro-batch
    * (round 13 — it was previously staged as its own batch, a third
    * ~0.6 s stateful batch + planning gap per drain): the first batch
    * runs at watermark 0 so nothing is late-dropped, the post-batch
    * watermark maxes over ALL batch rows = sentinel − horizon, past every
    * real session's end, and the trailing no-data batch (Spark's
    * `noDataMicroBatches`, on by default) flushes them to the sink. The
    * only row still held back is the sentinel's own open session,
    * excluded by its reserved user id; the emitted row SET is identical
    * to the three-batch staging (sessions key on user, so the reserved
    * user can never merge with a real one) — StreamingSpec pins
    * Append == Complete.
    *
    * `events` is the BATCH frame (user_id, ts, value); max(ts) is read
    * from it to stamp the sentinel — a deployment draining a live topic
    * uses its known out-of-band end-of-stream marker instead.
    *
    * Scale (round 12): the data batch stages as ~1 part file per million
    * rows, written in parallel and drained as ONE micro-batch
    * (`maxFilesPerTrigger` = the written part count — identical watermark
    * progression to the legacy single-file staging), and the state store
    * sizes from the drained row count ([[statePartitionsFor]]) — together
    * these closed q101's super-linear ×100 reading (327 s: a single
    * coalesce(1) writer thread on 10 M rows plus an 8-partition state
    * store on 32 cores).
    * The row count rides the same scan as max(ts).
    */
  def sessionAggAppend(spark: SparkSession, events: DataFrame, scratchDir: String): DataFrame = {
    val data = events.select(
      col("user_id").cast("long").as("user_id"),
      col("ts").cast("timestamp").as("ts"),
      col("value").cast("double").as("value"))
    val head = data.agg(max(col("ts")), count(lit(1))).head()
    require(!head.isNullAt(0),
      "sessionAggAppend: events frame is empty or ts is all-null — no max " +
        "event time to stamp the drain sentinel with")
    val (maxTs, nRows) = (head.getTimestamp(0), head.getLong(1))
    // past max end (= max ts + 30 min gap) + 1 h watermark horizon
    val sentinelTs = new java.sql.Timestamp(
      maxTs.getTime + (90 + 10) * 60 * 1000L)
    val sentinel = data.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(SentinelUser, sentinelTs, 0.0)),
      data.schema)
    val staged = s"$scratchDir/staged"
    val dataParts = stageParts(staged, data.unionByName(sentinel), stagingParts(nRows))
    runAvailableNow(
      spark,
      s2 => sessionAgg(s2.readStream
        .schema(data.schema)
        .option("maxFilesPerTrigger", dataParts.toString)
        .parquet(staged)),
      "s_append_sessions", OutputMode.Append(), statePartitionsFor(nRows))
      .filter(col("user_id") =!= SentinelUser)
  }

  /** Part-file count for staging a drain's data batch: one per million
    * rows, capped at 16 — the gate corpora (≤ 1 M events) keep the
    * single-file legacy layout (and its bit-identical drain), while a
    * ×100 probe corpus stages in parallel instead of through ONE
    * coalesce(1) writer thread (round-12: 10 M rows single-threaded was
    * a large share of q101's 327 s).
    */
  def stagingParts(nRows: Long): Int =
    math.max(1L, math.min(16L, nRows / 1000000L)).toInt

  /** State-store partition count from the drained row count: the fixed 8
    * (right for the gate corpora's ≤ 1 M events over few keys — each
    * store pays per-batch setup/commit I/O) starves a 10 M-event drain,
    * which runs its whole stateful aggregation on 8 of 32 cores. Output
    * is invariant to this knob (state partitioning is internal); only
    * wall time moves.
    */
  def statePartitionsFor(nRows: Long): Int = if (nRows >= 2000000L) 32 else 8

  /** The reserved user id of the drain sentinels: far below any real id,
    * so a sentinel can never share a session or a join key with real data.
    */
  private val SentinelUser = Long.MinValue

  /** Stage `df` (a drain's data plus its sentinels) as `parts` parquet
    * files in the directory `staged`. A drain sets `maxFilesPerTrigger` to
    * the returned count, so the whole frame is ONE micro-batch. The count
    * is of the files WRITTEN, which can undershoot `parts` (empty
    * partitions emit no file).
    */
  private def stageParts(staged: String, df: DataFrame, parts: Int): Int = {
    import scala.jdk.CollectionConverters._
    (if (parts == 1) df.coalesce(1) else df.repartition(parts))
      .write.mode("overwrite").parquet(staged)
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
    val written =
      try listing.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    require(written > 0, s"no parquet in $staged")
    written
  }

  /** Per-user running totals via custom state — the escape hatch for
    * semantics window aggregates can't express. State is one (count, sum)
    * pair per user, updated per micro-batch, evicted on event-time timeout.
    * The sum accumulates in scale-4 DECIMAL, not double: decimal addition
    * is associative, so the published total is independent of arrival
    * order/batching and hash-matches a serial engine's
    * `sum(CAST(value AS DECIMAL(30,4)))` (q81) — the [[graft.functions.Exact]]
    * rule applied to streaming state.
    */
  final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  def userRunningTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotals] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp])
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, BigDecimal), UserTotals](GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[(Long, BigDecimal)]) =>
          if (state.hasTimedOut) {
            val (n, s) = state.getOption.getOrElse((0L, BigDecimal(0)))
            state.remove()
            UserTotals(userId, n, s.toDouble)
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, BigDecimal(0)))
            var n = n0
            var s = s0
            var maxTs = Long.MinValue
            rows.foreach { case (_, v, t) =>
              n += 1
              // BigDecimal(v) is Double.toString-based, then HALF_UP to
              // scale 4 — the same value Spark's double→DECIMAL(30,4)
              // cast produces, so stream and batch agree bit-for-bit
              s = s + BigDecimal(v).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
              if (t.getTime > maxTs) maxTs = t.getTime
            }
            state.update((n, s))
            // evict when the USER has been idle an hour of event time —
            // anchored to the group's own max event time, not the global
            // watermark (which lags a batch and would evict immediately);
            // clamped above the watermark as Spark requires
            state.setTimeoutTimestamp(
              math.max(maxTs + 3600 * 1000L, state.getCurrentWatermarkMs() + 60 * 1000L))
            UserTotals(userId, n, s.toDouble)
          }
      }
  }

  /** Final totals from an Update-mode [[userRunningTotals]] emission log:
    * one row per key per batch, n_events monotone per user WITHIN a state
    * lifetime — so max-struct picks the last emission without a window
    * sort. Callers must guarantee a single state lifetime per user (a
    * one-micro-batch drain: event-time eviction across batches would
    * reset state and make the max a segment total, not the run total).
    */
  def finalUserTotals(emitted: DataFrame): DataFrame =
    emitted.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value"))).as("last"))
      .select(col("user_id"), col("last.n_events").as("n_events"),
        col("last.sum_value").as("sum_value"))

  final case class GapAnomaly(
      user_id: Long, prev_ts: java.sql.Timestamp, ts: java.sql.Timestamp,
      gap_seconds: Long)

  /** Per-user event-gap anomaly stream via `flatMapGroupsWithState` — the
    * MULTI-ROW stateful emission API ([[userRunningTotals]]'s
    * one-row-per-group sibling): each micro-batch sorts the group's new
    * events into event order (ts, then event_id — the q134 tie contract),
    * chains them onto the carried last-event-time state, and emits one
    * row per consecutive pair whose gap is at least `minGapSeconds` — the
    * dormancy/re-engagement detector a window aggregate can't express as
    * a stream (the pair spans micro-batches). Gap arithmetic runs in
    * epoch MICROseconds (the column's physical unit) with truncating
    * integer division, replayed exactly by the oracle's lag window.
    */
  def userGapAnomalies(
      spark: SparkSession, events: DataFrame,
      minGapSeconds: Long = 3600L): Dataset[GapAnomaly] = {
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        col("event_id").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, GapAnomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
          val out = scala.collection.mutable.ListBuffer.empty[GapAnomaly]
          var prevUs = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach { case (_, t, _) =>
            val tUs = us(t)
            if (prevUs != Long.MinValue) {
              val gap = (tUs - prevUs) / 1000000L
              if (gap >= minGapSeconds)
                out += GapAnomaly(userId,
                  java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
                    prevUs / 1000000L, prevUs % 1000000L * 1000L)),
                  t, gap)
            }
            prevUs = tUs
          }
          if (sorted.nonEmpty) state.update(prevUs)
          out.iterator
      }
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks from the preceding hour. Both sides are watermarked and the
    * join condition bounds event-time distance, so each side's join state
    * is evicted once the other side's watermark passes the interval — the
    * only way a stream×stream join has bounded state. (The as-of variant —
    * latest click only — is [[graft.operators.AsOfJoin]] in batch;
    * streaming emits all in-window pairs and lets consumers pick.)
    */
  def clickPurchaseJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select("purchase_id", "user_id", "p_ts", "click_id", "c_ts")
  }

  /** LEFT OUTER stream-stream interval join: [[clickPurchaseJoin]]'s
    * pairing plus every purchase with NO click in the preceding hour,
    * emitted with null click columns — the attribution question batch
    * answers with a left join, kept incremental. An outer result can only
    * be produced once the watermark has passed the purchase's whole match
    * window (before that, a matching click could still arrive), which is
    * exactly what makes the state bounded: each held left row is either
    * matched or null-flushed when the watermark clears it, never retained.
    */
  def clickPurchaseJoinOuter(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
      .select("purchase_id", "user_id", "p_ts", "click_id", "c_ts")
  }

  /** One-shot drain of [[clickPurchaseJoinOuter]] over a bounded corpus.
    * A naive AvailableNow run would hold back every unmatched purchase:
    * null rows flush only when the watermark passes their window, and with
    * all data in one batch the final watermark stops an hour short. So the
    * sessionAggAppend sentinel pattern, on BOTH sides: a far-future click
    * AND purchase under a reserved user (the global watermark is the MIN
    * across both branches, so each needs its own advance) ride IN the data
    * micro-batch (round 13 — previously their own batch; the first batch
    * runs at watermark 0, so folding them in drops one stateful batch +
    * planning gap per drain without changing the emitted set: matches
    * emit in the data batch either way — the reserved user can never pair
    * with a real one — and Spark's trailing no-data batch null-flushes
    * every real unmatched purchase once the sentinel-advanced watermark
    * clears its window). The sentinel purchase itself stays inside the
    * final horizon (held in state, never emitted) and is excluded by its
    * reserved user anyway.
    *
    * `events` is the BATCH frame (event_id, user_id, event_type, ts).
    */
  def clickPurchaseOuterDrain(spark: SparkSession, events: DataFrame,
      scratchDir: String): DataFrame = {
    val data = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      col("ts").cast("timestamp").as("ts"))
    val head = data.agg(max(col("ts")), count(lit(1))).head()
    require(!head.isNullAt(0),
      "clickPurchaseOuterDrain: events frame is empty or ts is all-null — " +
        "no max event time to stamp the drain sentinels with")
    val (maxTs, nRows) = (head.getTimestamp(0), head.getLong(1))
    // past the 1 h join window + the 1 h watermark delay on both sides
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3 * 3600 * 1000L)
    // parallel staging + count-sized state store: see sessionAggAppend
    val sentinels = data.sparkSession.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(-1L, SentinelUser, "click", sentinelTs),
        org.apache.spark.sql.Row(-2L, SentinelUser, "purchase", sentinelTs)),
      data.schema)
    val staged = s"$scratchDir/staged"
    val dataParts = stageParts(staged, data.unionByName(sentinels), stagingParts(nRows))
    runAvailableNow(
      spark,
      s2 => {
        val src = s2.readStream
          .schema(data.schema)
          .option("maxFilesPerTrigger", dataParts.toString)
          .parquet(staged)
        clickPurchaseJoinOuter(
          src.filter(col("event_type") === "purchase"),
          src.filter(col("event_type") === "click"))
      },
      "s_louter_join", OutputMode.Append(), statePartitionsFor(nRows))
      .filter(col("user_id") =!= SentinelUser)
  }

  /** Streaming exact dedup: at-least-once sources re-deliver, so drop
    * duplicate keys arriving within the watermark horizon — state holds
    * one entry per key seen in the horizon and is evicted as event time
    * advances (bounded, unlike a naive global dropDuplicates whose state
    * grows forever on an unbounded stream).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-static enrichment: every streaming row left-joined to a
    * STATIC (bounded) dimension — the streaming twin of the batch E1
    * currency enrichment. Completely stateless: Spark re-plans the static
    * side per micro-batch and broadcasts it; no state store, no
    * watermark, the stream passes through row-for-row (so this composes
    * under any downstream stateful op).
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Run a streaming plan to an in-memory table until all currently
    * available input is processed; returns the result. This is the
    * AvailableNow lifecycle the reference's scheduled Lambda approximates.
    *
    * `statePartitions` > 0 sizes the query's state-store partitioning:
    * streaming state stores are partitioned by `spark.sql.shuffle
    * .partitions` AT QUERY START and each store pays fixed per-batch
    * setup/commit I/O, so stateful queries over few keys size it to key
    * cardinality instead of the session default. The knob is isolated in
    * a CLONED session (`spark.newSession()` — shared SparkContext,
    * private conf): `build` receives the clone so the whole plan binds to
    * it, and concurrent batch queries on the caller's session never see
    * the scoped value. (`build`, not a pre-built frame: the conf that
    * state partitioning reads at start is the PLAN's session, so a frame
    * built on the shared session could not be scoped without mutating it.)
    *
    * `namePrefix` seeds the memory-sink table name; a per-process counter
    * suffix makes concurrent/repeated runs collision-free without
    * nondeterministic UUID naming (sink names are session-global).
    */
  def runAvailableNow(
      spark: SparkSession, build: SparkSession => DataFrame, namePrefix: String,
      mode: OutputMode = OutputMode.Complete(),
      statePartitions: Int = 0,
      finalNoDataBatch: Boolean = true): DataFrame = {
    val name = s"${namePrefix}_${sinkCounter.incrementAndGet()}"
    val scoped = if (statePartitions > 0 || !finalNoDataBatch) {
      val s2 = spark.newSession()
      if (statePartitions > 0)
        s2.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
      // `finalNoDataBatch = false` skips the trailing no-data micro-batch
      // (round 13): for drains whose every output row is emitted while its
      // batch is PROCESSED — inner stream-stream joins, dedup, Update-mode
      // state emissions, Complete-mode rewrites, stateless enrichment —
      // the trailing batch only evicts state the AvailableNow termination
      // is about to discard anyway, at one full state-store load/commit
      // cycle per drain. Drains that emit ON WATERMARK ADVANCE (the
      // Append-mode sentinel flushes: sessionAggAppend,
      // clickPurchaseOuterDrain) MUST keep it — their last rows flush in
      // exactly that batch.
      if (!finalNoDataBatch)
        s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      s2
    } else spark
    val q = build(scoped).writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // pin the result as block-store partitions and drop the sink's temp
    // view — otherwise every run leaves its whole materialized output in
    // driver memory for the session lifetime (checkpoint blocks are freed
    // by the ContextCleaner once the returned frame is unreferenced).
    // When scoped, the view lives (and dies) in the throwaway clone.
    val out = scoped.table(name).localCheckpoint()
    scoped.catalog.dropTempView(name)
    out
  }

  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong()
}
