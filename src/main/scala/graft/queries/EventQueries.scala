package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.Exact
import org.apache.spark.sql.functions._

/** Time-windowed / approximate analytics over the `events` stream table
  * (driver north star §2b: the reference is batch-only, so these are the
  * batch-mode forms of the Structured Streaming operators in
  * [[graft.streaming.StreamOps]] — identical window semantics, runnable on
  * a static DataFrame).
  *
  * All event timestamps go through [[Tables.events]] (nanos → microsecond
  * truncation); every oracle casts `ts` to µs (`CAST(ts AS TIMESTAMP)`)
  * so both engines bucket the same instants.
  *
  * Scale notes: tumbling/sliding windows are plain hash aggregates on
  * (window, key) — one shuffle, partial aggregation map-side. The sliding
  * window multiplies rows by windowsPerSlide (4× here) *before* the partial
  * agg, which is still the right trade at 100 TB because the expansion
  * happens inside the map stage and combines immediately. Session windows
  * shuffle once on the user key and sort within partitions (Spark's
  * MergingSessions plan) — no O(n²) anywhere.
  */
object EventQueries {

  /** Tumbling 1-hour window per event_type: count + exact sum + mean of
    * `value`. Spark: `window($"ts", "1 hour")` (epoch-aligned, same as
    * DuckDB `date_trunc`).
    */
  private val q25 = GraftQuery(
    "q25_window_tumbling_agg",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Exact.sumD(col("value")).as("sum_value"),
          Exact.avgD(col("value")).as("avg_value"))
        .select(
          col("window.start").as("ws"), col("event_type"),
          col("n_events"), col("sum_value"), col("avg_value"))
        .orderBy("ws", "event_type"),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / count(*) AS avg_value
            FROM events
            GROUP BY 1, 2 ORDER BY ws, event_type"""))

  /** Sliding window: 1-hour length, 15-minute slide — each event lands in 4
    * overlapping windows. Spark expands then partially aggregates map-side;
    * the oracle reproduces the expansion with a 4-row generate_series cross
    * join against the 15-minute bucket.
    */
  private val q26 = GraftQuery(
    "q26_window_sliding_counts",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value")).as("sum_value"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
          col("n_events"), col("sum_value"))
        .orderBy("ws"),
    Some("""WITH expanded AS (
              SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                       - k * INTERVAL '15 minutes' AS ws,
                     value
              FROM events
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
            SELECT ws, ws + INTERVAL '1 hour' AS we, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
            FROM expanded GROUP BY ws ORDER BY ws"""))

  /** Session windows per user with a 30-minute inactivity gap: Spark's
    * `session_window` (start = first ts, end = last ts + gap; a new event
    * starts a new session iff it is ≥ gap after the previous one). The
    * oracle is the classic gaps-and-islands rewrite: lag-diff → new-session
    * flag → running sum as session id → group.
    */
  private val q27 = GraftQuery(
    "q27_session_window",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), Exact.sumD(col("value")).as("sum_value"))
        .select(
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
    Some("""WITH t AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                     CASE WHEN CAST(ts AS TIMESTAMP)
                            - lag(CAST(ts AS TIMESTAMP))
                                OVER (PARTITION BY user_id ORDER BY ts)
                            >= INTERVAL '30 minutes'
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events),
            s AS (
              SELECT *, sum(new_session)
                          OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
              FROM t)
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_start"""))

  /** Exact distinct-user count per (hour, event_type) — the expensive exact
    * form (count(DISTINCT) = two-phase aggregate) that
    * [[q29]]'s HLL sketch replaces at scale.
    */
  private val q28 = GraftQuery(
    "q28_distinct_users_exact",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("window.start").as("ws"), col("event_type"), col("n_users"))
        .orderBy("ws", "event_type"),
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws, event_type,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2 ORDER BY ws, event_type"""))

  /** Approximate aggregates per event_type: HLL++ distinct users and
    * approximate value quantiles — the single-pass mergeable-sketch path
    * that replaces exact distinct/percentile at 100 TB.
    *
    * Oracle-gated via the landed-estimate pattern (the q21/q24/q32 trick):
    * sketch outputs are engine-specific, so the ESTIMATES are landed to
    * parquet and both engines replay the same ERROR-BOUND inequalities
    * over them against independently recomputed exact answers —
    * `users_within` asserts |HLL++ − exact|/exact ≤ 0.10 (rsd 0.05, so 2σ;
    * deterministic for fixed data — EventQueriesSpec pins it at sf0.001),
    * and each `pXX_within` asserts the percentile_approx element lies
    * between the order statistics bracketing the target rank by the
    * sketch's rank-error allowance (±(⌈4n/accuracy⌉+2) ranks; Spark's
    * GK-summary guarantee is ±n/accuracy — the headroom absorbs the
    * query-vs-build epsilon split and rank-definition off-by-ones).
    * Exact comparators are bit-identical cross-engine: `count(DISTINCT)`
    * is integer-exact and the bracket values are untouched parquet
    * doubles selected by identical integer ranks — so the booleans are
    * replayed, not re-derived, and hash-match exactly.
    *
    * Scale note: the exact comparators (countDistinct + one value-sorted
    * window per group) are VERIFICATION-side; the graded operator — the
    * sketch pass — stays one shuffle with map-side partials.
    */
  private def q29 = GraftQuery(
    "q29_approx_aggs",
    (s, dir) => {
      val path = Landed.land("q29_approx_aggs", dir)
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)),
            lit(10000)).as("q"))
        .select(
          col("event_type"), col("approx_users"),
          element_at(col("q"), 1).as("p50"),
          element_at(col("q"), 2).as("p95"),
          element_at(col("q"), 3).as("p99"))
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      val est = Tables.parquet(s, path)
      val exact = Tables.events(s, dir).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val brackets = OrderStats.rankBrackets(
        Tables.events(s, dir), "event_type", "value", Seq(0.5, 0.95, 0.99),
        accuracy = 10000)
      est
        .join(exact, "event_type")
        .join(brackets, "event_type")
        .select(
          col("event_type"), col("approx_users"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double")
            / col("exact_users") <= lit(0.10)).as("users_within"),
          col("p50"), col("p95"), col("p99"),
          (col("p50") >= col("lo_1") && col("p50") <= col("hi_1")).as("p50_within"),
          (col("p95") >= col("lo_2") && col("p95") <= col("hi_2")).as("p95_within"),
          (col("p99") >= col("lo_3") && col("p99") <= col("hi_3")).as("p99_within"))
        .orderBy("event_type")
    },
    Some(s"""WITH l AS (SELECT * FROM read_parquet('${Landed.oraclePath("q29_approx_aggs")}/*.parquet')),
            v AS (SELECT event_type, CAST(value AS DOUBLE) AS value,
                         row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS r,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM events WHERE value IS NOT NULL),
            b AS (SELECT event_type,
                         ${OrderStats.bracketSelectSql(Seq(0.5, 0.95, 0.99), 10000)}
                  FROM v GROUP BY event_type),
            x AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                  FROM events GROUP BY 1)
            SELECT l.event_type, l.approx_users, x.exact_users,
                   CAST(abs(l.approx_users - x.exact_users) AS DOUBLE)
                     / x.exact_users <= 0.10 AS users_within,
                   l.p50, l.p95, l.p99,
                   l.p50 >= b.lo_1 AND l.p50 <= b.hi_1 AS p50_within,
                   l.p95 >= b.lo_2 AND l.p95 <= b.hi_2 AS p95_within,
                   l.p99 >= b.lo_3 AND l.p99 <= b.hi_3 AS p99_within
            FROM l JOIN x USING (event_type) JOIN b USING (event_type)
            ORDER BY event_type"""))

  /** The stream-stream interval join ([[graft.streaming.StreamOps
    * .clickPurchaseJoin]]) run for real — file-source stream, watermarks,
    * Append mode, AvailableNow lifecycle — and hash-compared against a
    * DuckDB range-join oracle. All input arrives in the first micro-batch
    * (single file), so no row can be watermark-evicted before matching and
    * the streaming answer equals the batch interval join exactly.
    */
  private val q46 = GraftQuery(
    "q46_stream_interval_join",
    (s, dir) => {
      import graft.streaming.StreamOps
      // join keys here are a few thousand users: 8 state partitions
      // (see runAvailableNow's statePartitions note); at real stream
      // scale the same knob is sized to key cardinality instead
      val out = StreamOps.runAvailableNow(
        s,
        s2 => {
          val src = StreamOps.eventsStream(s2, dir)
          StreamOps.clickPurchaseJoin(
            src.filter(col("event_type") === "purchase"),
            src.filter(col("event_type") === "click"))
        },
        "q46_sink", org.apache.spark.sql.streaming.OutputMode.Append(),
        // inner-join matches emit while their batch is processed; no
        // watermark-advance flush needed (see runAvailableNow)
        statePartitions = 8, finalNoDataBatch = false)
      out.orderBy("purchase_id", "click_id")
    },
    Some("""SELECT p.event_id AS purchase_id, p.user_id,
                   CAST(p.ts AS TIMESTAMP) AS p_ts,
                   c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS c_ts
            FROM events p JOIN events c
              ON p.event_type = 'purchase' AND c.event_type = 'click'
             AND p.user_id = c.user_id
             AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
             AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
            ORDER BY purchase_id, click_id"""))

  /** Streaming exact dedup under the gate: at-least-once delivery dropped
    * to exactly-once per key via `dropDuplicatesWithinWatermark`
    * ([[graft.streaming.StreamOps.dedupStream]]). The output projects to
    * the key columns only, so whichever physical row wins the race is
    * byte-identical — the AvailableNow run (one file ⇒ one microbatch ⇒ no
    * mid-run eviction) then equals DISTINCT, which DuckDB verifies.
    * Multi-batch watermark eviction behavior is covered in StreamingSpec.
    */
  private val q56 = GraftQuery(
    "q56_stream_dedup",
    (s, dir) => {
      import graft.streaming.StreamOps
      val out = StreamOps.runAvailableNow(
        s,
        s2 => StreamOps.dedupStream(
          StreamOps.eventsStream(s2, dir).select("user_id", "event_type", "ts"),
          Seq("user_id", "event_type"), "1 hour")
          .select("user_id", "event_type"),
        "q56_sink", org.apache.spark.sql.streaming.OutputMode.Append(),
        // first-seen rows emit in-batch; the dedup state needs no flush
        statePartitions = 8, finalNoDataBatch = false)
      out.orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""))

  /** Stream-static enrichment under the gate
    * ([[graft.streaming.StreamOps.enrichStream]]): the full event stream
    * left-joined per micro-batch to a broadcast literal dimension
    * (event-type weights — the q45 literal-rates pattern), drained with
    * AvailableNow and hash-compared against DuckDB's batch join. No state
    * store and no watermark: the one streaming execution mode not yet
    * under the oracle (windows, joins, dedup, mapGroupsWithState, CDC
    * sink all are).
    */
  private val q88 = GraftQuery(
    "q88_stream_static_enrich",
    (s, dir) => {
      import graft.streaming.StreamOps
      val out = StreamOps.runAvailableNow(
        s,
        s2 => {
          import s2.implicits._
          val dim = Seq(
            ("view", 0.0), ("click", 0.1), ("purchase", 1.0),
            ("signup", 0.5), ("error", -1.0)).toDF("event_type", "weight")
          StreamOps.enrichStream(
            StreamOps.eventsStream(s2, dir).select("event_id", "event_type", "value"),
            dim, "event_type")
            .select(col("event_id"), col("event_type"),
              round(col("value") * coalesce(col("weight"), lit(0.0)), 12).as("weighted"))
        },
        // stateless pass-through: no state store, no watermark — Spark
        // never schedules a trailing no-data batch here, so the flag (and
        // its session clone) would buy nothing (A/B: 1.10 vs 1.09 s)
        "q88_sink", org.apache.spark.sql.streaming.OutputMode.Append())
      out.orderBy("event_id")
    },
    Some("""SELECT event_id, event_type,
                   round(value * CASE event_type
                     WHEN 'view' THEN 0.0 WHEN 'click' THEN 0.1
                     WHEN 'purchase' THEN 1.0 WHEN 'signup' THEN 0.5
                     WHEN 'error' THEN -1.0 ELSE 0.0 END, 12) AS weighted
            FROM events ORDER BY event_id"""))

  /** EXACT interpolated percentiles per event type — the hash-checkable
    * complement to q29's sketches: Spark's `percentile` and DuckDB's
    * `quantile_cont` both compute the standard type-7 quantile, so with
    * 12-dp rounding (interpolation formula ulps) the values hash-match.
    * Scale note: exact percentile aggregates a value-count map per group
    * (memory ∝ distinct values) — the right tool for moderate-cardinality
    * columns; q67's DDSketch is the unbounded-cardinality path.
    */
  private val q83 = GraftQuery(
    "q83_exact_percentiles",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 12).as("p50"),
          round(expr("percentile(value, 0.95)"), 12).as("p95"),
          round(expr("percentile(value, 0.99)"), 12).as("p99"))
        .orderBy("event_type"),
    Some("""SELECT event_type,
                   round(quantile_cont(value, 0.5), 12) AS p50,
                   round(quantile_cont(value, 0.95), 12) AS p95,
                   round(quantile_cont(value, 0.99), 12) AS p99
            FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Custom stateful streaming under the oracle gate: per-user running
    * totals via `mapGroupsWithState` ([[graft.streaming.StreamOps.userRunningTotals]])
    * drained AvailableNow; the LAST emission per user (Update mode emits
    * one row per key per batch; n_events is monotone, so max-struct picks
    * it without a window sort) must equal the batch aggregate — decimal
    * state accumulation makes the sum independent of arrival order, so
    * DuckDB's serial `sum(CAST(value AS DECIMAL(30,4)))` hash-matches.
    */
  private val q81 = GraftQuery(
    "q81_stream_running_totals",
    (s, dir) => {
      import graft.streaming.StreamOps
      // the final-totals reconstruction (and the batch-oracle equality)
      // requires ONE state lifetime per user: a multi-batch drain could
      // evict an idle user mid-stream and reset their totals. One source
      // file ⇒ one AvailableNow micro-batch — enforce it loudly rather
      // than silently undercount if the harness ever splits the table.
      // filesystem listing, not spark.read: the events table is
      // TIMESTAMP(NANOS) and a plain parquet read rejects it
      val src = new java.io.File(s"$dir/events.parquet")
      val nFiles =
        if (src.isDirectory) src.listFiles.count(_.getName.endsWith(".parquet")) else 1
      require(nFiles == 1,
        s"q81 needs a single-file events table (one micro-batch drain), got $nFiles files")
      val out = StreamOps.runAvailableNow(
        s,
        s2 => StreamOps.userRunningTotals(s2, StreamOps.eventsStream(s2, dir)).toDF(),
        "q81_sink", org.apache.spark.sql.streaming.OutputMode.Update(),
        // Update mode emits per processed batch; a trailing no-data batch
        // could only re-emit identical totals (state is untouched by it)
        statePartitions = 8, finalNoDataBatch = false)
      StreamOps.finalUserTotals(out).orderBy("user_id")
    },
    Some("""SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Campaign-window attribution via the bucketized range join
    * ([[graft.operators.RangeJoin]]): 40 overlapping 9-hour windows (6-hour
    * cadence from the corpus start) joined to purchase events on
    * `ts BETWEEN start AND end` as a hash equi-join on 6-hour buckets —
    * the plan that survives when BOTH sides are too big to broadcast.
    * All bucket arithmetic in epoch-micros longs; the revenue sum rides
    * exact decimals.
    */
  private val q62 = GraftQuery(
    "q62_range_join_windows",
    (s, dir) => {
      val HourUs = 3600L * 1000000L
      val ev = Tables.events(s, dir)
      val t0 = broadcast(ev.agg(unix_micros(min(col("ts"))).as("t0_us")))
      val windows = s.range(0, 40).toDF("w_id").crossJoin(t0)
        .select(col("w_id"),
          (col("t0_us") + col("w_id") * (6L * HourUs)).as("ws_us"),
          (col("t0_us") + col("w_id") * (6L * HourUs) + 9L * HourUs).as("we_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("value"), unix_micros(col("ts")).as("p_us"))
      graft.operators.RangeJoin
        .pointInInterval(purchases, "p_us", windows, "ws_us", "we_us", 6L * HourUs)
        .groupBy("w_id")
        .agg(count(lit(1)).as("n_purchases"),
          graft.functions.Exact.sumD(col("value")).as("revenue"))
        .orderBy("w_id")
    },
    Some("""WITH b AS (SELECT epoch_us(min(CAST(ts AS TIMESTAMP))) AS t0 FROM events),
            w AS (SELECT g.i AS w_id,
                         t0 + g.i * 21600000000 AS ws,
                         t0 + g.i * 21600000000 + 32400000000 AS we
                  FROM generate_series(0, 39) AS g(i), b),
            p AS (SELECT event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS pu
                  FROM events WHERE event_type = 'purchase')
            SELECT w_id, count(*) AS n_purchases,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS revenue
            FROM w JOIN p ON p.pu >= w.ws AND p.pu <= w.we
            GROUP BY w_id ORDER BY w_id"""))

  /** Mergeable HLL sketch ([[graft.functions.HllAgg]]) vs exact distinct,
    * per event type — oracle-gated via the landed-estimate pattern: the
    * estimate lands to parquet, Spark asserts |est − exact|/exact ≤ 0.10
    * against its own `countDistinct`, and DuckDB independently recomputes
    * `count(DISTINCT user_id)` and replays the same inequality over the
    * landed estimates. The abs-diff is integer arithmetic and the divide
    * is one IEEE op on identical operands, so the `within_bound` boolean
    * is bit-identical cross-engine. HllAggSpec additionally proves
    * partition-order invariance (merge = register max).
    */
  private def q66 = GraftQuery(
    "q66_hll_distinct",
    (s, dir) => {
      val path = Landed.land("q66_hll_distinct", dir)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.functions.HllAgg.hllDistinct(col("user_id")).as("est_users"))
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .join(
          Tables.events(s, dir).groupBy("event_type")
            .agg(countDistinct(col("user_id")).as("exact_users")),
          "event_type")
        .select(col("event_type"), col("est_users"), col("exact_users"),
          (abs(col("est_users") - col("exact_users")).cast("double")
            / col("exact_users") <= lit(0.10)).as("within_bound"))
        .orderBy("event_type")
    },
    Some(s"""WITH l AS (SELECT event_type, est_users
                   FROM read_parquet('${Landed.oraclePath("q66_hll_distinct")}/*.parquet')),
            x AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
                  FROM events GROUP BY 1)
            SELECT l.event_type, l.est_users, x.exact_users,
                   CAST(abs(l.est_users - x.exact_users) AS DOUBLE)
                     / x.exact_users <= 0.10 AS within_bound
            FROM l JOIN x USING (event_type)
            ORDER BY event_type"""))

  /** Mergeable DDSketch quantiles ([[graft.functions.DdSketchAgg]]) per
    * event type, flattened to scalar columns — oracle-gated via the
    * landed-estimate pattern. The sketch's analytical guarantee is that
    * each estimate is the log-bucket midpoint of the bucket holding the
    * value at 0-based rank max(0, ⌈q·n⌉−1), within relative error α=0.01
    * of it; both engines recompute exactly that order statistic
    * (identical integer rank, identical untouched parquet double) and
    * replay |est − exact|/exact ≤ 0.0101 over the landed estimates — α
    * plus 1% headroom for log/pow float slop on bucket-boundary values.
    * DdSketchAggSpec proves partition invariance; scale note as q29: the
    * value-sorted window is verification-side only.
    */
  private def q67 = GraftQuery(
    "q67_ddsketch_quantiles",
    (s, dir) => {
      val path = Landed.land("q67_ddsketch_quantiles", dir)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(graft.functions.DdSketchAgg
          .quantiles(col("value"), Seq(0.5, 0.95, 0.99)).as("e"))
        .select(col("event_type"),
          element_at(col("e"), 1).as("dd_p50"),
          element_at(col("e"), 2).as("dd_p95"),
          element_at(col("e"), 3).as("dd_p99"))
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      val exact = OrderStats.rankTargets(
        Tables.events(s, dir), "event_type", "value", Seq(0.5, 0.95, 0.99))
      Tables.parquet(s, path)
        .join(exact, "event_type")
        .select(
          col("event_type"), col("dd_p50"), col("dd_p95"), col("dd_p99"),
          (abs(col("dd_p50") - col("ex_1")) / col("ex_1") <= lit(0.0101)).as("p50_within"),
          (abs(col("dd_p95") - col("ex_2")) / col("ex_2") <= lit(0.0101)).as("p95_within"),
          (abs(col("dd_p99") - col("ex_3")) / col("ex_3") <= lit(0.0101)).as("p99_within"))
        .orderBy("event_type")
    },
    Some(s"""WITH l AS (SELECT * FROM read_parquet('${Landed.oraclePath("q67_ddsketch_quantiles")}/*.parquet')),
            v AS (SELECT event_type, CAST(value AS DOUBLE) AS value,
                         row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS r,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM events WHERE value IS NOT NULL),
            x AS (SELECT event_type,
                         ${OrderStats.targetSelectSql(Seq(0.5, 0.95, 0.99))}
                  FROM v GROUP BY event_type)
            SELECT l.event_type, l.dd_p50, l.dd_p95, l.dd_p99,
                   abs(l.dd_p50 - x.ex_1) / x.ex_1 <= 0.0101 AS p50_within,
                   abs(l.dd_p95 - x.ex_2) / x.ex_2 <= 0.0101 AS p95_within,
                   abs(l.dd_p99 - x.ex_3) / x.ex_3 <= 0.0101 AS p99_within
            FROM l JOIN x USING (event_type)
            ORDER BY event_type"""))

  /** Daily conversion funnel: per (user, day), the first view, the first
    * click AT/AFTER that view, and the first purchase AT/AFTER that click —
    * ordered-subsequence matching expressed as three keyed min-aggregates
    * chained by joins (each stage shuffles only its event type, already
    * reduced by map-side partials; no per-user sorting, no window over the
    * full stream). Day-level rollup counts users reaching each stage.
    */
  private val q69 = GraftQuery(
    "q69_funnel_daily",
    (s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"), col("ts"))
      val keys = Seq("user_id", "day")
      val v = base.filter(col("event_type") === "view")
        .groupBy(keys.map(col): _*).agg(min(col("ts")).as("t_view"))
      val c = base.filter(col("event_type") === "click")
        .join(v, keys).filter(col("ts") >= col("t_view"))
        .groupBy(keys.map(col): _*).agg(min(col("ts")).as("t_click"))
      val p = base.filter(col("event_type") === "purchase")
        .join(c, keys).filter(col("ts") >= col("t_click"))
        .groupBy(keys.map(col): _*).agg(min(col("ts")).as("t_purchase"))
      v.join(c.select(col("user_id"), col("day"), col("t_click")), keys, "left")
        .join(p.select(col("user_id"), col("day"), col("t_purchase")), keys, "left")
        .groupBy("day")
        .agg(
          count(lit(1)).as("n_view_users"),
          count(col("t_click")).as("n_clicked_after_view"),
          count(col("t_purchase")).as("n_purchased_after_click"))
        .orderBy("day")
    },
    Some("""WITH base AS (
              SELECT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     event_type, CAST(ts AS TIMESTAMP) AS ts
              FROM events),
            v AS (SELECT user_id, day, min(ts) AS t_view
                  FROM base WHERE event_type = 'view' GROUP BY 1, 2),
            c AS (SELECT b.user_id, b.day, min(b.ts) AS t_click
                  FROM base b JOIN v USING (user_id, day)
                  WHERE b.event_type = 'click' AND b.ts >= v.t_view
                  GROUP BY 1, 2),
            p AS (SELECT b.user_id, b.day, min(b.ts) AS t_purchase
                  FROM base b JOIN c USING (user_id, day)
                  WHERE b.event_type = 'purchase' AND b.ts >= c.t_click
                  GROUP BY 1, 2)
            SELECT day,
                   count(*) AS n_view_users,
                   count(t_click) AS n_clicked_after_view,
                   count(t_purchase) AS n_purchased_after_click
            FROM v LEFT JOIN c USING (user_id, day)
                   LEFT JOIN p USING (user_id, day)
            GROUP BY day ORDER BY day"""))

  /** Streaming session windows under the oracle gate
    * ([[graft.streaming.StreamOps.sessionAgg]]): watermarked
    * `session_window` state merged incrementally per micro-batch, drained
    * AvailableNow in COMPLETE mode — Append would hold back every session
    * whose end is inside the final watermark horizon (last 1.5 h of the
    * corpus), and those sessions are real: the batch answer includes
    * them. Complete emits the full merged state, which after the single
    * data batch equals the batch answer exactly — hash-compared against
    * the same gaps-and-islands rewrite that grades batch q27. Closes the
    * last windowed-state streaming mode not yet driver-graded (joins q46,
    * dedup q56, mapGroupsWithState q81, CDC q80, stream-static q88).
    */
  private val q97 = GraftQuery(
    "q97_stream_session_window",
    (s, dir) => {
      import graft.streaming.StreamOps
      val out = StreamOps.runAvailableNow(
        s, s2 => StreamOps.sessionAgg(StreamOps.eventsStream(s2, dir)),
        // Complete mode rewrites the whole table per batch; the trailing
        // no-data batch would rewrite the same content
        "q97_sink", statePartitions = 8, finalNoDataBatch = false)
      out.orderBy("user_id", "session_start")
    },
    Some(sessionOracleSql))

  /** q97's PRODUCTION twin: the same watermarked session aggregation
    * drained in APPEND mode — each session emitted exactly once when the
    * watermark passes it (the shape that survives an unbounded stream,
    * where Complete's full-state rewrite per batch does not) — using the
    * sentinel watermark flush ([[graft.streaming.StreamOps
    * .sessionAggAppend]]): one data batch carrying a sentinel that
    * advances the watermark past every real session, then Spark's
    * trailing no-data batch flushing them to the sink. Hash-compared
    * against the SAME gaps-and-islands oracle as q97: Append + sentinel must
    * reconstruct the exact batch answer, held-back-session bugs fail the
    * row count and re-emission bugs fail the hash.
    */
  private val q101 = GraftQuery(
    "q101_stream_session_append",
    (s, dir) => {
      import graft.streaming.StreamOps
      StreamOps.sessionAggAppend(
          s, graft.Tables.events(s, dir).select("user_id", "ts", "value"),
          Scratch.tempDir("graft_append_sessions_")) // state partitions: count-adaptive
        .orderBy("user_id", "session_start")
    },
    Some(sessionOracleSql))

  private lazy val sessionOracleSql = ("""WITH t AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
                     CASE WHEN CAST(ts AS TIMESTAMP)
                            - lag(CAST(ts AS TIMESTAMP))
                                OVER (PARTITION BY user_id ORDER BY ts)
                            >= INTERVAL '30 minutes'
                          OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events),
            s AS (
              SELECT *, sum(new_session)
                          OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
              FROM t)
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   user_id, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_start""")

  /** First-order Markov transition matrix over per-user event sequences —
    * the session-modeling prep step (next-event prediction features,
    * funnel anomaly detection). Plan shape: ONE window pass partitioned
    * by user (lag over (ts, event_id) — the total per-user order), then a
    * tiny (prev, next) hash aggregate; the transition-probability
    * denominator joins back from a per-prev aggregate small enough to
    * broadcast (|event types|² rows). The per-user partitioning is the
    * scale story: no global sort, skew bounded by the busiest user.
    */
  def eventTransitions(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // cut the tiny count frame so the denominator aggregate doesn't re-run
    // the event-log window pass (Catalyst does not share subtrees)
    val counts = graft.operators.Components.cut(transitionCounts(events))
    val totals = counts.groupBy("prev_type").agg(sum("n").as("n_prev"))
    counts
      .join(broadcast(totals), "prev_type")
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("n_prev").cast("double"), 12).as("p"))
      .orderBy("prev_type", "next_type")
  }

  /** (prev_type, next_type, n) over per-user event sequences, as one lazy
    * plan — the per-user window PlanShapeSpec pins, which the cut in
    * [[eventTransitions]] executes before any explain could show it.
    */
  private[graft] def transitionCounts(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }

  private val q106 = GraftQuery(
    "q106_event_transitions",
    (s, dir) => eventTransitions(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
                       FROM events),
            s AS (SELECT event_type AS next_type,
                         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           AS prev_type
                  FROM e),
            c AS (SELECT prev_type, next_type, count(*) AS n
                  FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
            t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev FROM c GROUP BY 1)
            SELECT prev_type, next_type, n,
                   round(CAST(n AS DOUBLE) / CAST(n_prev AS DOUBLE), 12) AS p
            FROM c JOIN t USING (prev_type)
            ORDER BY prev_type, next_type"""))

  /** Winsorized per-type value statistics: clip at the exact interpolated
    * p01/p99 (q83's type-7 quantile contract), count the clipped tails,
    * and average the winsorized column — the outlier-robust mean every
    * metrics pipeline wants before feeding a reward/quality signal
    * downstream. The percentile frame broadcasts (|event types| rows);
    * the winsorized mean rides the decimal-sum route. Boundary
    * determinism: both engines round the SAME interpolated quantile to
    * 6 dp before comparing, so a sub-ulp quantile divergence cannot
    * reclassify a tail row.
    */
  private val q107 = GraftQuery(
    "q107_winsorize",
    (s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"), col("value"))
      val pct = e.groupBy("event_type").agg(
        round(expr("percentile(value, 0.01)"), 6).as("lo"),
        round(expr("percentile(value, 0.99)"), 6).as("hi"))
      val winz = when(col("value") < col("lo"), col("lo"))
        .when(col("value") > col("hi"), col("hi"))
        .otherwise(col("value"))
      e.join(broadcast(pct), "event_type")
        .select(col("event_type"), col("lo"), col("hi"), col("value"), winz.as("w"))
        .groupBy("event_type")
        .agg(
          first(col("lo")).as("lo"),
          first(col("hi")).as("hi"),
          count(lit(1)).as("n"),
          count(when(col("value") < col("lo"), 1)).as("n_lo"),
          count(when(col("value") > col("hi"), 1)).as("n_hi"),
          round(Exact.avgD(col("w"), 6), 9).as("mean_winsorized"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type, value FROM events),
            p AS (SELECT event_type,
                         round(quantile_cont(value, 0.01), 6) AS lo,
                         round(quantile_cont(value, 0.99), 6) AS hi
                  FROM e GROUP BY 1)
            SELECT event_type, lo, hi, count(*) AS n,
                   count(CASE WHEN value < lo THEN 1 END) AS n_lo,
                   count(CASE WHEN value > hi THEN 1 END) AS n_hi,
                   round(CAST(sum(CAST(CASE WHEN value < lo THEN lo
                                            WHEN value > hi THEN hi
                                            ELSE value END AS DECIMAL(30,6)))
                     AS DOUBLE) / count(*), 9) AS mean_winsorized
            FROM e JOIN p USING (event_type)
            GROUP BY event_type, lo, hi ORDER BY event_type"""))

  /** Weekly retention cohort matrix: users grouped by first-seen week,
    * tracked by distinct-active count at each week offset — the product-
    * analytics staple (and, for training pipelines, the contributor-decay
    * view of a crawl corpus). All-integer arithmetic end to end, so the
    * gate needs no float contract at all. Plan shape: first-seen is one
    * min-aggregate per user; activity is one distinct (user, week)
    * aggregate; the cohort join shuffles on user_id (both sides already
    * user-keyed) and the matrix aggregate is tiny. Monday-start
    * `date_trunc('week', …)` is identical in both engines.
    */
  def retentionCohorts(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = events.select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    // one event-log pass: first-seen = min over the DISTINCT (user, week)
    // frame (identical to min over raw events), so the cut distinct frame
    // feeds both sides instead of two independent corpus shuffles
    val active = graft.operators.Components.cut(e.distinct())
    val firstSeen = active.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    active
      .join(firstSeen, "user_id")
      .select(col("cohort_wk"),
        (datediff(col("wk"), col("cohort_wk")) / 7).cast("long").as("week_offset"),
        col("user_id"))
      .groupBy("cohort_wk", "week_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  private val q110 = GraftQuery(
    "q110_retention_cohorts",
    (s, dir) => retentionCohorts(Tables.events(s, dir)),
    Some("""WITH e AS (
              SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
              FROM events),
            f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
            a AS (SELECT DISTINCT user_id, wk FROM e)
            SELECT CAST(cohort_wk AS TIMESTAMP) AS cohort_wk,
                   CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Per-group ordinary-least-squares trend: slope/intercept of `value`
    * against event time, closed-form from four decimal-accumulated sums
    * (Σx, Σy, Σxy, Σx²) — drift detection over metric streams without a
    * window in sight. One hash aggregate; the closed form is a fixed
    * scalar expression over exact sums, so both engines compute
    * bit-identical doubles. x is seconds-since-2024 (small magnitudes
    * keep x² inside double's exact-integer range; the raw-epoch form
    * would still be deterministic but needlessly lossy).
    */
  def olsTrend(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val epoch = lit("2024-01-01 00:00:00").cast("timestamp").cast("double")
    val e = events
      .select(col("event_type"),
        (col("ts").cast("double") - epoch).as("x"),
        col("value").as("y"))
    val sums = e.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(round(col("x"), 6).cast(DecimalType(38, 6))).cast("double").as("sx"),
        sum(round(col("y"), 6).cast(DecimalType(38, 6))).cast("double").as("sy"),
        sum(round(col("x") * col("y"), 6).cast(DecimalType(38, 6))).cast("double").as("sxy"),
        sum(round(col("x") * col("x"), 6).cast(DecimalType(38, 6))).cast("double").as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    sums
      .select(col("event_type"), col("n").cast("long").as("n"),
        round(slope * lit(86400.0), 9).as("slope_per_day"),
        round((col("sy") - slope * col("sx")) / col("n"), 9).as("intercept"))
      .orderBy("event_type")
  }

  private val q111 = GraftQuery(
    "q111_group_ols_trend",
    (s, dir) => olsTrend(Tables.events(s, dir)),
    Some("""WITH e AS (
              SELECT event_type,
                     CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE) / 1000000.0
                       - CAST(epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS DOUBLE) / 1000000.0
                       AS x,
                     value AS y
              FROM events),
            s AS (SELECT event_type,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(CAST(round(x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(round(x * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
                         CAST(sum(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sxx
                  FROM e GROUP BY 1)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400.0, 9)
                     AS slope_per_day,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
                     AS intercept
            FROM s ORDER BY event_type"""))

  /** Robust outlier census per event type: median/MAD (median absolute
    * deviation) with a 3·MAD fence — the q107 winsorize companion that
    * does not assume normality and is immune to the very outliers it
    * hunts. Two exact-percentile passes (the q83 type-7 contract, 6-dp
    * boundary rounding on both engines), each broadcast back onto the
    * stream; everything else is integer counting.
    */
  def madOutliers(events: org.apache.spark.sql.DataFrame, k: Double = 3.0): org.apache.spark.sql.DataFrame = {
    val e = events.select(col("event_type"), col("value"))
    val med = e.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev
      .join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        count(when(col("adev") > lit(k) * col("mad"), 1)).as("n_outliers"))
      .withColumn("outlier_frac",
        round(col("n_outliers").cast("double") / col("n").cast("double"), 12))
      .orderBy("event_type")
  }

  private val q114 = GraftQuery(
    "q114_mad_outliers",
    (s, dir) => madOutliers(Tables.events(s, dir)),
    Some("""WITH e AS (SELECT event_type, value FROM events),
            m AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
                  FROM e GROUP BY 1),
            dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
                    FROM e JOIN m USING (event_type)),
            md AS (SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
                   FROM dev GROUP BY 1)
            SELECT dev.event_type, dev.med AS med, md.mad AS mad, count(*) AS n,
                   count(CASE WHEN adev > 3.0 * mad THEN 1 END) AS n_outliers,
                   round(CAST(count(CASE WHEN adev > 3.0 * mad THEN 1 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 12) AS outlier_frac
            FROM dev JOIN md USING (event_type)
            GROUP BY dev.event_type, dev.med, md.mad
            ORDER BY dev.event_type"""))

  /** Peak concurrency per day — the interval sweep-line (max concurrent
    * active users, a user being active from their first to last event of
    * the day, closed interval). The classic shape is
    * `sum(delta) OVER (ORDER BY ts)` — an unpartitioned window that
    * collapses the stream onto one task. Here the running count rides
    * [[graft.operators.Packing.prefixSumBy]]'s two-phase scan over
    * (ts, −delta, user_id): +1 at interval start, −1 at end, starts
    * ordered before ends at equal instants so two intervals touching at a
    * boundary both count (closed-interval convention). Intervals never
    * cross their day, so the global running sum is the per-day
    * concurrency (each day's deltas net to zero before the next begins)
    * — no per-day window, no single-task stage.
    */
  def peakConcurrency(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val iv = events
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val deltas = iv
      .select(col("user_id"), col("day"), col("t0").as("ts"), lit(1L).as("delta"))
      .unionByName(iv
        .select(col("user_id"), col("day"), col("t1").as("ts"), lit(-1L).as("delta")))
      // (ts, ord, user_id) is duplicate-free: a user-day contributes one
      // start and one end row, distinguished by ord even when t0 == t1
      .withColumn("ord", -col("delta"))
    graft.operators.Packing
      .prefixSumBy(deltas, Seq("ts", "ord", "user_id"), "delta", "before")
      .withColumn("active", col("before") + col("delta"))
      .groupBy("day")
      .agg(
        count(when(col("delta") === 1L, 1)).as("n_users"),
        max(col("active")).as("peak"))
      .orderBy("day")
  }

  private val q122 = GraftQuery(
    "q122_peak_concurrency",
    (s, dir) => peakConcurrency(Tables.events(s, dir)),
    Some("""WITH iv AS (
              SELECT user_id,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     min(CAST(ts AS TIMESTAMP)) AS t0,
                     max(CAST(ts AS TIMESTAMP)) AS t1
              FROM events GROUP BY 1, 2),
            d AS (
              SELECT user_id, day, t0 AS ts, 1 AS delta, -1 AS ord FROM iv
              UNION ALL
              SELECT user_id, day, t1 AS ts, -1 AS delta, 1 AS ord FROM iv),
            r AS (
              SELECT day, delta,
                     sum(delta) OVER (ORDER BY ts, ord, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active
              FROM d)
            SELECT day,
                   count(CASE WHEN delta = 1 THEN 1 END) AS n_users,
                   CAST(max(active) AS BIGINT) AS peak
            FROM r GROUP BY day ORDER BY day"""))

  /** Exponential time-decay aggregates per event type: each event
    * contributes 2^(−age/half-life), age measured back from the corpus
    * max timestamp — the recency-weighted feature-store rollup (decayed
    * counts/sums age out smoothly instead of a hard window cliff).
    * One hash aggregate after a broadcast of the single-row max; weights
    * round at 15 dp and accumulate as DECIMAL(38,15) (the q102 pattern)
    * so the sum is partition-order free and the oracle's libm pow can't
    * diverge past the displayed 9 dp.
    */
  def timeDecayAgg(events: org.apache.spark.sql.DataFrame,
      halfLifeDays: Double = 7.0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tmax = events.agg(max(unix_micros(col("ts"))).as("t_max"))
    events
      .select(col("event_type"), col("value"), unix_micros(col("ts")).as("t"))
      .crossJoin(broadcast(tmax))
      .withColumn("w",
        pow(lit(2.0),
          -((col("t_max") - col("t")).cast("double") / lit(86400e6))
            / lit(halfLifeDays)))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("w"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("dc"),
        sum(round(col("w") * col("value"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("dv"))
      .select(col("event_type"), col("n"),
        round(col("dc"), 9).as("decayed_count"),
        round(col("dv"), 9).as("decayed_value"))
      .orderBy("event_type")
  }

  private val q123 = GraftQuery(
    "q123_time_decay_agg",
    (s, dir) => timeDecayAgg(Tables.events(s, dir)),
    Some("""WITH e AS (
              SELECT event_type, value,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS t,
                     (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) FROM events) AS t_max
              FROM events),
            w AS (
              SELECT event_type, value,
                     pow(2.0, -(CAST(t_max - t AS DOUBLE) / 86400000000.0) / 7.0) AS w
              FROM e)
            SELECT event_type, count(*) AS n,
                   round(CAST(sum(CAST(round(w, 15) AS DECIMAL(38,15))) AS DOUBLE), 9)
                     AS decayed_count,
                   round(CAST(sum(CAST(round(w * value, 15) AS DECIMAL(38,15))) AS DOUBLE), 9)
                     AS decayed_value
            FROM w GROUP BY event_type ORDER BY event_type"""))

  /** Seasonal-baseline anomaly detection: each (event_type, day, hour)
    * count is z-scored against that type's SAME-HOUR-OF-DAY baseline
    * across all observed days — the diurnal-profile monitor that flags
    * "3 a.m. purchase spike" without flagging the daily 9 a.m. ramp a
    * global mean would. Top anomalies by |z|.
    *
    * Plan shape: two stacked hash aggregates (hourly counts, then
    * per-(type, hour-of-day) moment sums) and one join of the hourly
    * frame back to its 24·|types|-row baseline — broadcastable forever,
    * since the baseline is bounded by the clock, not the data. Moments
    * ride DECIMAL sums (order-free); the z closed form is the same IEEE
    * sequence on both engines. Hours with zero events never enter the
    * baseline (observed-cells contract — the dense-spine variant is
    * q99's resample). Baselines need ≥ 2 observed days and nonzero
    * variance, identically filtered on both sides.
    */
  def seasonalAnomalies(events: org.apache.spark.sql.DataFrame,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val hourly = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"))
    val baseline = hourly
      .groupBy("event_type", "hr")
      .agg(
        count(lit(1)).cast("double").as("n_days"),
        sum(col("n_events").cast(DecimalType(38, 0))).cast("double").as("s"),
        sum((col("n_events") * col("n_events")).cast(DecimalType(38, 0)))
          .cast("double").as("ss"))
      .filter(col("n_days") >= 2.0)
      .withColumn("mean", col("s") / col("n_days"))
      .withColumn("var", col("ss") / col("n_days") - col("mean") * col("mean"))
      .filter(col("var") > 0.0)
    hourly
      .join(baseline, Seq("event_type", "hr"))
      .select(col("event_type"), col("day"), col("hr"), col("n_events"),
        round(col("mean"), 9).as("baseline_mean"),
        round((col("n_events").cast("double") - col("mean")) / sqrt(col("var")), 9)
          .as("z"))
      .orderBy(abs(col("z")).desc, col("event_type"), col("day"), col("hr"))
      .limit(topK)
  }

  private val q147 = GraftQuery(
    "q147_seasonal_anomaly",
    (s, dir) => seasonalAnomalies(Tables.events(s, dir)),
    Some("""WITH hourly AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
                     count(*) AS n_events
              FROM events GROUP BY 1, 2, 3),
            baseline AS (
              SELECT event_type, hr,
                     CAST(count(*) AS DOUBLE) AS n_days,
                     CAST(sum(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) AS s,
                     CAST(sum(CAST(n_events * n_events AS DECIMAL(38,0))) AS DOUBLE) AS ss
              FROM hourly GROUP BY 1, 2),
            b AS (
              SELECT event_type, hr, s / n_days AS mean,
                     ss / n_days - (s / n_days) * (s / n_days) AS var
              FROM baseline WHERE n_days >= 2),
            z AS (
              SELECT h.event_type, h.day, h.hr, h.n_events,
                     round(b.mean, 9) AS baseline_mean,
                     round((CAST(h.n_events AS DOUBLE) - b.mean) / sqrt(b.var), 9) AS z
              FROM hourly h JOIN b ON h.event_type = b.event_type AND h.hr = b.hr
              WHERE b.var > 0)
            SELECT event_type, day, hr, n_events, baseline_mean, z
            FROM z ORDER BY abs(z) DESC, event_type, day, hr LIMIT 20"""))

  /** Changepoint detection by binary-segmentation's first step: per
    * event type, the day split maximizing |mean(before) − mean(after)|
    * of the daily event counts — the level-shift detector that finds
    * "traffic stepped on the 14th" where q147's hour-of-day z-score
    * finds single-cell spikes.
    *
    * Plan shape: daily counts are one hash aggregate; every candidate
    * split is scored from ONE cumulative window pass (prefix decimal
    * sums) + a broadcast per-type total — O(days) work per type, not the
    * O(days²) a naive before/after re-aggregation per split would cost.
    * The per-type windows are bounded by the calendar (≤ days rows per
    * partition), the same contract as q43's frames. Argmax is a
    * row_number under (shift DESC, day) — total order, both engines.
    */
  def meanShiftSplit(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pre = daily
      .withColumn("i", row_number().over(w))
      .withColumn("s", sum(col("c").cast(DecimalType(38, 0))).over(w))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("c").cast(DecimalType(38, 0))).as("s_tot"),
        count(lit(1)).as("n_days"))
    val scored = pre.join(broadcast(tot), "event_type")
      .filter(col("i") < col("n_days"))
      .withColumn("mean_before", col("s").cast("double") / col("i").cast("double"))
      .withColumn("mean_after",
        (col("s_tot") - col("s")).cast("double")
          / (col("n_days") - col("i")).cast("double"))
      .withColumn("shift", round(abs(col("mean_before") - col("mean_after")), 9))
    val rankW = Window.partitionBy("event_type")
      .orderBy(col("shift").desc, col("day").asc)
    scored
      .withColumn("rn", row_number().over(rankW))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("day").as("split_day"),
        col("i").cast("int").as("days_before"),
        round(col("mean_before"), 9).as("mean_before"),
        round(col("mean_after"), 9).as("mean_after"), col("shift"))
      .orderBy("event_type")
  }

  private val q152 = GraftQuery(
    "q152_mean_shift_changepoint",
    (s, dir) => meanShiftSplit(Tables.events(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            pre AS (
              SELECT event_type, day,
                     row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
                     sum(CAST(c AS DECIMAL(38,0)))
                       OVER (PARTITION BY event_type ORDER BY day) AS s
              FROM daily),
            tot AS (
              SELECT event_type, sum(CAST(c AS DECIMAL(38,0))) AS s_tot,
                     count(*) AS n_days
              FROM daily GROUP BY 1),
            scored AS (
              SELECT p.event_type, p.day, p.i,
                     CAST(p.s AS DOUBLE) / CAST(p.i AS DOUBLE) AS mean_before,
                     CAST(t.s_tot - p.s AS DOUBLE)
                       / CAST(t.n_days - p.i AS DOUBLE) AS mean_after
              FROM pre p JOIN tot t USING (event_type)
              WHERE p.i < t.n_days),
            sh AS (
              SELECT event_type, day, i, mean_before, mean_after,
                     round(abs(mean_before - mean_after), 9) AS shift
              FROM scored),
            best AS (
              SELECT event_type, day, i, mean_before, mean_after, shift,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY shift DESC, day) AS rn
              FROM sh)
            SELECT event_type, day AS split_day, CAST(i AS INT) AS days_before,
                   round(mean_before, 9) AS mean_before,
                   round(mean_after, 9) AS mean_after, shift
            FROM best WHERE rn = 1 ORDER BY event_type"""))

  /** DAU / trailing-7-day WAU stickiness — the product-engagement ratio
    * every growth dashboard carries, and a DISTINCT-over-sliding-window
    * problem that q26's sliding counts can't express (distinct is not
    * decomposable across overlapping windows). The scalable shape: user
    * activity collapses to DISTINCT (user, day) first, the calendar day
    * spine (≤ days rows, broadcast) range-joins onto it so each activity
    * row fans out to at most 7 spine days — linear in activity, never
    * |days|·|events| — and the per-day distinct is one exact aggregate.
    * q110's weekly retention shares the activity frame shape; this is
    * the rolling, overlap-window view of the same signal.
    */
  def stickiness(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val act = graft.operators.Components.cut(
      events.select(col("user_id"), to_date(col("ts")).as("day")).distinct())
    val days = act.select("day").distinct()
    val dau = act.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = broadcast(days)
      .join(act.select(col("user_id"), col("day").as("aday")),
        col("aday") >= date_sub(col("day"), 6) && col("aday") <= col("day"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    days.join(dau, "day").join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 9).as("stickiness"))
      .orderBy("day")
  }

  private val q160 = GraftQuery(
    "q160_dau_wau_stickiness",
    (s, dir) => stickiness(Tables.events(s, dir)),
    Some("""WITH act AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
              FROM events),
            days AS (SELECT DISTINCT day FROM act),
            dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
            wau AS (
              SELECT d.day, count(DISTINCT a.user_id) AS wau
              FROM days d JOIN act a
                ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
              GROUP BY 1)
            SELECT d.day, dau.dau, w.wau,
                   round(CAST(dau.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 9) AS stickiness
            FROM days d JOIN dau USING (day) JOIN wau w ON d.day = w.day
            ORDER BY d.day"""))

  /** Markov next-event prediction EVALUATED out-of-sample: transition
    * counts learned on the first epoch-half (the q154 midpoint split)
    * pick each state's argmax successor, and accuracy is measured on the
    * second half's consecutive pairs — the held-out eval that tells you
    * whether q106's transition matrix actually predicts, instead of just
    * describing, behavior. Per-user ordering is the q106 (ts, event_id)
    * contract; argmax ties break to the lexicographically smaller
    * successor on both engines; TEST pairs whose source state never
    * appeared in training drop identically (inner join on the model).
    * Both halves' pair extraction is one lag window per user; the model
    * and its argmax are |types|²-bounded and broadcast.
    */
  def markovEval(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("us"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("mid"), lit("train")).otherwise(lit("test")))
    val w = Window.partitionBy("user_id", "half").orderBy(col("ts"), col("event_id"))
    val pairs = tagged
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("half"), col("prev_type"), col("event_type").as("next_type"))
    val model = pairs.filter(col("half") === "train")
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy("prev_type")
      .orderBy(col("n").desc, col("next_type").asc)
    val pred = model.withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("prev_type"), col("next_type").as("predicted"))
    pairs.filter(col("half") === "test")
      .join(broadcast(pred), "prev_type")
      .groupBy("prev_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("next_type") === col("predicted"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_pairs").cast("double"), 9))
      .orderBy("prev_type")
  }

  private val q166 = GraftQuery(
    "q166_markov_heldout_eval",
    (s, dir) => markovEval(Tables.events(s, dir)),
    Some("""WITH ev AS (
              SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
                     epoch_us(CAST(ts AS TIMESTAMP)) AS us
              FROM events),
            mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
            tagged AS (
              SELECT user_id, ts, event_id, event_type,
                     CASE WHEN us <= mid THEN 'train' ELSE 'test' END AS half
              FROM ev CROSS JOIN mid),
            pairs AS (
              SELECT half, prev_type, event_type AS next_type FROM (
                SELECT half, event_type,
                       lag(event_type) OVER (PARTITION BY user_id, half
                         ORDER BY ts, event_id) AS prev_type
                FROM tagged)
              WHERE prev_type IS NOT NULL),
            model AS (
              SELECT prev_type, next_type, count(*) AS n
              FROM pairs WHERE half = 'train' GROUP BY 1, 2),
            pred AS (
              SELECT prev_type, next_type AS predicted FROM (
                SELECT prev_type, next_type,
                       row_number() OVER (PARTITION BY prev_type
                         ORDER BY n DESC, next_type) AS rn
                FROM model)
              WHERE rn = 1)
            SELECT p.prev_type, count(*) AS n_pairs,
                   CAST(sum(CASE WHEN p.next_type = d.predicted THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_correct,
                   round(CAST(sum(CASE WHEN p.next_type = d.predicted THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS accuracy
            FROM pairs p JOIN pred d USING (prev_type)
            WHERE p.half = 'test'
            GROUP BY p.prev_type ORDER BY p.prev_type"""))

  /** q46's LEFT OUTER twin ([[graft.streaming.StreamOps
    * .clickPurchaseJoinOuter]]): the streaming interval join that also
    * emits every purchase with NO preceding-hour click, as a null-extended
    * row — run for real with the double-sided sentinel watermark flush
    * ([[graft.streaming.StreamOps.clickPurchaseOuterDrain]]: one data
    * batch carrying a far-future click + purchase that advance BOTH
    * branch watermarks, then the trailing no-data batch null-flushing the
    * unmatched state). Hash-compared against DuckDB's batch LEFT JOIN:
    * held-back outer rows fail the row count, re-emissions fail the hash.
    * On this corpus most purchases are unmatched, so the outer path — the
    * part q46 cannot express — carries the bulk of the result.
    */
  private val q183 = GraftQuery(
    "q183_stream_left_outer_join",
    (s, dir) => {
      import graft.streaming.StreamOps
      StreamOps.clickPurchaseOuterDrain(
          s,
          graft.Tables.events(s, dir)
            .select("event_id", "user_id", "event_type", "ts"),
          Scratch.tempDir("graft_louter_join_")) // state partitions: count-adaptive
        .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
    },
    Some("""SELECT p.event_id AS purchase_id, p.user_id,
                   CAST(p.ts AS TIMESTAMP) AS p_ts,
                   c.event_id AS click_id, CAST(c.ts AS TIMESTAMP) AS c_ts
            FROM events p LEFT JOIN events c
              ON c.event_type = 'click'
             AND p.user_id = c.user_id
             AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
             AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
            WHERE p.event_type = 'purchase'
            ORDER BY purchase_id, click_id NULLS FIRST"""))

  /** Linear multi-touch attribution: every purchase's value is split
    * EQUALLY across all of that user's click/view touches in the prior
    * 7 days, and purchases with no touch in the window credit a synthetic
    * `(direct)` channel in full — the marketing-analytics counterpart of
    * q69's funnel (which counts conversions; this allocates revenue).
    * The report is per-channel: touches credited, distinct purchases
    * participated in, and attributed revenue.
    *
    * Plan shape: ONE equi-join on `user_id` with the 7-day range as a
    * residual predicate — per-user pair volume is (user's purchases ×
    * user's touches in window), bounded by per-user activity, never a
    * cross-corpus product; a pathological single hot user is AQE
    * skew-split territory, not a plan change. The per-purchase touch
    * count comes from a window over the join output (no second join),
    * and each credit `value/k` is one IEEE divide rounded to 15 dp
    * before the decimal-exact channel sum (the q102 contract).
    */
  def linearAttribution(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_type").as("channel"),
          col("ts").as("t_ts"))
      // range predicate lives IN the left-join condition: a user with
      // touches only OUTSIDE the window must still yield a null (direct)
      // row, which join-then-filter would silently drop
      val joined = purchases.as("p").join(touches.as("t"),
        col("p.user_id") === col("t.user_id")
          && col("t.t_ts") < col("p.p_ts")
          && col("t.t_ts") >= col("p.p_ts") - expr("INTERVAL 7 DAYS"),
        "left")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("purchase_id")
      val credited = joined
        .withColumn("k", count(col("t_ts")).over(w))
        .select(
          coalesce(col("channel"), lit("(direct)")).as("channel"),
          col("purchase_id"),
          when(col("k") > 0, round(col("value") / col("k").cast("double"), 15))
            .otherwise(col("value")).as("credit"))
      credited.groupBy("channel")
        .agg(
          count(lit(1)).as("n_touches"),
          countDistinct(col("purchase_id")).as("n_purchases"),
          round(Exact.sumFx(col("credit"), 15), 9).as("attributed_revenue"))
        .orderBy("channel")
  }

  private val q189 = GraftQuery(
    "q189_linear_attribution",
    (s, dir) => linearAttribution(Tables.events(s, dir)),
    Some(s"""WITH p AS (
              SELECT event_id AS purchase_id, user_id,
                     CAST(ts AS TIMESTAMP) AS p_ts, value
              FROM events WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id, event_type AS channel, CAST(ts AS TIMESTAMP) AS t_ts
              FROM events WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT p.purchase_id, p.value, t.channel, t.t_ts
              FROM p LEFT JOIN t ON p.user_id = t.user_id
                AND t.t_ts < p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
            k AS (
              SELECT purchase_id, value, channel,
                     count(t_ts) OVER (PARTITION BY purchase_id) AS k
              FROM j),
            credited AS (
              SELECT coalesce(channel, '(direct)') AS channel, purchase_id,
                     CASE WHEN k > 0 THEN round(value / CAST(k AS DOUBLE), 15)
                          ELSE value END AS credit
              FROM k)
            SELECT channel, count(*) AS n_touches,
                   count(DISTINCT purchase_id) AS n_purchases,
                   round(${Exact.sumFxSql("credit", 15)}, 9) AS attributed_revenue
            FROM credited GROUP BY channel ORDER BY channel"""))

  // def, not val: q29/q66/q67 land estimate parquet and their oracle SQL
  // must embed the path recorded at dump time (the q21/q76 pattern)
  /** Dormancy/re-engagement anomaly stream: every consecutive same-user
    * event pair at least an hour apart, emitted from a running stream via
    * `flatMapGroupsWithState` ([[graft.streaming.StreamOps.userGapAnomalies]])
    * — the multi-row stateful API the rest of the streaming family
    * doesn't exercise (q81/q66 use the one-row mapGroupsWithState). The
    * pair spans micro-batches through one carried last-event-time long
    * per user — O(users) state forever. Single-file drain contract as
    * q81: cross-batch chaining needs batches in event order, which
    * AvailableNow guarantees only within one file.
    */
  private def q237 = GraftQuery(
    "q237_stream_gap_anomalies",
    (s, dir) => {
      import graft.streaming.StreamOps
      val src = new java.io.File(s"$dir/events.parquet")
      val nFiles =
        if (src.isDirectory) src.listFiles.count(_.getName.endsWith(".parquet")) else 1
      require(nFiles == 1,
        s"q237 needs a single-file events table (ordered micro-batches), got $nFiles files")
      StreamOps.runAvailableNow(
        s,
        s2 => StreamOps.userGapAnomalies(s2, StreamOps.eventsStream(s2, dir)).toDF(),
        "q237_sink", org.apache.spark.sql.streaming.OutputMode.Append(),
        // flatMapGroupsWithState(NoTimeout) emits only on processed input
        statePartitions = 8, finalNoDataBatch = false)
        .orderBy("user_id", "ts")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                     lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events)
            SELECT user_id, prev_ts, ts,
                   (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_seconds
            FROM e
            WHERE prev_ts IS NOT NULL
              AND (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 >= 3600
            ORDER BY user_id, ts"""))

  /** CUSUM control chart (Page 1954) over the per-type daily count series
    * — the sequential drift detector next to q152's single-split mean
    * shift: upper/lower one-sided cumulative sums with allowance k = μ/20
    * and decision threshold h = μ/4.
    *
    * The recurrence S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (cᵢ − μ − k)) is not a windowed
    * sum, but it has the classic prefix closed form
    * S⁺ᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ) over the deviation prefix sums P —
    * so the whole chart is ONE running-sum window plus ONE running-min
    * window per side, O(days) per type, no per-row recursion on either
    * engine. Exactness: everything rides an integer grid — deviations
    * scale by 20·n_days so μ = T/n and k = μ/20 clear their denominators
    * (Eᵢ = 20·n·cᵢ − 21·T exactly, threshold 5·T), summed as
    * DECIMAL(38,0); doubles appear only in the final display division.
    */
  def cusumChart(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.groupBy("event_type")
      .agg(sum(col("c").cast(dec)).as("t_tot"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val scored = daily.join(broadcast(tot), "event_type")
      .withColumn("e_up",
        (col("c").cast(dec) * col("n_days") * lit(20) - col("t_tot") * lit(21)).cast(dec))
      .withColumn("e_dn",
        (col("t_tot") * lit(19) - col("c").cast(dec) * col("n_days") * lit(20)).cast(dec))
      .withColumn("p_up", sum(col("e_up")).over(w))
      .withColumn("p_dn", sum(col("e_dn")).over(w))
      .withColumn("s_up", col("p_up") - least(lit(0).cast(dec), min(col("p_up")).over(w)))
      .withColumn("s_dn", col("p_dn") - least(lit(0).cast(dec), min(col("p_dn")).over(w)))
      .withColumn("h", col("t_tot") * lit(5))
    scored.groupBy(col("event_type"), col("n_days"), col("t_tot"))
      .agg(
        max(col("s_up")).as("max_up_raw"),
        sum(when(col("s_up") > col("h"), 1L).otherwise(0L)).as("up_alarm_days"),
        min(when(col("s_up") > col("h"), col("day"))).as("first_up_raw"),
        max(col("s_dn")).as("max_dn_raw"),
        sum(when(col("s_dn") > col("h"), 1L).otherwise(0L)).as("dn_alarm_days"),
        min(when(col("s_dn") > col("h"), col("day"))).as("first_dn_raw"))
      .select(
        col("event_type"),
        round(col("max_up_raw").cast("double")
          / (col("n_days").cast("double") * lit(20.0)), 9).as("max_cusum_up"),
        col("up_alarm_days"),
        // alarm days render as strings so the column's parquet type is
        // stable whether or not any alarm fired (an all-null DATE column
        // reads back as untyped)
        coalesce(col("first_up_raw").cast("string"), lit("none")).as("first_up_alarm"),
        round(col("max_dn_raw").cast("double")
          / (col("n_days").cast("double") * lit(20.0)), 9).as("max_cusum_down"),
        col("dn_alarm_days"),
        coalesce(col("first_dn_raw").cast("string"), lit("none")).as("first_dn_alarm"))
      .orderBy("event_type")
  }

  private val q240 = GraftQuery(
    "q240_cusum_changepoint",
    (s, dir) => cusumChart(Tables.events(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            tot AS (
              SELECT event_type, sum(CAST(c AS DECIMAL(38,0))) AS t_tot,
                     count(*) AS n_days
              FROM daily GROUP BY 1),
            dev AS (
              SELECT d.event_type, d.day, t.n_days, t.t_tot,
                     CAST(CAST(d.c AS DECIMAL(38,0)) * t.n_days * 20
                          - t.t_tot * 21 AS DECIMAL(38,0)) AS e_up,
                     CAST(t.t_tot * 19
                          - CAST(d.c AS DECIMAL(38,0)) * t.n_days * 20 AS DECIMAL(38,0)) AS e_dn
              FROM daily d JOIN tot t USING (event_type)),
            pre AS (
              SELECT *,
                     sum(e_up) OVER (PARTITION BY event_type ORDER BY day) AS p_up,
                     sum(e_dn) OVER (PARTITION BY event_type ORDER BY day) AS p_dn
              FROM dev),
            cus AS (
              SELECT event_type, day, n_days, t_tot,
                     p_up - least(CAST(0 AS DECIMAL(38,0)),
                       min(p_up) OVER (PARTITION BY event_type ORDER BY day)) AS s_up,
                     p_dn - least(CAST(0 AS DECIMAL(38,0)),
                       min(p_dn) OVER (PARTITION BY event_type ORDER BY day)) AS s_dn,
                     t_tot * 5 AS h
              FROM pre)
            SELECT event_type,
                   round(CAST(max(s_up) AS DOUBLE)
                     / (CAST(any_value(n_days) AS DOUBLE) * 20.0), 9) AS max_cusum_up,
                   CAST(sum(CASE WHEN s_up > h THEN 1 ELSE 0 END) AS BIGINT) AS up_alarm_days,
                   coalesce(CAST(min(CASE WHEN s_up > h THEN day END) AS VARCHAR), 'none')
                     AS first_up_alarm,
                   round(CAST(max(s_dn) AS DOUBLE)
                     / (CAST(any_value(n_days) AS DOUBLE) * 20.0), 9) AS max_cusum_down,
                   CAST(sum(CASE WHEN s_dn > h THEN 1 ELSE 0 END) AS BIGINT) AS dn_alarm_days,
                   coalesce(CAST(min(CASE WHEN s_dn > h THEN day END) AS VARCHAR), 'none')
                     AS first_dn_alarm
            FROM cus
            GROUP BY event_type
            ORDER BY event_type"""))

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution — the
    * industry-standard companion to q189's linear split: first and last
    * touch take 40% of the conversion value each, the middle touches
    * split the remaining 20% evenly (1-touch journeys take 100%, 2-touch
    * 50/50, no-touch conversions stay "(direct)"). Same join frame as
    * q189 — the 7-day range predicate lives IN the left-join condition so
    * touch-less purchases survive as direct rows — plus one per-purchase
    * position window (row_number over (ts, channel): bounded by the
    * 7-day touch fan-out, never corpus-wide). Credits round at 15 dp and
    * ride the fixed-point exact sum; both engines derive the weight from
    * the same (position, k) closed form in IEEE doubles.
    */
  def uShapedAttribution(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events.select("event_id", "user_id", "ts", "event_type", "value")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value"))
    val touches = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts").as("t_ts"))
    val joined = purchases.as("p").join(touches.as("t"),
      col("p.user_id") === col("t.user_id")
        && col("t.t_ts") < col("p.p_ts")
        && col("t.t_ts") >= col("p.p_ts") - expr("INTERVAL 7 DAYS"),
      "left")
    val w = Window.partitionBy("purchase_id")
    val pw = Window.partitionBy("purchase_id").orderBy(col("t_ts"), col("channel"))
    val weight =
      when(col("k") === 1, lit(1.0))
        .when(col("k") === 2, lit(0.5))
        .when(col("pos") === 1 || col("pos") === col("k"), lit(0.4))
        .otherwise(lit(0.2) / (col("k") - 2).cast("double"))
    val credited = joined
      .withColumn("k", count(col("t_ts")).over(w))
      .withColumn("pos", when(col("t_ts").isNotNull, row_number().over(pw)))
      .select(
        coalesce(col("channel"), lit("(direct)")).as("channel"),
        col("purchase_id"),
        when(col("k") > 0, round(col("value") * weight, 15))
          .otherwise(col("value")).as("credit"))
    credited.groupBy("channel")
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        round(Exact.sumFx(col("credit"), 15), 9).as("attributed_revenue"))
      .orderBy("channel")
  }

  private val q247 = GraftQuery(
    "q247_ushape_attribution",
    (s, dir) => uShapedAttribution(Tables.events(s, dir)),
    Some("""WITH e AS (
              SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
              FROM events),
            p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, value
                  FROM e WHERE event_type = 'purchase'),
            t AS (SELECT user_id, event_type AS channel, ts AS t_ts
                  FROM e WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT p.purchase_id, p.value, t.channel, t.t_ts
              FROM p LEFT JOIN t
                ON p.user_id = t.user_id
               AND t.t_ts < p.p_ts
               AND t.t_ts >= p.p_ts - INTERVAL 7 DAY),
            pos AS (
              SELECT *,
                     count(t_ts) OVER (PARTITION BY purchase_id) AS k,
                     CASE WHEN t_ts IS NOT NULL THEN
                       row_number() OVER (PARTITION BY purchase_id
                         ORDER BY t_ts, channel) END AS pos
              FROM j),
            credited AS (
              SELECT coalesce(channel, '(direct)') AS channel, purchase_id,
                     CASE WHEN k > 0 THEN round(value *
                       CASE WHEN k = 1 THEN 1.0
                            WHEN k = 2 THEN 0.5
                            WHEN pos = 1 OR pos = k THEN 0.4
                            ELSE 0.2 / CAST(k - 2 AS DOUBLE) END, 15)
                       ELSE value END AS credit
              FROM pos)
            SELECT channel, count(*) AS n_touches,
                   count(DISTINCT purchase_id) AS n_purchases,
                   round(""" + Exact.sumFxSql("credit", 15) + """, 9)
                     AS attributed_revenue
            FROM credited GROUP BY channel ORDER BY channel"""))

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven counterpart to q189's linear and q247's positional
    * heuristics: journeys become a first-order Markov chain over channel
    * states (start → {click, view}* → conv|null, one journey per
    * user-day, touches strictly before the day's first purchase), and a
    * channel's credit is its REMOVAL EFFECT — how much the chain's
    * start→conv absorption probability drops when the channel's state is
    * deleted (its inbound edges redirect to null).
    *
    * Scale/determinism split: the corpus-sized work (journey windows →
    * transition counts) is distributed; the chain itself is a ≤4×4
    * matrix — a BOUNDED artifact collected to the driver (the
    * Pca/centroid contract) and solved by 20 fixed-point iterations of
    * pᵗ⁺¹(s) = Σ_d prob(s,d)·value(d), each term rounded at 15 dp onto
    * the decimal grid and each iterate at 12 dp — the exact recurrence
    * the oracle replays as chained CTEs (probabilities round at 12 dp
    * from exact counts first, the q108 PageRank scheme). Three chains
    * run (base + one per removed channel); shares normalize on the
    * decimal grid.
    */
  private val MarkovIters = 20
  private val MarkovChannels = Seq("click", "view")

  /** Distributed derivation of (src, dst, cnt) journey transitions. */
  def markovTransitions(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col("user_id"), to_date(col("ts")).as("day"),
      col("ts"), col("event_id"), col("event_type"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "day").agg(min(col("ts")).as("fts"))
    val tt = ev.filter(col("event_type").isin(MarkovChannels: _*))
      .join(fp, Seq("user_id", "day"), "left")
      .filter(col("fts").isNull || col("ts") < col("fts"))
      .withColumnRenamed("event_type", "ch")
    val w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    val cw = Window.partitionBy("user_id", "day")
    val sq = tt
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag(col("ch"), 1).over(w))
      .withColumn("mx", count(lit(1)).over(cw))
    val starts = sq.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("ch").as("dst"))
    val chains = sq.filter(col("prev").isNotNull)
      .select(col("prev").as("src"), col("ch").as("dst"))
    val ends = sq.filter(col("rn") === col("mx"))
      .select(col("ch").as("src"),
        when(col("fts").isNotNull, lit("conv")).otherwise(lit("null")).as("dst"))
    val direct = fp.join(tt.select("user_id", "day").distinct(),
        Seq("user_id", "day"), "left_anti")
      .select(lit("start").as("src"), lit("conv").as("dst"))
    starts.union(chains).union(ends).union(direct)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
  }

  private val q257 = GraftQuery(
    "q257_markov_attribution",
    (s, dir) => {
      import s.implicits._
      import java.math.{BigDecimal => JBD, RoundingMode}
      def r(x: Double, sc: Int): JBD = JBD.valueOf(x).setScale(sc, RoundingMode.HALF_UP)
      // BOUNDED collect: <= (channels + start)^2 + absorbers transition cells
      val trans = markovTransitions(Tables.events(s, dir)).collect()
        .map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
      def convProb(removed: Option[String]): Double = {
        val adj = trans.toSeq
          .filterNot { case ((src, _), _) => removed.contains(src) }
          .map { case ((src, dst), c) =>
            (src, if (removed.contains(dst)) "null" else dst) -> c
          }
          .groupMapReduce(_._1)(_._2)(_ + _)
        // transient states = DISTINCT sources actually present (the
        // oracle's p_0 CTE); a state reachable but source-less
        // contributes p = 0 via the coalesce below, exactly as the SQL's
        // left join does
        val srcs = adj.keys.map(_._1).toSeq.distinct.sorted
        val rowsum = srcs.map(sr =>
          sr -> adj.collect { case ((`sr`, _), c) => c }.sum).toMap
        def prob(sr: String, d: String): Double =
          r(adj.getOrElse((sr, d), 0L).toDouble / rowsum(sr).toDouble, 12).doubleValue
        var p = srcs.map(_ -> 0.0).toMap
        for (_ <- 1 to MarkovIters) {
          p = srcs.map { sr =>
            val terms = adj.keys.toSeq.filter(_._1 == sr).sortBy(_._2).map { case (_, d) =>
              val v = d match {
                case "conv" => 1.0
                case "null" => 0.0
                case t => p.getOrElse(t, 0.0)
              }
              r(prob(sr, d) * v, 15)
            }
            val sum = terms.foldLeft(JBD.ZERO)(_.add(_))
            sr -> r(sum.doubleValue, 12).doubleValue
          }.toMap
        }
        p("start")
      }
      val base = convProb(None)
      // degenerate-data guards (q263 zero-variance contract): base = 0
      // (no conversions) NULLs every removal_effect; a zero/absent total
      // NULLs the shares — never NaN/Infinity on either engine
      val effects = MarkovChannels.map { c =>
        val rp = convProb(Some(c))
        val re = if (base > 0.0) Some(r((base - rp) / base, 12).doubleValue) else None
        (c, rp, re)
      }
      val totRe = effects.flatMap(_._3).map(r(_, 12)).foldLeft(JBD.ZERO)(_.add(_)).doubleValue
      val rows = effects.map { case (c, rp, re) =>
        (c, base, rp, re,
          re.flatMap(x => if (totRe > 0.0) Some(r(x / totRe, 12).doubleValue) else None))
      }
      rows.toDF("channel", "base_conv_prob", "removal_conv_prob",
        "removal_effect", "attribution_share").orderBy("channel")
    },
    Some {
      def chainCtes(tag: String, removed: Option[String]): String = {
        // MATERIALIZED throughout: each of the 20 iteration CTEs references
        // the probability table — left to inline, DuckDB would replay the
        // journey-window pipeline 60+ times (the q108 PageRank lesson)
        val trCte = removed match {
          case None => s"tr_$tag AS MATERIALIZED (SELECT src, dst, cnt FROM tr)"
          case Some(c) =>
            s"""tr_$tag AS MATERIALIZED (
                 SELECT src, CASE WHEN dst = '$c' THEN 'null' ELSE dst END AS dst,
                        sum(cnt) AS cnt
                 FROM tr WHERE src <> '$c' GROUP BY 1, 2)"""
        }
        val sb = new StringBuilder(s"""$trCte,
             pr_$tag AS MATERIALIZED (
               SELECT src, dst,
                      round(CAST(cnt AS DOUBLE)
                        / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE), 12) AS prob
               FROM tr_$tag),
             p${tag}_0 AS MATERIALIZED (
               SELECT DISTINCT src AS state, CAST(0 AS DOUBLE) AS p FROM tr_$tag)""")
        for (i <- 1 to MarkovIters) {
          sb.append(s""",
             p${tag}_$i AS MATERIALIZED (
               SELECT t.src AS state,
                      round(CAST(sum(CAST(round(t.prob
                          * CASE WHEN t.dst = 'conv' THEN 1.0
                                 WHEN t.dst = 'null' THEN 0.0
                                 ELSE coalesce(pv.p, 0.0) END, 15)
                        AS DECIMAL(38,15))) AS DOUBLE), 12) AS p
               FROM pr_$tag t
               LEFT JOIN p${tag}_${i - 1} pv ON t.dst = pv.state
               GROUP BY 1)""")
        }
        sb.toString
      }
      val chains = Seq(("b", None)) ++
        MarkovChannels.map(c => (s"rm_$c", Some(c)))
      s"""WITH ev AS (
            SELECT user_id,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                   CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
            FROM events),
          fp AS (SELECT user_id, day, min(ts) AS fts
                 FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
          tt AS (SELECT e.user_id, e.day, e.ts, e.event_id, e.event_type AS ch, f.fts
                 FROM ev e LEFT JOIN fp f USING (user_id, day)
                 WHERE e.event_type IN (${MarkovChannels.map("'" + _ + "'").mkString(", ")})
                   AND (f.fts IS NULL OR e.ts < f.fts)),
          sq AS (SELECT *,
                        row_number() OVER (PARTITION BY user_id, day
                          ORDER BY ts, event_id) AS rn,
                        lag(ch) OVER (PARTITION BY user_id, day
                          ORDER BY ts, event_id) AS prev,
                        count(*) OVER (PARTITION BY user_id, day) AS mx
                 FROM tt),
          tr0 AS (
            SELECT 'start' AS src, ch AS dst FROM sq WHERE rn = 1
            UNION ALL SELECT prev, ch FROM sq WHERE prev IS NOT NULL
            UNION ALL SELECT ch, CASE WHEN fts IS NOT NULL THEN 'conv' ELSE 'null' END
                      FROM sq WHERE rn = mx
            UNION ALL SELECT 'start', 'conv'
                      FROM fp LEFT JOIN (SELECT DISTINCT user_id, day FROM tt) td
                        USING (user_id, day)
                      WHERE td.user_id IS NULL),
          tr AS MATERIALIZED (SELECT src, dst, count(*) AS cnt FROM tr0 GROUP BY 1, 2),
          ${chains.map { case (tag, rm) => chainCtes(tag, rm) }.mkString(",\n          ")},
          res AS (
            ${MarkovChannels.map { c =>
              s"""SELECT '$c' AS channel,
                    (SELECT p FROM pb_$MarkovIters WHERE state = 'start') AS base_conv_prob,
                    (SELECT p FROM prm_${c}_$MarkovIters WHERE state = 'start') AS removal_conv_prob"""
            }.mkString("\n            UNION ALL ")}),
          re AS (SELECT channel, base_conv_prob, removal_conv_prob,
                        CASE WHEN base_conv_prob > 0.0 THEN
                          round((base_conv_prob - removal_conv_prob) / base_conv_prob, 12)
                        END AS removal_effect
                 FROM res),
          tot AS (SELECT CAST(sum(CAST(removal_effect AS DECIMAL(38,12))) AS DOUBLE) AS t
                  FROM re)
          SELECT channel, base_conv_prob, removal_conv_prob, removal_effect,
                 CASE WHEN t > 0.0 THEN round(removal_effect / t, 12) END
                   AS attribution_share
          FROM re CROSS JOIN tot
          ORDER BY channel"""
    })

  /** KMV (k-minimum-values) distinct sketch (Bar-Yossef et al. 2002) —
    * the third cardinality estimator next to q66's HLL and q29's
    * approx_count_distinct, and the one whose estimate REPLAYS exactly:
    * the k-th smallest of the portable 60-bit md5 hashes determines
    * est = (k−1)/u₍ₖ₎, so DuckDB recomputes the identical hashes, ranks
    * them, and reproduces the estimate bit-for-bit — no error-bound
    * booleans needed, the values themselves match. Rank rides the raw
    * INTEGER hash (u = h/2⁶⁰ is monotonic in h), so no double-rounding
    * tie can disagree. Per-type distinct-hash frames carry the rank
    * window here; the bounded-heap TopKAgg is the drop-in at corpus
    * scale (the q36 contract). Types with < k distinct users report the
    * exact count (the KMV small-set rule).
    */
  private val KmvK = 64
  private val q258 = GraftQuery(
    "q258_kmv_distinct",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pow60 = math.pow(2.0, 60.0)
      val h = Tables.events(s, dir)
        .select(col("event_type"),
          expr("conv(substring(md5(cast(user_id as string)), 1, 15), 16, 10)")
            .cast("long").as("h"))
        .distinct()
      val n = h.groupBy("event_type").agg(count(lit(1)).as("n_distinct"))
      val kth = h
        .withColumn("rk", row_number().over(
          Window.partitionBy("event_type").orderBy("h")))
        .filter(col("rk") === KmvK)
        .select(col("event_type"), col("h").as("hk"))
      n.join(kth, Seq("event_type"), "left")
        .select(col("event_type"), col("n_distinct"),
          when(col("hk").isNotNull,
            round(col("hk").cast("double") / lit(pow60), 12)).as("kth_u"),
          when(col("hk").isNotNull,
            round(lit((KmvK - 1).toDouble)
              / (col("hk").cast("double") / lit(pow60)), 6))
            .otherwise(col("n_distinct").cast("double")).as("est_distinct"))
        .withColumn("rel_err",
          round(abs(col("est_distinct") - col("n_distinct").cast("double"))
            / col("n_distinct").cast("double"), 12))
        .orderBy("event_type")
    },
    Some(s"""WITH h AS (
              SELECT DISTINCT event_type,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
              FROM events),
            n AS (SELECT event_type, count(*) AS n_distinct FROM h GROUP BY 1),
            kth AS (
              SELECT event_type, h AS hk FROM (
                SELECT event_type, h, row_number() OVER (PARTITION BY event_type
                  ORDER BY h) AS rk FROM h)
              WHERE rk = $KmvK),
            j AS (
              SELECT n.event_type, n.n_distinct,
                     CASE WHEN kth.hk IS NOT NULL
                       THEN round(CAST(kth.hk AS DOUBLE) / ${math.pow(2.0, 60.0)}, 12)
                     END AS kth_u,
                     CASE WHEN kth.hk IS NOT NULL
                       THEN round(${(KmvK - 1).toDouble}
                         / (CAST(kth.hk AS DOUBLE) / ${math.pow(2.0, 60.0)}), 6)
                       ELSE CAST(n.n_distinct AS DOUBLE) END AS est_distinct
              FROM n LEFT JOIN kth ON n.event_type = kth.event_type)
            SELECT event_type, n_distinct, kth_u, est_distinct,
                   round(abs(est_distinct - CAST(n_distinct AS DOUBLE))
                     / CAST(n_distinct AS DOUBLE), 12) AS rel_err
            FROM j ORDER BY event_type"""))

  /** Two-proportion z-test per event type (the categorical member of the
    * q215/q216/q217 two-sample family): does the share of active users
    * emitting each event type differ between the observation window's
    * first 15 days and the rest? Proportions come from exact
    * distinct-user counts per half (one hash aggregate each), the pooled
    * z closed form is a shared IEEE sequence over those integers, z
    * rounds at 12 dp before the |z| > 1.96 verdict. The day split
    * anchors on the globally minimal day (q184's broadcast-scalar
    * contract), so both engines cut the identical boundary.
    */
  private val q263 = GraftQuery(
    "q263_two_proportion_z",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val d0 = ev.agg(min(col("day")).as("d0"))
      val withHalf = ev.crossJoin(broadcast(d0))
        .withColumn("half", when(datediff(col("day"), col("d0")) < 15, 1).otherwise(2))
      val active = withHalf.select("half", "user_id").distinct()
        .groupBy("half").agg(count(lit(1)).as("n"))
      val typed = withHalf.select("half", "event_type", "user_id").distinct()
        .groupBy("half", "event_type").agg(count(lit(1)).as("x"))
      val wide = typed
        .join(broadcast(active), "half")
        .groupBy("event_type")
        .agg(
          sum(when(col("half") === 1, col("x"))).as("x1"),
          sum(when(col("half") === 1, col("n"))).as("n1"),
          sum(when(col("half") === 2, col("x"))).as("x2"),
          sum(when(col("half") === 2, col("n"))).as("n2"))
      val p1 = col("x1").cast("double") / col("n1").cast("double")
      val p2 = col("x2").cast("double") / col("n2").cast("double")
      val pp = (col("x1") + col("x2")).cast("double") /
        (col("n1") + col("n2")).cast("double")
      val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp)
        * (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
      // degenerate pooled proportion (everyone or no one converted in both
      // halves) has zero variance — z is undefined, not infinite
      val zGuarded = when(
        col("x1") + col("x2") > 0 && col("x1") + col("x2") < col("n1") + col("n2"),
        round(z, 12))
      wide.select(col("event_type"), col("x1"), col("n1"), col("x2"), col("n2"),
          round(p1, 12).as("rate1"), round(p2, 12).as("rate2"),
          zGuarded.as("z"))
        .withColumn("verdict",
          when(col("z").isNull, lit("undefined"))
            .when(abs(col("z")) > 1.96, lit("significant"))
            .otherwise(lit("ns")))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
              FROM events),
            d0 AS (SELECT min(day) AS d0 FROM ev),
            wh AS (SELECT user_id, event_type,
                          CASE WHEN datediff('day', d0, day) < 15 THEN 1 ELSE 2 END
                            AS half
                   FROM ev CROSS JOIN d0),
            active AS (
              SELECT half, count(*) AS n FROM (
                SELECT DISTINCT half, user_id FROM wh) GROUP BY 1),
            typed AS (
              SELECT half, event_type, count(*) AS x FROM (
                SELECT DISTINCT half, event_type, user_id FROM wh) GROUP BY 1, 2),
            wide AS (
              SELECT t.event_type,
                     CAST(sum(CASE WHEN t.half = 1 THEN t.x END) AS BIGINT) AS x1,
                     CAST(sum(CASE WHEN t.half = 1 THEN a.n END) AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN t.half = 2 THEN t.x END) AS BIGINT) AS x2,
                     CAST(sum(CASE WHEN t.half = 2 THEN a.n END) AS BIGINT) AS n2
              FROM typed t JOIN active a USING (half)
              GROUP BY 1),
            zed AS (
              SELECT event_type, x1, n1, x2, n2,
                     round(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE), 12) AS rate1,
                     round(CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE), 12) AS rate2,
                     CASE WHEN x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
                       round((CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                           - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                         / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                           * (1.0 - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                           * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))), 12)
                     END AS z
              FROM wide)
            SELECT event_type, x1, n1, x2, n2, rate1, rate2, z,
                   CASE WHEN z IS NULL THEN 'undefined'
                        WHEN abs(z) > 1.96 THEN 'significant'
                        ELSE 'ns' END AS verdict
            FROM zed ORDER BY event_type"""))

  /** Kaplan–Meier survival estimator (Kaplan & Meier 1958) — the
    * time-to-event operator the cohort family (q69 funnel, q247/q257
    * attribution) was missing: time from a user's first `signup` to their
    * first subsequent `purchase`, right-censored at the corpus's last
    * observed instant for users who never convert. Per distinct duration
    * day t: n_risk (standard convention — deaths at t precede censoring
    * at t), d events, c censored, and S(t) = Π_{s≤t}(1 − d_s/n_s).
    *
    * Plan shape: two event-type-filtered aggregates (signup min, first
    * qualifying purchase min) join per user — one shuffle each, filters
    * pushed to the scan — then EVERYTHING downstream operates on the
    * duration CENSUS, which is bounded by the observation window in days
    * (≤ |calendar|), never the user count: the at-risk ledger and the
    * survival product are windows over that tiny frame. At 100 TB the
    * censored/event counts are the only thing that grows.
    *
    * Determinism: d/n is an exact-integer double division (correctly
    * rounded, identical cross-engine); the product runs in log space with
    * each ln(1 − d/n) ROUNDED AT 12 onto a DECIMAL(38,12) grid before the
    * exact window sum (the q251 round-before-sum contract, since ln may
    * differ by 1 ulp between engines), and exp rounds at 9 on display. A
    * step where d = n_risk zeroes survival from that day on (ln(0) guard).
    */
  private val q268 = GraftQuery(
    "q268_kaplan_meier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, dir)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t0"))
      val fp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
        .join(su, "user_id").filter(col("ts") >= col("t0"))
        .groupBy("user_id").agg(min(col("ts")).as("tp"))
      val mx = ev.agg(max(col("ts")).as("tmax"))
      val obs = su.join(fp, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(col("tp").isNotNull,
            datediff(to_date(col("tp")), to_date(col("t0"))))
            .otherwise(datediff(to_date(col("tmax")), to_date(col("t0"))))
            .cast("long").as("dur"),
          col("tp").isNotNull.as("event"))
      val cen = obs.groupBy("dur").agg(
        sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("event"), 0L).otherwise(1L)).as("c"))
      val wAll = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wPrev = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wUpto = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = cen.withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll)
          - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      val lf = risk
        .withColumn("lfac",
          when(col("d") > 0 && col("d") < col("n_risk"),
            round(log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")), 12))
            .otherwise(lit(0.0)).cast(DecimalType(38, 12)))
        .withColumn("zeroed", when(col("d") >= col("n_risk"), 1).otherwise(0))
      lf.select(
          col("dur").as("duration_days"),
          col("n_risk"), col("d").as("n_events"), col("c").as("n_censored"),
          when(max(col("zeroed")).over(wUpto) === 1, lit(0.0))
            .otherwise(round(exp(sum(col("lfac")).over(wUpto).cast("double")), 9))
            .as("survival"))
        .orderBy("duration_days")
    },
    Some("""WITH su AS (
              SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t0
              FROM events WHERE event_type = 'signup' GROUP BY 1),
            fp AS (
              SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS tp
              FROM events e JOIN su ON e.user_id = su.user_id
              WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= su.t0
              GROUP BY 1),
            mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS tmax FROM events),
            obs AS (
              SELECT CASE WHEN fp.tp IS NOT NULL
                       THEN date_diff('day', CAST(su.t0 AS DATE), CAST(fp.tp AS DATE))
                       ELSE date_diff('day', CAST(su.t0 AS DATE), CAST(mx.tmax AS DATE)) END AS dur,
                     fp.tp IS NOT NULL AS event
              FROM su LEFT JOIN fp ON su.user_id = fp.user_id CROSS JOIN mx),
            cen AS (
              SELECT dur, sum(CASE WHEN event THEN 1 ELSE 0 END) AS d,
                          sum(CASE WHEN event THEN 0 ELSE 1 END) AS c
              FROM obs GROUP BY 1),
            w AS (
              SELECT dur, d, c,
                     sum(d + c) OVER () - coalesce(sum(d + c) OVER (ORDER BY dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
              FROM cen),
            lf AS (
              SELECT dur, d, c, n_risk,
                     CAST(CASE WHEN d > 0 AND d < n_risk
                       THEN round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 12)
                       ELSE 0.0 END AS DECIMAL(38,12)) AS lfac,
                     CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS zeroed
              FROM w)
            SELECT dur AS duration_days, CAST(n_risk AS BIGINT) AS n_risk,
                   CAST(d AS BIGINT) AS n_events, CAST(c AS BIGINT) AS n_censored,
                   CASE WHEN max(zeroed) OVER (ORDER BY dur) = 1 THEN 0.0
                        ELSE round(exp(CAST(sum(lfac) OVER (ORDER BY dur
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 9)
                   END AS survival
            FROM lf ORDER BY duration_days"""))

  /** Markov-chain entropy profile of the q257 journey transitions — the
    * information-theoretic "how predictable is the next step" diagnostic
    * next to q257's removal-effect attribution: per state, the Shannon
    * entropy H(next | state) = −Σ_j p_ij·log₂(p_ij) over the state's
    * outgoing transition distribution, its empirical visit weight, and
    * the weighted contribution to the plug-in entropy-RATE estimate
    * (visit-frequency-weighted, the standard empirical estimator — no
    * stationary-distribution solve; the weights ARE the observed visits).
    *
    * Scale: the transition derivation is q257's one shuffle over journey
    * windows; everything after operates on the (states × states) census
    * — ≤ (channels+1)² + absorber cells, corpus-size-independent. Per-row
    * entropy terms round at 15 before the order-free exact sum (sumFx);
    * probabilities are exact-integer double divisions.
    */
  private val q272 = GraftQuery(
    "q272_markov_entropy",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tr = markovTransitions(Tables.events(s, dir))
      val wSrc = Window.partitionBy("src")
      val wAll = Window.partitionBy()
      val p = tr
        .withColumn("rowsum", sum(col("cnt")).over(wSrc))
        .withColumn("tot", sum(col("cnt")).over(wAll))
        .withColumn("pij", col("cnt").cast("double") / col("rowsum").cast("double"))
      val h = p.groupBy(col("src"), col("rowsum"), col("tot"))
        .agg(Exact.sumFx(
          when(col("pij") > 0.0, -col("pij") * log2(col("pij"))).otherwise(lit(0.0)),
          15).as("h_bits"))
      h.select(
          col("src").as("state"),
          col("rowsum").as("n_visits"),
          round(col("rowsum").cast("double") / col("tot").cast("double"), 12).as("visit_share"),
          round(col("h_bits"), 9).as("h_bits"),
          round((col("rowsum").cast("double") / col("tot").cast("double"))
            * col("h_bits"), 9).as("rate_contribution"))
        .orderBy("state")
    },
    Some {
      val term = Exact.sumFxSql(
        "CASE WHEN pij > 0.0 THEN -pij * log2(pij) ELSE 0.0 END", 15)
      s"""WITH ev AS (
            SELECT user_id,
                   CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                   CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
            FROM events),
          fp AS (SELECT user_id, day, min(ts) AS fts
                 FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
          tt AS (SELECT e.user_id, e.day, e.ts, e.event_id, e.event_type AS ch, f.fts
                 FROM ev e LEFT JOIN fp f USING (user_id, day)
                 WHERE e.event_type IN (${MarkovChannels.map("'" + _ + "'").mkString(", ")})
                   AND (f.fts IS NULL OR e.ts < f.fts)),
          sq AS (SELECT *,
                        row_number() OVER (PARTITION BY user_id, day
                          ORDER BY ts, event_id) AS rn,
                        lag(ch) OVER (PARTITION BY user_id, day
                          ORDER BY ts, event_id) AS prev,
                        count(*) OVER (PARTITION BY user_id, day) AS mx
                 FROM tt),
          tr0 AS (
            SELECT 'start' AS src, ch AS dst FROM sq WHERE rn = 1
            UNION ALL SELECT prev, ch FROM sq WHERE prev IS NOT NULL
            UNION ALL SELECT ch, CASE WHEN fts IS NOT NULL THEN 'conv' ELSE 'null' END
                      FROM sq WHERE rn = mx
            UNION ALL SELECT 'start', 'conv'
                      FROM fp LEFT JOIN (SELECT DISTINCT user_id, day FROM tt) td
                        USING (user_id, day)
                      WHERE td.user_id IS NULL),
          tr AS (SELECT src, dst, count(*) AS cnt FROM tr0 GROUP BY 1, 2),
          p AS (
            SELECT src, dst, cnt,
                   sum(cnt) OVER (PARTITION BY src) AS rowsum,
                   sum(cnt) OVER () AS tot,
                   CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY src) AS DOUBLE) AS pij
            FROM tr),
          h AS (
            SELECT src, rowsum, tot, $term AS h_bits
            FROM p GROUP BY 1, 2, 3)
          SELECT src AS state, CAST(rowsum AS BIGINT) AS n_visits,
                 round(CAST(rowsum AS DOUBLE) / CAST(tot AS DOUBLE), 12) AS visit_share,
                 round(h_bits, 9) AS h_bits,
                 round((CAST(rowsum AS DOUBLE) / CAST(tot AS DOUBLE)) * h_bits, 9)
                   AS rate_contribution
          FROM h ORDER BY state"""
    })

  def all: Seq[GraftQuery] =
    Seq(q25, q26, q27, q28, q29, q46, q56, q62, q66, q67, q69, q81, q83, q88,
      q97, q101, q106, q107, q110, q111, q114, q122, q123, q147, q152, q160,
      q166, q183, q189, q237, q240, q247, q257, q258, q263, q268, q272)
}
