package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.{Exact, TopKAgg}
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** Bounded top-k aggregation and as-of (point-in-time) join. */
object AdvancedQueries {

  /** Top-3 orders by total price per order priority, via the bounded
    * [[TopKAgg]] aggregator (O(groups·k) shuffle, no full window sort).
    * Oracle: the window-function formulation — same rows, so the
    * aggregator's bounded buffers are proven exact.
    */
  private val q36 = GraftQuery(
    "q36_topk_per_group",
    (s, dir) => {
      val topk = TopKAgg.topK(3)
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("o_orderpriority"),
          col("t.id").as("o_orderkey"),
          col("t.score").as("o_totalprice"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("o_orderpriority", "rank")
    },
    Some("""SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
                  FROM orders)
            WHERE rn <= 3 ORDER BY o_orderpriority, rank"""))

  /** Last-click attribution: each purchase event joined as-of to the same
    * user's most recent click (equal timestamps match). Oracle: DuckDB's
    * native ASOF LEFT JOIN over the same µs-truncated timestamps.
    */
  private val q37 = GraftQuery(
    "q37_asof_attribution",
    (s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val clicks = e.filter(col("event_type") === "click").drop("event_type")
      AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "ts"), prefix = "click_")
        .select("event_id", "user_id", "ts", "click_event_id", "click_ts")
        .orderBy("event_id")
    },
    Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                       FROM events),
                 p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
                 c AS (SELECT user_id, ts, max(event_id) AS click_event_id
                       FROM e WHERE event_type = 'click' GROUP BY user_id, ts)
            SELECT p.event_id, p.user_id, p.ts,
                   c.click_event_id, c.ts AS click_ts
            FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY p.event_id"""))

  /** ROLLUP aggregation: revenue by (returnflag, linestatus) with subtotal
    * and grand-total rows — one shuffle, Expand feeds the grouping sets.
    */
  private val q38 = GraftQuery(
    "q38_rollup_agg",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"),
          graft.functions.Exact.sumD(col("l_extendedprice")).as("sum_price"))
        .orderBy(
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  /** Set operations: customers with orders in both halves of the date range
    * (INTERSECT) minus high-value outliers (EXCEPT).
    */
  private val q39 = GraftQuery(
    "q39_set_ops",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val early = o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_custkey")
      val late = o.filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .select("o_custkey")
      val big = o.filter(col("o_totalprice") > 400000.0).select("o_custkey")
      early.intersect(late).except(big).orderBy("o_custkey")
    },
    Some("""(SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
            ORDER BY o_custkey"""))

  /** Pivot: per-day event counts spread across the (closed) event-type
    * vocabulary. Explicit value list keeps the output schema static — the
    * only pivot form that scales (value discovery is itself a distinct
    * scan). Oracle: conditional aggregation.
    */
  private val q40 = GraftQuery(
    "q40_pivot_event_types",
    (s, dir) =>
      Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("day"),
    Some("""SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1 ORDER BY day"""))

  /** Shipping-priority top-10 (TPC-H Q3 shape): selective filters on both
    * fact inputs, 3-way join, grouped revenue, bounded sort. Catalyst
    * broadcast-joins the filtered customer side and plans the LIMIT as
    * TakeOrdered — no full sort.
    */
  private val q41 = GraftQuery(
    "q41_ship_priority",
    (s, dir) => {
      val cutoff = lit("1996-06-30").cast("timestamp")
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-06-30'
              AND l_shipdate > TIMESTAMP '1996-06-30'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  /** Local-supplier revenue per nation (TPC-H Q5 shape): a 6-way snowflake
    * join — lineitem at the center, dimension chain broadcast end to end,
    * with the supplier/customer co-nation condition.
    */
  private val q42 = GraftQuery(
    "q42_local_supplier_volume",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(s, dir).select("n_nationkey", "n_name", "n_regionkey")
      val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
    Some("""SELECT n_name,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  /** Window frames: per-user running event count and 3-row moving value
    * average in event-time order — the "running balance" idiom over the
    * reference's snapshot tables, expressed as one shuffle on the
    * partition key plus an in-partition sort.
    */
  private val q43 = GraftQuery(
    "q43_running_window_frames",
    (s, dir) => {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .filter(col("user_id") < 10)
        .select(
          col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(byUser
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
            .as("running_events"),
          (sum(col("value").cast("decimal(30,4)")).over(byUser.rowsBetween(-2, 0))
            .cast("double") /
            count(lit(1)).over(byUser.rowsBetween(-2, 0)))
            .as("moving_avg3"))
        .orderBy("user_id", "ts", "event_id")
    },
    Some("""SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                   count(*) OVER w AS running_events,
                   CAST(sum(CAST(value AS DECIMAL(30,4))) OVER w3 AS DOUBLE)
                     / count(*) OVER w3 AS moving_avg3
            FROM events WHERE user_id < 10
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, ts, event_id"""))

  /** ANALYZE-style table profile: one pass over lineitem computes row
    * count, null count, exact NDV, and numeric min/max for six columns,
    * unpivoted to long form with `stack`. Multiple exact DISTINCT
    * aggregates ride Spark's Expand rewrite — one shuffle total, map-side
    * partials intact (the production variant swaps exact NDV for
    * approx_count_distinct to drop the expand factor; exact here because
    * the oracle must match bit-for-bit).
    */
  private val q60 = {
    val numeric = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    val strings = Seq("l_returnflag", "l_linestatus")
    val profiled = numeric ++ strings
    GraftQuery(
      "q60_table_profile",
      (s, dir) => {
        // one branch per profiled column instead of one 6-distinct
        // aggregate (round 13, guide §2.3): the multi-countDistinct form
        // rode Spark's Expand rewrite — 600 k rows ×13 through the map
        // stage (the single most expensive stage of the round-12 bench's
        // q60, 1.2 + 1.4 s Expand agg jobs even widened). A SINGLE
        // distinct aggregate per branch uses the two-phase partial-
        // distinct rewrite with no Expand, each branch scans ONE column
        // (parquet-pruned), and the six branches execute as concurrent
        // stages under the union. Exact integer counts and exact min/max
        // doubles, so the stacked output is bit-identical.
        val branches = profiled.map { c =>
          val (mn, mx) =
            if (numeric.contains(c))
              (min(col(c).cast("double")), max(col(c).cast("double")))
            else (lit(null).cast("double"), lit(null).cast("double"))
          graft.Tables.widen(Tables.lineitem(s, dir).select(col(c)))
            .agg(
              count(lit(1)).as("n_rows"),
              (count(lit(1)) - count(col(c))).as("n_nulls"),
              countDistinct(col(c)).as("n_distinct"),
              mn.as("min_d"), mx.as("max_d"))
            .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
              col("n_distinct"), col("min_d"), col("max_d"))
        }
        branches.reduce(_.unionByName(_)).orderBy("col_name")
      },
      Some(profiled.map { c =>
        val (mn, mx) =
          if (numeric.contains(c)) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)")
          else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
               count(*) - count($c) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               $mn AS min_d, $mx AS max_d FROM lineitem"""
      }.mkString(" UNION ALL ") + " ORDER BY col_name"))
  }

  /** q37's as-of attribution planned through the CUSTOM physical operator
    * ([[graft.plans.AsOfJoinExec]]: logical node → strategy → co-partitioned
    * merge-scan) instead of the window formulation — same DuckDB ASOF
    * oracle, so the custom plan path is hash-verified end to end.
    */
  private val q61 = GraftQuery(
    "q61_asof_custom_exec",
    (s, dir) => {
      val e = Tables.events(s, dir).select("event_id", "user_id", "ts", "event_type")
      val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
      val clicks = e.filter(col("event_type") === "click").drop("event_type")
      graft.plans.AsOfJoinPlan.asOfExec(
        purchases, clicks, Seq("user_id"), "ts", "ts",
        rightPayload = Seq("event_id", "ts"), prefix = "click_")
        .select("event_id", "user_id", "ts", "click_event_id", "click_ts")
        .orderBy("event_id")
    },
    q37.oracle)

  /** Bloom semi-join reduction ([[graft.operators.BloomSemiJoin]]):
    * lineitem pruned by a bloom over one nation's suppliers before the
    * shuffled join. The exact join clears bloom false positives, so the
    * result — and therefore the oracle — is the plain join's; the sketch
    * only moves the shuffle volume.
    */
  private val q68 = GraftQuery(
    "q68_bloom_semi_join",
    (s, dir) => {
      val suppliers = Tables.supplier(s, dir)
        .filter(col("s_nationkey") === 3)
        .select("s_suppkey", "s_name")
      val li = Tables.lineitem(s, dir)
        .select("l_suppkey", "l_extendedprice", "l_discount")
      graft.operators.BloomSemiJoin
        .reduceThenJoin(li, "l_suppkey", suppliers, "s_suppkey",
          expectedKeys = 10000L)
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n_items"),
          Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_nationkey = 3
            GROUP BY s_suppkey, s_name ORDER BY s_suppkey"""))

  /** Z-order clustered write under the oracle gate: orders re-laid-out on
    * the (o_custkey, o_totalprice) Morton curve
    * ([[graft.operators.Layout.writeZOrdered]]) and read back — the hash
    * compare proves the layout path moves/sorts/drops its curve column
    * without losing, duplicating, or mutating a single row. The actual
    * multi-dimensional file-skipping win is LayoutSpec's job; this row
    * makes the write path itself driver-verified.
    */
  private val q82 = GraftQuery(
    "q82_zorder_readback",
    (s, dir) => {
      // Scratch: removed at JVM exit — the oracle re-derives from orders,
      // so nothing outside this run reads the z-ordered copy
      val out = Scratch.tempDir("graft_q82_z_") + "/zorders"
      graft.operators.Layout.writeZOrdered(
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        out, Seq("o_custkey", "o_totalprice"), files = 8)
      Tables.parquet(s, out).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM orders ORDER BY o_orderkey"""))

  /** Hilbert-curve clustered layout + readback — the locality-preserving
    * sibling of q82's Z-order: every curve step moves to a spatially
    * adjacent cell, so equal curve ranges (= files) map to tighter 2-D
    * boxes than Morton's quadrant teleports for the same file count.
    * LayoutSpec pins the curve properties (bijection, unit-step adjacency,
    * total jump length < Morton); this query hash-gates the write+read
    * round trip against the plain table.
    */
  private val q202 = GraftQuery(
    "q202_hilbert_readback",
    (s, dir) => {
      val out = Scratch.tempDir("graft_q202_h_") + "/hilbert"
      graft.operators.Layout.writeHilbertOrdered(
        Tables.orders(s, dir)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        out, Seq("o_custkey", "o_totalprice"), files = 8)
      Tables.parquet(s, out).orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM orders ORDER BY o_orderkey"""))

  /** VALUE-range window frames — the capability q43's ROWS frames don't
    * cover: a trailing-7-DAY revenue average per event type, where the
    * frame is `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` over the day
    * number, so gaps in the calendar shrink the window (a ROWS frame
    * would silently average over 7 *observations* regardless of their
    * spacing). Frame sums ride exact decimals, so accumulation order —
    * which differs between Spark's running frames and DuckDB's segment
    * trees — cannot change the result.
    */
  private val q91 = GraftQuery(
    "q91_range_frame_trailing",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day_i").rangeBetween(-6, 0)
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(30,4)")).as("rev_dec"))
        .withColumn("day_i", unix_date(col("day")))
        .select(
          col("event_type"), col("day"),
          col("rev_dec").cast("double").as("revenue"),
          count(lit(1)).over(w).as("n_days_7"),
          (sum(col("rev_dec")).over(w).cast("double")
            / count(lit(1)).over(w)).as("ma_7d"))
        .orderBy("event_type", "day")
    },
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     sum(CAST(value AS DECIMAL(30,4))) AS rev_dec
              FROM events GROUP BY 1, 2),
            d AS (SELECT event_type, day, rev_dec,
                         CAST(day - DATE '1970-01-01' AS BIGINT) AS day_i
                  FROM daily)
            SELECT event_type, day,
                   CAST(rev_dec AS DOUBLE) AS revenue,
                   count(*) OVER w AS n_days_7,
                   CAST(sum(rev_dec) OVER w AS DOUBLE) / count(*) OVER w AS ma_7d
            FROM d
            WINDOW w AS (PARTITION BY event_type ORDER BY day_i
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY event_type, day"""))

  /** Time-series resample + last-observation-carried-forward gap fill:
    * sparse hourly observations (high-value purchases) are projected onto
    * a dense hourly calendar spine per event type, each empty hour filled
    * from the latest prior observation — the standard resample/LOCF step
    * before any time-series model sees the data. The fill is the custom
    * as-of operator ([[graft.operators.AsOfJoin]], q37/q61's merge-scan
    * plan) against a generated spine (types × hour sequence). Scale
    * shape: the CORPUS-sized work is the pre-aggregation (one shuffle
    * with map-side partials); what reaches the as-of's per-key scan is
    * the RESAMPLED series — bounded by calendar length × type count
    * (a decade of hours is ~88k rows per type), never by corpus size.
    * A series keyed so finely that one key's resampled span outgrows a
    * task would instead bucket the spine by time range (the q62
    * RangeJoin pattern). Hours that carry forward show `locf_hr < hr`;
    * hours before the first observation stay null (ASOF LEFT semantics,
    * both engines).
    */
  private val q99 = GraftQuery(
    "q99_resample_locf",
    (s, dir) => {
      val HourUs = 3600000000L
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(
        expr(s"min(unix_micros(ts) div ${HourUs}L)").as("h0"),
        expr(s"max(unix_micros(ts) div ${HourUs}L)").as("h1"))
      val spine = ev.select("event_type").distinct()
        .crossJoin(broadcast(bounds)) // 5 types × single-row bounds
        .select(col("event_type"),
          explode(expr("sequence(h0, h1)")).as("hr"))
      val obs = ev
        .filter(col("event_type") === "purchase" || col("event_type") === "signup")
        .filter(col("value") >= 250)
        .groupBy(col("event_type"), expr(s"unix_micros(ts) div ${HourUs}L").as("hr"))
        .agg(graft.functions.Exact.sumD(col("value")).as("rev"))
      graft.operators.AsOfJoin.asOf(
        spine, obs, Seq("event_type"), "hr", "hr",
        rightPayload = Seq("hr", "rev"), prefix = "locf_")
        .select("event_type", "hr", "locf_hr", "locf_rev")
        .orderBy("event_type", "hr")
    },
    Some("""WITH b AS (
              SELECT CAST(epoch_us(min(CAST(ts AS TIMESTAMP))) // 3600000000 AS BIGINT) AS h0,
                     CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) // 3600000000 AS BIGINT) AS h1
              FROM events),
            t AS (SELECT DISTINCT event_type FROM events),
            spine AS (
              -- list-expression form: the table-function form can't take
              -- correlated column bounds
              SELECT t.event_type, unnest(generate_series(b.h0, b.h1)) AS hr
              FROM t, b),
            obs AS (
              SELECT event_type,
                     CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
                     CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS rev
              FROM events
              WHERE event_type IN ('purchase', 'signup') AND value >= 250
              GROUP BY 1, 2)
            SELECT s.event_type, s.hr, o.hr AS locf_hr, o.rev AS locf_rev
            FROM spine s ASOF LEFT JOIN obs o
              ON s.event_type = o.event_type AND o.hr <= s.hr
            ORDER BY s.event_type, s.hr"""))

  /** CUBE aggregation: order counts and exact revenue across every subset
    * of (status, priority) — the all-margins companion to q38's ROLLUP.
    * Same physical shape: ONE shuffle; Expand emits the 4 grouping sets
    * per input row ahead of the partial aggregate, so the map-side
    * combine still absorbs the 4× row expansion before anything moves.
    * (Both grouping columns are never-null in the data, so a NULL in the
    * output unambiguously means "all" — no grouping_id disambiguation
    * column needed, matching q38's convention.)
    */
  private val q105 = GraftQuery(
    "q105_cube_agg",
    (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          graft.functions.Exact.sumD(col("o_totalprice")).as("sum_price"))
        .orderBy(
          col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q140

  /** Schema-evolution read: two parquet snapshots of the same logical
    * table written under one root with different physical schemas — an
    * old narrow snapshot and a new snapshot that both adds columns and
    * carries a derived one — read back as ONE DataFrame via parquet
    * footer schema-merge (`mergeSchema`) plus hive partition discovery
    * (the `snap=N` directory becomes a partition column). Missing columns
    * in the old snapshot surface as NULL, exactly the additive-evolution
    * contract a 100 TB warehouse needs: adding a column must never force
    * a rewrite of petabytes of history, and readers of the union must see
    * one schema. Merge cost is per-file footer work at planning time;
    * the scan itself stays parallel and column-pruned per snapshot.
    */
  def schemaEvolutionRead(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // the two-snapshot tree is built once per `orders` content, so repeat
    // runs pay no eager writes; partition discovery skips the root's
    // `_SUCCESS` like any `_`-prefixed file
    val root = Artifacts.cached("schema-evolution", "v1", Seq(s"$dir/orders.parquet")) { r =>
      val orders = Tables.orders(s, dir)
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$r/snap=1")
      orders.filter(col("o_orderkey") % 2 =!= 0)
        .select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderdate"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("o_priority_rank"))
        .write.mode("overwrite").parquet(s"$r/snap=2")
      java.nio.file.Files.createFile(java.nio.file.Paths.get(r, "_SUCCESS"))
    }
    s.read.option("mergeSchema", "true").parquet(root)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("o_orderdate"), col("o_priority_rank"),
        col("snap").cast("int").as("snap"))
      .orderBy("o_orderkey")
  }

  private val q140 = GraftQuery(
    "q140_schema_evolution",
    (s, dir) => schemaEvolutionRead(s, dir),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
                   CAST(NULL AS VARCHAR) AS o_orderstatus,
                   CAST(NULL AS TIMESTAMP) AS o_orderdate,
                   CAST(NULL AS INT) AS o_priority_rank,
                   1 AS snap
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice,
                   o_orderstatus, o_orderdate,
                   CAST(substr(o_orderpriority, 1, 1) AS INT), 2
            FROM orders WHERE o_orderkey % 2 <> 0
            ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q141

  /** Data-quality constraint suite: one violations report over the star
    * schema — FK orphans (anti-joins), PK duplicates, null / range /
    * accepted-values rules, and a cross-table consistency rule
    * (lineitem shipped before its order date). Same-table rules share
    * ONE scan via conditional counts (no per-rule rescans); FK checks are
    * anti-joins that shuffle on the key being validated — at 100 TB the
    * fact-side FK probe is the one genuinely heavy leg, and it can ride
    * [[graft.operators.BloomSemiJoin]] as a pre-filter when the parent
    * key set is too large to broadcast. Output is (tbl, chk, violations)
    * so the suite lands as a table a scheduler can alert on.
    *
    * FK-orphan semantics are `NOT EXISTS` (= Spark's left_anti), NOT SQL
    * `NOT IN`: with a NULL anywhere in the parent key set, `NOT IN`
    * yields zero rows while an anti-join still reports orphans — the
    * oracle uses NOT EXISTS so both sides agree by construction on
    * nullable keys, not just on TPC-H's non-null ones (r6 ADVICE).
    */
  def dqChecks(orders: org.apache.spark.sql.DataFrame,
      customer: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def report(tbl: String, chk: String, cnt: org.apache.spark.sql.DataFrame) =
      cnt.select(lit(tbl).as("tbl"), lit(chk).as("chk"), col("violations"))
    // one orders scan, three rules
    val ordersRules = orders.agg(
      count(when(col("o_totalprice") <= 0, lit(1))).as("totalprice_nonpositive"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), lit(1))).as("status_accepted_values"),
      count(when(col("o_custkey").isNull, lit(1))).as("custkey_null"))
      .select(expr(
        """stack(3,
             'totalprice_nonpositive', totalprice_nonpositive,
             'status_accepted_values', status_accepted_values,
             'custkey_null', custkey_null) AS (chk, violations)"""))
      .select(lit("orders").as("tbl"), col("chk"), col("violations"))
    val pkDup = report("orders", "pk_orderkey_duplicate",
      orders.groupBy("o_orderkey").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).agg(count(lit(1)).as("violations")))
    val fkOrders = report("orders", "fk_custkey_orphan",
      orders.join(customer, orders("o_custkey") === customer("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations")))
    val fkLineitem = report("lineitem", "fk_orderkey_orphan",
      lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations")))
    val shipBefore = report("lineitem", "ship_before_order",
      lineitem.join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
        .filter(col("l_shipdate") < col("o_orderdate"))
        .agg(count(lit(1)).as("violations")))
    val acctNeg = report("customer", "acctbal_negative",
      customer.agg(count(when(col("c_acctbal") < 0, lit(1))).as("violations")))
    ordersRules
      .unionByName(pkDup).unionByName(fkOrders).unionByName(fkLineitem)
      .unionByName(shipBefore).unionByName(acctNeg)
      .orderBy("tbl", "chk")
  }

  private val q141 = GraftQuery(
    "q141_dq_checks",
    (s, dir) => dqChecks(Tables.orders(s, dir), Tables.customer(s, dir), Tables.lineitem(s, dir)),
    Some("""SELECT tbl, chk, violations FROM (
              SELECT 'orders' AS tbl, 'totalprice_nonpositive' AS chk,
                     count(*) FILTER (WHERE o_totalprice <= 0) AS violations FROM orders
              UNION ALL
              SELECT 'orders', 'status_accepted_values',
                     count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')) FROM orders
              UNION ALL
              SELECT 'orders', 'custkey_null',
                     count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
              UNION ALL
              SELECT 'orders', 'pk_orderkey_duplicate', count(*) FROM
                (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
              UNION ALL
              SELECT 'orders', 'fk_custkey_orphan', count(*) FROM orders ord
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = ord.o_custkey)
              UNION ALL
              SELECT 'lineitem', 'fk_orderkey_orphan', count(*) FROM lineitem li
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = li.l_orderkey)
              UNION ALL
              SELECT 'lineitem', 'ship_before_order', count(*) FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE l.l_shipdate < o.o_orderdate
              UNION ALL
              SELECT 'customer', 'acctbal_negative',
                     count(*) FILTER (WHERE c_acctbal < 0) FROM customer)
            ORDER BY tbl, chk"""))

  /** Market-basket association rules at the brand level: for every
    * directed brand pair (antecedent → consequent) co-present in an
    * order, support / confidence / lift — the Apriori-style rule mining
    * every retail warehouse runs, graded exactly.
    *
    * Plan shape: baskets collapse to DISTINCT (order, brand) first, so
    * the pair join is bounded by Σ basket_size² per order — never
    * |orders|² and never |brands|² against the fact table. Item counts
    * and the basket total are tiny (≤ |brands| rows) and broadcast back;
    * the candidate-pair frame is cut once and reused for both rule
    * directions. All counts stay integers until the three final ratio
    * divisions, which follow the same IEEE sequence on both engines.
    */
  private val q149 = GraftQuery(
    "q149_basket_rules",
    (s, dir) => {
      // width pin (round 13, guide §2.5/§2.4): AQE's byte-based coalescing
      // landed the basket build and the Σ|basket|² pair self-join on 1-4
      // tasks (ProbeQueryJobs: 0.96 + 0.87 + 0.94 s jobs) — slim rows,
      // dense compute. One hash exchange on l_orderkey at the base width:
      // the brand dedup groups by (l_orderkey, p_brand) — a superset of
      // the partition key, so no second exchange — and the checkpointed
      // frame keeps that partitioning, so the self-join below reuses it
      // on BOTH sides (zero join exchanges).
      val width = s.sessionState.conf.defaultNumShufflePartitions
      val b = graft.operators.Components.cut(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
          .repartition(width, col("l_orderkey"))
          .join(broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("p_brand")).distinct())
      val nB = b.select(countDistinct(col("l_orderkey")).as("n_baskets"))
      val item = b.groupBy("p_brand").agg(count(lit(1)).as("c_item"))
      val pairs = graft.operators.Components.cut(
        b.select(col("l_orderkey"), col("p_brand").as("x"))
          .join(b.select(col("l_orderkey"), col("p_brand").as("y")), "l_orderkey")
          .filter(col("x") < col("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("c_pair")))
      val rules = pairs.select(col("x").as("antecedent"), col("y").as("consequent"), col("c_pair"))
        .unionByName(pairs.select(col("y").as("antecedent"), col("x").as("consequent"), col("c_pair")))
      rules
        .join(broadcast(item.select(col("p_brand").as("antecedent"), col("c_item").as("c_ante"))),
          "antecedent")
        .join(broadcast(item.select(col("p_brand").as("consequent"), col("c_item").as("c_cons"))),
          "consequent")
        .crossJoin(broadcast(nB))
        .select(col("antecedent"), col("consequent"), col("c_pair"),
          round(col("c_pair").cast("double") / col("n_baskets").cast("double"), 9)
            .as("support"),
          round(col("c_pair").cast("double") / col("c_ante").cast("double"), 9)
            .as("confidence"),
          round(col("c_pair").cast("double") * col("n_baskets").cast("double")
            / (col("c_ante").cast("double") * col("c_cons").cast("double")), 9)
            .as("lift"))
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(20)
    },
    Some("""WITH b AS MATERIALIZED (
              SELECT DISTINCT l_orderkey, p_brand
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
            nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b),
            item AS (SELECT p_brand, count(*) AS c_item FROM b GROUP BY 1),
            pairs AS MATERIALIZED (
              SELECT a.p_brand AS x, b2.p_brand AS y, count(*) AS c_pair
              FROM b a JOIN b b2 USING (l_orderkey)
              WHERE a.p_brand < b2.p_brand GROUP BY 1, 2),
            rules AS (
              SELECT x AS antecedent, y AS consequent, c_pair FROM pairs
              UNION ALL
              SELECT y, x, c_pair FROM pairs)
            SELECT r.antecedent, r.consequent, r.c_pair,
                   round(CAST(r.c_pair AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE), 9)
                     AS support,
                   round(CAST(r.c_pair AS DOUBLE) / CAST(ia.c_item AS DOUBLE), 9)
                     AS confidence,
                   round(CAST(r.c_pair AS DOUBLE) * CAST(nb.n_baskets AS DOUBLE)
                     / (CAST(ia.c_item AS DOUBLE) * CAST(ic.c_item AS DOUBLE)), 9)
                     AS lift
            FROM rules r
            JOIN item ia ON r.antecedent = ia.p_brand
            JOIN item ic ON r.consequent = ic.p_brand
            CROSS JOIN nb
            ORDER BY lift DESC, antecedent, consequent LIMIT 20"""))

  /** RFM customer segmentation: per-customer recency (latest order
    * date) / frequency (order count) / monetary (exact decimal spend),
    * each independently quintile-binned 0–4 by GLOBAL rank (4 = most
    * recent / frequent / valuable), then segment census. The standard
    * CRM cube, built the 100 TB way: every quintile assignment rides
    * [[graft.operators.Sampling.rankBins]]'s two-phase prefix scan
    * (range repartition + broadcast per-partition offsets) — no
    * single-partition `ntile` window anywhere, so a customer table of
    * any size bins in parallel. Ranks tie-break on the customer key;
    * decimal spend keeps segment totals exact until the final cast.
    */
  private val q150 = GraftQuery(
    "q150_rfm_segments",
    (s, dir) => {
      import graft.operators.Sampling
      val cust = graft.operators.Components.cut(
        Tables.orders(s, dir)
          .groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_order"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(30, 4)))
              .as("spend")))
      def binned(d: org.apache.spark.sql.DataFrame, by: String, name: String) =
        Sampling.rankBins(d, Seq(by, "o_custkey"), 5)
          .withColumnRenamed("bin", name)
      val scored = binned(binned(binned(cust,
        "last_order", "r_score"), "n_orders", "f_score"), "spend", "m_score")
      scored
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("spend")).cast("double").as("total_spend"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some("""WITH c AS (
              SELECT o_custkey, max(o_orderdate) AS last_order, count(*) AS n_orders,
                     sum(CAST(o_totalprice AS DECIMAL(30,4))) AS spend
              FROM orders GROUP BY 1),
            t AS (SELECT count(*) AS total FROM c),
            r AS (
              SELECT o_custkey, spend,
                     row_number() OVER (ORDER BY last_order, o_custkey) - 1 AS rr,
                     row_number() OVER (ORDER BY n_orders, o_custkey) - 1 AS fr,
                     row_number() OVER (ORDER BY spend, o_custkey) - 1 AS mr
              FROM c),
            -- BIGINT floor division on purpose: DuckDB's // over DECIMAL
            -- operands ROUNDS the decimal quotient instead of flooring
            -- (measured: bins 0-5 at n=1500). The engine side keeps
            -- DECIMAL(38,0) for >10^18-row exactness; values agree.
            s AS (
              SELECT CAST((rr * 5) // total AS INT) AS r_score,
                     CAST((fr * 5) // total AS INT) AS f_score,
                     CAST((mr * 5) // total AS INT) AS m_score,
                     spend
              FROM r CROSS JOIN t)
            SELECT r_score, f_score, m_score, count(*) AS n_customers,
                   CAST(sum(spend) AS DOUBLE) AS total_spend
            FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** CSV ingest with a corrupt-record quarantine lane: a deterministic
    * CSV fixture derived from `orders` (every 8th order, plus a
    * malformed line injected for each orderkey ≡ 0 mod 96) is read back
    * through Spark's PERMISSIVE csv parser with an explicit schema and
    * `columnNameOfCorruptRecord` — good rows parse to typed columns,
    * malformed rows land whole in the quarantine column instead of
    * killing the job (the semantics a 100 TB CSV backfill needs: one bad
    * export line must cost one row, not a task retry storm).
    *
    * Grading: the oracle never touches the CSV — it replays the
    * GENERATOR from `orders`, so the Spark side's parse must reproduce
    * the exact good-lane count/sums and corrupt-lane count from first
    * principles; a parser that silently drops, double-reads, or
    * mis-lanes any line breaks the hash. Fixture is written once per
    * input content as an [[Artifacts]] entry (bounded: |orders|/8 rows).
    */
  private val q161 = GraftQuery(
    "q161_csv_quarantine_ingest",
    (s, dir) => {
      val path = Artifacts.cached("orders-csv", "v1", Seq(s"$dir/orders.parquet")) { p =>
        // distributed fixture write — a text-sink job, never a driver
        // collect (data-proportional at scale: |orders|/8 rows). Line
        // order is irrelevant: the query aggregates lanes order-free,
        // and double→string→double round-trips exactly either way.
        val base = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 8 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val good = base.select(concat_ws(",",
          col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("string")).as("value"))
        val bad = base.filter(col("o_orderkey") % 96 === 0)
          .select(concat(lit("corrupt_marker_"), col("o_orderkey"),
            lit(",not-a-key,oops")).as("value"))
        good.unionAll(bad).write.mode("overwrite").text(p)
      }
      val raw = s.read
        .schema("o_orderkey long, o_custkey long, o_totalprice double, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
        .cache() // both lanes read the parse once; PERMISSIVE + corrupt
                 // column requires a materialized frame anyway (SPARK-21610:
                 // the corrupt column can't be queried alone off a lazy scan)
      val lanes = raw.select(
        when(col("_bad").isNull, lit("good")).otherwise(lit("quarantined")).as("lane"),
        col("o_orderkey"), col("o_totalprice"))
      val out = lanes.groupBy("lane").agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(col("o_orderkey")), lit(0L)).as("sum_orderkey"),
        Exact.sumD(coalesce(col("o_totalprice"), lit(0.0))).as("sum_price"))
        .orderBy("lane")
      out
    },
    Some("""WITH sub AS (
              SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 = 0)
            SELECT 'good' AS lane, count(*) AS n_rows,
                   CAST(sum(o_orderkey) AS BIGINT) AS sum_orderkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
            FROM sub
            UNION ALL
            SELECT 'quarantined', count(*), 0, 0.0
            FROM sub WHERE o_orderkey % 96 = 0
            ORDER BY lane"""))

  /** Time-series resample with LINEAR interpolation — q99's LOCF sibling
    * for signals where holding the last value flat is wrong (gauges,
    * rates): every empty spine hour gets
    * v = prev + (next − prev)·(t − prev_t)/(next_t − prev_t) between its
    * bracketing observations. The bracket comes from the SAME custom
    * as-of merge-scan run twice — backward as-is, forward on the negated
    * hour axis (an as-of over −t IS the next-observation join, no new
    * operator needed) — so the scale contract is q99's: corpus-sized
    * work is the pre-aggregation; the per-key scans see only the
    * calendar-bounded resampled series. Hours outside [first, last]
    * observation interpolate to NULL on both engines (no extrapolation);
    * an exact-hit hour short-circuits to its own value (the 0/0 guard).
    */
  private val q167 = GraftQuery(
    "q167_resample_linear_interp",
    (s, dir) => {
      val HourUs = 3600000000L
      val ev = Tables.events(s, dir)
      val bounds = ev.agg(
        expr(s"min(unix_micros(ts) div ${HourUs}L)").as("h0"),
        expr(s"max(unix_micros(ts) div ${HourUs}L)").as("h1"))
      val spine = ev.select("event_type").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("hr"))
      // sparse signal: hourly mean value where the hour is observed at all
      // (purchases only — purchases and errors — sparse signals whose empty hours interpolate)
      val obs = ev.filter(col("event_type").isin("purchase", "error"))
        .filter(col("value") >= 200)
        .groupBy(col("event_type"), expr(s"unix_micros(ts) div ${HourUs}L").as("hr"))
        .agg(round(Exact.sumD(col("value"))
          / count(lit(1)).cast("double"), 9).as("v"))
      val spine2 = spine.filter(col("event_type").isin("purchase", "error"))
      val back = AsOfJoin.asOf(
        spine2, obs, Seq("event_type"), "hr", "hr",
        rightPayload = Seq("hr", "v"), prefix = "prev_")
      val fwd = AsOfJoin.asOf(
        back.withColumn("nhr", -col("hr")),
        obs.select(col("event_type"), (-col("hr")).as("nhr"),
          col("hr").as("ohr"), col("v")),
        Seq("event_type"), "nhr", "nhr",
        rightPayload = Seq("ohr", "v"), prefix = "next_")
        .drop("nhr")
      fwd
        .withColumn("interp",
          when(col("prev_hr").isNull || col("next_ohr").isNull, lit(null))
            .when(col("next_ohr") === col("prev_hr"), round(col("prev_v"), 9))
            .otherwise(round(
              col("prev_v") + (col("next_v") - col("prev_v"))
                * (col("hr") - col("prev_hr")).cast("double")
                / (col("next_ohr") - col("prev_hr")).cast("double"), 9)))
        .select(col("event_type"), col("hr"), col("prev_hr"),
          col("next_ohr").as("next_hr"), col("interp"))
        .orderBy("event_type", "hr")
    },
    Some("""WITH b AS (
              SELECT CAST(epoch_us(min(CAST(ts AS TIMESTAMP))) // 3600000000 AS BIGINT) AS h0,
                     CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) // 3600000000 AS BIGINT) AS h1
              FROM events),
            t AS (SELECT DISTINCT event_type FROM events
                  WHERE event_type IN ('purchase', 'error')),
            spine AS (
              SELECT t.event_type, unnest(generate_series(b.h0, b.h1)) AS hr
              FROM t, b),
            obs AS (
              SELECT event_type,
                     CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS BIGINT) AS hr,
                     round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE), 9) AS v
              FROM events
              WHERE event_type IN ('purchase', 'error') AND value >= 200
              GROUP BY 1, 2),
            back AS (
              SELECT s.event_type, s.hr, o.hr AS prev_hr, o.v AS prev_v
              FROM spine s ASOF LEFT JOIN obs o
                ON s.event_type = o.event_type AND o.hr <= s.hr),
            fwd AS (
              SELECT bk.event_type, bk.hr, bk.prev_hr, bk.prev_v,
                     o.hr AS next_hr, o.v AS next_v
              FROM back bk ASOF LEFT JOIN obs o
                ON bk.event_type = o.event_type AND o.hr >= bk.hr)
            SELECT event_type, hr, prev_hr, next_hr,
                   CASE WHEN prev_hr IS NULL OR next_hr IS NULL THEN NULL
                        WHEN next_hr = prev_hr THEN round(prev_v, 9)
                        ELSE round(prev_v + (next_v - prev_v)
                               * CAST(hr - prev_hr AS DOUBLE)
                               / CAST(next_hr - prev_hr AS DOUBLE), 9)
                   END AS interp
            FROM fwd ORDER BY event_type, hr"""))

  /** Small-quantity-order revenue (TPC-H Q17 shape): average yearly
    * revenue lost if small orders (below 20% of the part's average
    * quantity) stopped shipping — written as the CORRELATED SCALAR
    * SUBQUERY the benchmark specifies, so the row under test is
    * Catalyst's decorrelation: the optimizer must rewrite the per-row
    * subquery into one per-part aggregate joined back (a plan a 100 TB
    * fact table survives), not execute it per lineitem row. Brand
    * filter keeps the probe side selective; the decimal sum follows the
    * Exact contract.
    */
  private val q171 = GraftQuery(
    "q171_small_qty_revenue",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""
        SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                 / 7.0 AS DOUBLE) AS avg_yearly,
               count(*) AS n_lines
        FROM lineitem_v, part_v
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#1'
          AND l_quantity < (
            -- DOUBLE-pin the threshold: Spark would otherwise keep exact
            -- DECIMAL arithmetic here while DuckDB's avg(DECIMAL) returns
            -- DOUBLE, and a threshold within double-epsilon of a quantity
            -- could flip the comparison between engines.
            SELECT 0.2 * CAST(avg(l_quantity) AS DOUBLE)
            FROM lineitem_v
            WHERE l_partkey = p_partkey)""")
    },
    Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                     / 7.0 AS DOUBLE) AS avg_yearly,
                   count(*) AS n_lines
            FROM lineitem, part
            WHERE p_partkey = l_partkey
              AND p_brand = 'Brand#1'
              AND l_quantity < (
                SELECT 0.2 * CAST(avg(l_quantity) AS DOUBLE)
                FROM lineitem
                WHERE l_partkey = p_partkey)"""))

  /** Full pricing summary (TPC-H Q1 shape): the benchmark's flagship
    * scan-heavy aggregate — eight measures per (returnflag, linestatus)
    * over nearly the whole fact table, one shuffle with map-side
    * partials doing all the work. Every sum rides decimals; the two
    * averages divide the decimal-backed sums by the group count with the
    * identical IEEE step on both engines.
    */
  private val q172 = GraftQuery(
    "q172_pricing_summary",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(30, 6))).cast("double")
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          round(dsum(col("l_quantity")) / count(lit(1)).cast("double"), 9)
            .as("avg_qty"),
          round(dsum(col("l_extendedprice")) / count(lit(1)).cast("double"), 9)
            .as("avg_price"),
          round(dsum(col("l_discount")) / count(lit(1)).cast("double"), 9)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)
                     AS sum_disc_price,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(30,6))) AS DOUBLE)
                     AS sum_charge,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS avg_qty,
                   round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS avg_price,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** ORC round trip — the fourth storage format next to parquet (the
    * default), JSONL (q89) and quarantined CSV (q161): a deterministic
    * orders projection is written as ZLIB ORC once per input content
    * ([[Artifacts]]) and read back through Spark's vectorized ORC reader
    * with a pushed filter, proving the format path end to end (schema, compression,
    * predicate pushdown) rather than assuming parquet parity. Graded by
    * the q161 generator-replay contract: the oracle never reads the ORC
    * file — it recomputes the expected aggregate from `orders`, so a
    * reader that drops, duplicates, or mistypes rows breaks the hash.
    */
  private val q173 = GraftQuery(
    "q173_orc_roundtrip",
    (s, dir) => {
      val path = Artifacts.cached("orders-orc", "v1", Seq(s"$dir/orders.parquet")) { p =>
        Tables.orders(s, dir)
          .filter(col("o_orderkey") % 3 === 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
          .write.mode("overwrite").option("compression", "zlib").orc(p)
      }
      s.read.orc(path)
        .filter(col("o_totalprice") >= 50000.0)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumD(col("o_totalprice")).as("sum_price"),
          min(col("o_orderdate")).as("first_order"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price,
                   min(o_orderdate) AS first_order,
                   CAST(max(o_orderkey) AS BIGINT) AS max_key
            FROM orders
            WHERE o_orderkey % 3 = 0 AND o_totalprice >= 50000.0
            GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Order-priority check (TPC-H Q4 shape): count orders per priority in
    * a one-year window having at least one line shipped > 60 days after
    * the order date, written as the CORRELATED EXISTS the benchmark
    * specifies. The row under test is Catalyst's rewrite of the
    * per-order subquery into ONE left semi join on `l_orderkey` —
    * a single shuffle pair that scales linearly — not a per-row probe.
    * Date arithmetic is exact integer timestamp math on both engines,
    * so no float boundary can flip the predicate.
    */
  private val q174 = GraftQuery(
    "q174_priority_exists",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_v
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem_v
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** Excess-quantity suppliers (TPC-H Q20 shape): suppliers who shipped
    * a `small ring` part at more than 1.9× that part's average shipped
    * quantity — a NESTED correlated IN: the IN-subquery itself contains
    * a correlated scalar subquery over the same fact table. Catalyst
    * must decorrelate BOTH levels: the inner avg becomes one per-part
    * aggregate joined back on `l_partkey`, the IN becomes a left semi
    * join on `s_suppkey` — two shuffles total, no per-row execution.
    * Quantities are whole numbers, so the double avg is exact and
    * partition-order independent; the threshold is DOUBLE-pinned on
    * both engines like q171.
    */
  private val q175 = GraftQuery(
    "q175_excess_qty_suppliers",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      s.sql("""
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier_v
        WHERE s_suppkey IN (
          SELECT li.l_suppkey
          FROM lineitem_v li
          WHERE li.l_partkey IN (
              SELECT p_partkey FROM part_v WHERE p_name LIKE 'small ring%')
            AND li.l_quantity > (
              SELECT 1.9 * CAST(avg(l2.l_quantity) AS DOUBLE)
              FROM lineitem_v l2
              WHERE l2.l_partkey = li.l_partkey))
        ORDER BY s_suppkey""")
    },
    Some("""SELECT s_suppkey, s_name, s_acctbal
            FROM supplier
            WHERE s_suppkey IN (
              SELECT li.l_suppkey
              FROM lineitem li
              WHERE li.l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'small ring%')
                AND li.l_quantity > (
                  SELECT 1.9 * CAST(avg(l2.l_quantity) AS DOUBLE)
                  FROM lineitem l2
                  WHERE l2.l_partkey = li.l_partkey))
            ORDER BY s_suppkey"""))

  /** Suppliers who kept orders waiting (TPC-H Q21 shape): for finished
    * orders, count per supplier the lines shipped > 60 days late where
    * at least one OTHER supplier contributed to the same order (EXISTS)
    * but NO other supplier was also late on it (NOT EXISTS) — the
    * multi-level EXISTS/NOT-EXISTS decorrelation stress. Catalyst plans
    * one left semi and one left anti join, both with an equi-component
    * on `l_orderkey` (so shuffled hash/sort-merge, never a broadcast
    * nested loop over the fact table) plus the non-equi supplier and
    * lateness residuals.
    */
  private val q176 = GraftQuery(
    "q176_waiting_suppliers",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT s_name, count(*) AS numwait
        FROM supplier_v, lineitem_v l1, orders_v, nation_v
        WHERE s_suppkey = l1.l_suppkey
          AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem_v l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem_v l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
          AND s_nationkey = n_nationkey
          AND n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name""")
    },
    Some("""SELECT s_name, count(*) AS numwait
            FROM supplier, lineitem l1, orders, nation
            WHERE s_suppkey = l1.l_suppkey
              AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
              AND EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = l1.l_orderkey
                  AND l3.l_suppkey <> l1.l_suppkey
                  AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
              AND s_nationkey = n_nationkey
              AND n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
            GROUP BY s_name
            ORDER BY numwait DESC, s_name"""))

  /** Min-cost supplier per part (TPC-H Q2 shape): lineitem stands in for
    * partsupp (its (l_partkey, l_suppkey) min unit price is the supply
    * cost), and the row under test is the CORRELATED SCALAR MIN — for each
    * small part, keep only the supplier(s) whose unit cost equals that
    * part's minimum. Catalyst decorrelates the per-part min into ONE
    * aggregate over the derived cost table joined back on `l_partkey`; the
    * cost table itself is built once and read by both the outer query and
    * the subquery (no per-row re-aggregation). Determinism: `unit_cost` is
    * one IEEE division per line and `min` selects an element of that set,
    * so the equality compares two bit-identical doubles on both engines.
    */
  private val q177 = GraftQuery(
    "q177_min_cost_supplier",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      s.sql("""
        WITH ps AS (
          SELECT l_partkey, l_suppkey,
                 min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem_v WHERE l_quantity > 0
          GROUP BY l_partkey, l_suppkey)
        SELECT p_partkey, p_name, s_suppkey, s_name,
               round(ps.unit_cost, 9) AS unit_cost
        FROM part_v JOIN ps ON p_partkey = ps.l_partkey
                    JOIN supplier_v ON s_suppkey = ps.l_suppkey
        WHERE p_size <= 10
          AND ps.unit_cost = (
            SELECT min(ps2.unit_cost) FROM ps ps2
            WHERE ps2.l_partkey = p_partkey)
        ORDER BY p_partkey, s_suppkey
        LIMIT 100""")
    },
    Some("""WITH ps AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem WHERE l_quantity > 0
              GROUP BY l_partkey, l_suppkey)
            SELECT p_partkey, p_name, s_suppkey, s_name,
                   round(ps.unit_cost, 9) AS unit_cost
            FROM part JOIN ps ON p_partkey = ps.l_partkey
                      JOIN supplier ON s_suppkey = ps.l_suppkey
            WHERE p_size <= 10
              AND ps.unit_cost = (
                SELECT min(ps2.unit_cost) FROM ps ps2
                WHERE ps2.l_partkey = p_partkey)
            ORDER BY p_partkey, s_suppkey
            LIMIT 100"""))

  /** Dormant high-balance customers (TPC-H Q22 shape): per market segment,
    * count the above-average-balance customers who placed NO urgent order
    * since 1999 — an UNCORRELATED scalar subquery (the positive-balance
    * mean) gating a correlated NOT EXISTS. Catalyst plans the scalar as a
    * one-row broadcast and the NOT EXISTS as a left anti join on
    * `o_custkey` with the priority/date residual pushed into the probe
    * side's scan — no per-customer subquery execution. The threshold is
    * an exact DECIMAL(30,4) sum cast to DOUBLE then one IEEE divide by the
    * count, so both engines gate on the same binary value (the q171/q175
    * boundary-pinning rule); the output balance total is the same exact
    * decimal sum.
    */
  private val q178 = GraftQuery(
    "q178_dormant_rich_customers",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_mktsegment AS segment, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS totacctbal
        FROM customer_v
        WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
                     / count(*)
            FROM customer_v WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
            SELECT 1 FROM orders_v
            WHERE o_custkey = c_custkey
              AND o_orderpriority = '1-URGENT'
              AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY c_mktsegment
        ORDER BY segment""")
    },
    Some("""SELECT c_mktsegment AS segment, count(*) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE)
                         / count(*)
                FROM customer WHERE c_acctbal > 0.0)
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT'
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY c_mktsegment
            ORDER BY segment"""))

  /** Top-revenue suppliers (TPC-H Q15 shape): a revenue view over one
    * quarter of shipments, then the supplier(s) whose total equals the
    * view's MAX — the aggregate-over-aggregate-view decorrelation. The view
    * is ONE hash aggregate over the filtered fact scan (the shipdate
    * predicate pushes to parquet); the scalar max is a one-row broadcast;
    * the final join probes supplier by key. Revenue is the exact
    * DECIMAL(30,4) sum of `extendedprice·(1−discount)` cast to DOUBLE once
    * per supplier, so the max-equality compares bit-identical values on
    * both engines.
    */
  private val q179 = GraftQuery(
    "q179_top_revenue_supplier",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(30,4))) AS DOUBLE) AS total_revenue
          FROM lineitem_v
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier_v JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey""")
    },
    Some("""WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                                   AS DECIMAL(30,4))) AS DOUBLE) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey"""))

  /** Disjunctive-predicate revenue (TPC-H Q19 shape): an OR of three
    * brand/size/quantity conjunctions across a part–lineitem join. The
    * optimizer test is predicate DECOMPOSITION: Catalyst must extract the
    * common `p_partkey = l_partkey` equi-condition so the join stays a
    * hash join, and push the disjunction's per-side conjuncts
    * (`p_size >= 1`, quantity bounds) below the join as partial filters
    * — a naive engine evaluates the whole OR post-join. Revenue rides
    * the decimal sum; one aggregate row.
    */
  private val q190 = GraftQuery(
    "q190_disjunctive_revenue",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""
        SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)"""))

  /** Large-volume customers (TPC-H Q18 shape): orders whose total line
    * quantity exceeds 300 (top ~0.5% of the order-size distribution),
    * with customer identity. The optimizer test: the IN over a HAVING
    * aggregate must become ONE aggregate + semi join on `l_orderkey` —
    * the fact table is scanned twice (once for the filter aggregate,
    * once for the output sum) but never per-row. Quantities are whole
    * numbers; sums are exact longs cast once.
    */
  private val q191 = GraftQuery(
    "q191_large_volume_customers",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS total_qty
        FROM customer_v
        JOIN orders_v ON o_custkey = c_custkey
        JOIN lineitem_v ON l_orderkey = o_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem_v
          GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey""")
    },
    Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                   CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS total_qty
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            ORDER BY o_totalprice DESC, o_orderkey"""))

  /** National market share (TPC-H Q8 shape): NATION_10's share of ASIA's
    * yearly delivered revenue — a five-table snowflake join (lineitem →
    * orders → customer → nation → region on the demand side, lineitem →
    * supplier → nation on the supply side) with a conditional aggregate
    * ratio. The optimizer test is join ORDER and broadcast: region,
    * nation, supplier, customer are all dimension-sized and must
    * broadcast; the fact table is touched once. The share divides two
    * decimal-exact sums; CASE-vs-filter consistency is pinned by using
    * the same conditional form on both engines.
    */
  private val q192 = GraftQuery(
    "q192_nation_market_share",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      Tables.region(s, dir).createOrReplaceTempView("region_v")
      s.sql("""
        SELECT year(o_orderdate) AS o_year,
               round(CAST(sum(CASE WHEN sn.n_name = 'NATION_10'
                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                     ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 9)
                 AS mkt_share,
               count(*) AS n_lines
        FROM lineitem_v
        JOIN orders_v ON o_orderkey = l_orderkey
        JOIN customer_v ON c_custkey = o_custkey
        JOIN nation_v cn ON cn.n_nationkey = c_nationkey
        JOIN region_v ON r_regionkey = cn.n_regionkey
        JOIN supplier_v ON s_suppkey = l_suppkey
        JOIN nation_v sn ON sn.n_nationkey = s_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY year(o_orderdate)
        ORDER BY o_year""")
    },
    Some("""SELECT year(o_orderdate) AS o_year,
                   round(CAST(sum(CASE WHEN sn.n_name = 'NATION_10'
                         THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                         ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 9)
                     AS mkt_share,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation cn ON cn.n_nationkey = c_nationkey
            JOIN region ON r_regionkey = cn.n_regionkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY year(o_orderdate)
            ORDER BY o_year"""))

  /** Important parts (TPC-H Q11 shape, adapted — no partsupp table in
    * this schema): parts whose delivered revenue exceeds 1.5× the
    * AVERAGE per-part revenue. The threshold is scale-invariant (Q11's
    * literal `0.0001` fraction degenerates as the part count grows —
    * picking a relative multiple keeps the answer non-empty at every
    * sf), while preserving the optimizer shape under test: the scalar
    * subquery computes ONCE (one extra aggregate over the fact table)
    * and the HAVING compares against its broadcast scalar — never a
    * correlated per-group execution. Threshold arithmetic is
    * double-on-decimal-exact sums, identical on both engines.
    */
  private val q193 = GraftQuery(
    "q193_important_parts",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                 AS part_value
        FROM lineitem_v
        GROUP BY l_partkey
        HAVING CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
             > (SELECT 1.5 * CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                      / CAST(count(DISTINCT l_partkey) AS DOUBLE)
                FROM lineitem_v)
        ORDER BY part_value DESC, l_partkey""")
    },
    Some("""SELECT l_partkey,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS part_value
            FROM lineitem
            GROUP BY l_partkey
            HAVING CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                 > (SELECT 1.5 * CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                          / CAST(count(DISTINCT l_partkey) AS DOUBLE)
                    FROM lineitem)
            ORDER BY part_value DESC, l_partkey"""))

  /** Promotion revenue share (TPC-H Q14 shape): per month of 1997, the
    * percentage of delivered revenue from PROMO-type parts. A
    * fact-to-dimension hash join with a conditional-ratio aggregate per
    * month — the month grouping keeps the result a 12-row frame no
    * matter the corpus, the canonical "wide scan, tiny answer" rollup.
    */
  private val q194 = GraftQuery(
    "q194_promo_revenue_share",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      s.sql("""
        SELECT month(l_shipdate) AS ship_month,
               round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                     ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 9)
                 AS promo_share_pct,
               count(*) AS n_lines
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY month(l_shipdate)
        ORDER BY ship_month""")
    },
    Some("""SELECT month(l_shipdate) AS ship_month,
                   round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                         ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 9)
                     AS promo_share_pct,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY month(l_shipdate)
            ORDER BY ship_month"""))

  /** Supplier diversity per part segment (TPC-H Q16 shape, adapted to
    * lineitem as the part–supplier bridge): distinct suppliers that
    * shipped each (brand, type, size) segment, excluding one brand
    * outright and excluding suppliers in deficit via NOT IN. The
    * optimizer test: the NOT IN subquery must become a broadcast
    * null-aware anti join (supplier is dimension-sized), and the
    * count(DISTINCT) expands to the two-phase partial-distinct
    * aggregate, not a global sort.
    */
  private val q195 = GraftQuery(
    "q195_part_supplier_diversity",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      s.sql("""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem_v JOIN part_v ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier_v WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")
    },
    Some("""SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand <> 'Brand#5'
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""))

  /** Cross-nation shipping volume (TPC-H Q7 shape): yearly delivered
    * revenue between two trading nations, BOTH directions — the
    * disjunctive nation-pair predicate is the optimizer test: it cannot
    * split into per-side filters, so it must evaluate post-join while
    * nation/supplier/customer still broadcast and the fact table is
    * touched once.
    */
  private val q208 = GraftQuery(
    "q208_volume_shipping",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem_v
        JOIN orders_v ON o_orderkey = l_orderkey
        JOIN customer_v ON c_custkey = o_custkey
        JOIN supplier_v ON s_suppkey = l_suppkey
        JOIN nation_v sn ON sn.n_nationkey = s_nationkey
        JOIN nation_v cn ON cn.n_nationkey = c_nationkey
        WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
           OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
        GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year""")
    },
    Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN nation sn ON sn.n_nationkey = s_nationkey
            JOIN nation cn ON cn.n_nationkey = c_nationkey
            WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
               OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
            GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
            ORDER BY supp_nation, cust_nation, l_year"""))

  /** Product-type profit (TPC-H Q9 shape, adapted — no partsupp, so
    * supply cost is modeled as 60% of retail price; the fixed-margin
    * stand-in keeps Q9's signed-amount arithmetic without inventing a
    * table): per supplier nation and order year, the profit on parts
    * whose name contains 'red'. Each term is cast to exact decimal
    * BEFORE the subtraction so the signed sum is partition-order
    * independent; the p_name LIKE probe rides the broadcast part
    * dimension (never a fact-side regex scan at 100 TB — the filter
    * prunes the build side first).
    */
  private val q209 = GraftQuery(
    "q209_product_type_profit",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.supplier(s, dir).createOrReplaceTempView("supplier_v")
      Tables.part(s, dir).createOrReplaceTempView("part_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                      - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                 AS sum_profit,
               count(*) AS n_lines
        FROM lineitem_v
        JOIN part_v ON p_partkey = l_partkey
        JOIN supplier_v ON s_suppkey = l_suppkey
        JOIN orders_v ON o_orderkey = l_orderkey
        JOIN nation_v ON n_nationkey = s_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, o_year""")
    },
    Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))
                          - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                     AS sum_profit,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN nation ON n_nationkey = s_nationkey
            WHERE p_name LIKE '%red%'
            GROUP BY n_name, year(o_orderdate)
            ORDER BY nation, o_year"""))

  /** Returned-item reporting (TPC-H Q10 shape): top-20 customers by
    * revenue lost to returns in one quarter — a quarter-bounded orders
    * filter, the `l_returnflag = 'R'` fact filter, customer + nation
    * enrichment, and a TakeOrdered(20) instead of a full sort. The
    * canonical "who should support call back" operational query.
    */
  private val q210 = GraftQuery(
    "q210_returned_items",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      Tables.nation(s, dir).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT c_custkey, c_name,
               CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                 AS revenue,
               round(c_acctbal, 2) AS c_acctbal, n_name
        FROM customer_v
        JOIN orders_v ON o_custkey = c_custkey
        JOIN lineitem_v ON l_orderkey = o_orderkey
        JOIN nation_v ON n_nationkey = c_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")
    },
    Some("""SELECT c_custkey, c_name,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue,
                   round(c_acctbal, 2) AS c_acctbal, n_name
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON n_nationkey = c_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20"""))

  /** Shipping-delay priority census (TPC-H Q12 shape, adapted — this
    * schema has no l_shipmode/commitdate, so the band is the ship delay
    * l_shipdate − o_orderdate): per delay band, how many critical
    * (1-URGENT/2-HIGH) vs non-critical order lines shipped — Q12's
    * conditional-count aggregate over a join-derived grouping key.
    * datediff semantics are whole days on midnight-aligned timestamps,
    * identical on both engines.
    */
  private val q211 = GraftQuery(
    "q211_ship_delay_priority",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT CASE WHEN datediff(l_shipdate, o_orderdate) < 30 THEN 'fast'
                    WHEN datediff(l_shipdate, o_orderdate) < 90 THEN 'medium'
                    ELSE 'slow' END AS delay_band,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS low_line_count
        FROM lineitem_v JOIN orders_v ON o_orderkey = l_orderkey
        GROUP BY 1 ORDER BY delay_band""")
    },
    Some("""SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) < 30 THEN 'fast'
                        WHEN date_diff('day', o_orderdate, l_shipdate) < 90 THEN 'medium'
                        ELSE 'slow' END AS delay_band,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON o_orderkey = l_orderkey
            GROUP BY 1 ORDER BY delay_band"""))

  /** Customer order-count distribution (TPC-H Q13 shape): LEFT OUTER
    * join customer → (priority-filtered) orders, count per customer —
    * customers with no qualifying orders MUST survive as zero — then the
    * second-level histogram of customers per order count. The outer join
    * with a join-side filter (not a WHERE, which would turn it inner) is
    * the semantic under test.
    */
  private val q212 = GraftQuery(
    "q212_customer_order_distribution",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      Tables.customer(s, dir).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer_v
              LEFT JOIN orders_v
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")
    },
    Some("""SELECT c_count, count(*) AS custdist
            FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer
                  LEFT JOIN orders
                    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                  GROUP BY c_custkey)
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC"""))

  /** Hive-partitioned write + partition-pruned readback rollup — the
    * third layout mode next to q82 (Z-order) and q202 (Hilbert), and the
    * FIRST lever for 100 TB time-series: `partitionBy(event_type)`
    * directories let the IN-predicate prune whole directories before any
    * file I/O (`PartitionFilters` in the scan, pinned by LayoutSpec; this
    * query hash-gates that the layout round-trips the DATA — types,
    * timestamps, the partition column coming back from directory names —
    * by aggregating the pruned readback against an oracle that never saw
    * the layout).
    */
  private val q223 = GraftQuery(
    "q223_partition_pruned_rollup",
    (s, dir) => {
      val path = Scratch.tempDir("graft-hivepart") + "/events_by_type.parquet"
      graft.operators.Layout.writePartitioned(
        Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
        path, Seq("event_type"))
      Tables.parquet(s, path)
        .filter(col("event_type").isin("purchase", "signup"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), Exact.sumD(col("value")).as("sum_value"))
        .withColumn("sum_value", round(col("sum_value"), 4))
        .orderBy("event_type", "day")
    },
    Some("""SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE), 4)
                     AS sum_value
            FROM events
            WHERE event_type IN ('purchase', 'signup')
            GROUP BY event_type, CAST(ts AS DATE)
            ORDER BY event_type, day"""))

  /** Join-cardinality estimation from count-min sketch inner products
    * (Cormode & Muthukrishnan §4.2) — the optimizer-side use of q139's
    * sketch: |A ⋈ B| ≈ min over hash rows of Σ_cell cm_A·cm_B. Each side
    * collapses to a d×w counter matrix BEFORE any join (map-side combined,
    * O(partitions·d·w) shuffle), so the estimate costs two narrow scans
    * while the exact count pays the full equi-join — the point of the
    * operator at 100 TB. The md5 hash family is engine-portable, so the
    * oracle rebuilds both matrices and the row-wise inner products
    * identically; the emitted booleans pin the sketch's hard one-sided
    * guarantee (est ≥ exact) and the ε = e/w slack bound on BOTH engines.
    */
  private val q226 = GraftQuery(
    "q226_join_size_estimate",
    (s, dir) => {
      import graft.operators.CountMin
      val lk = Tables.lineitem(s, dir).select(col("l_orderkey").cast("string").as("k"))
      val ok = Tables.orders(s, dir).select(col("o_orderkey").cast("string").as("k"))
      val ip = CountMin.sketch(lk, "k")
        .select(col("r"), col("cell"), col("cnt").as("c1"))
        .join(CountMin.sketch(ok, "k")
          .select(col("r"), col("cell"), col("cnt").as("c2")), Seq("r", "cell"))
        .groupBy("r").agg(sum(col("c1") * col("c2")).as("ip"))
        .agg(min(col("ip")).as("est"))
      val exact = Tables.lineitem(s, dir).select("l_orderkey")
        .join(Tables.orders(s, dir).select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_cnt"))
      val n1 = Tables.lineitem(s, dir).agg(count(lit(1)).as("n_left"))
      val n2 = Tables.orders(s, dir).agg(count(lit(1)).as("n_right"))
      ip.crossJoin(broadcast(exact)).crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .select(col("est"), col("exact_cnt"), col("n_left"), col("n_right"),
          (col("est") >= col("exact_cnt")).as("over_ok"),
          (col("est").cast("double") <= col("exact_cnt").cast("double")
            + lit(2.718281828459045) / lit(1024.0)
              * col("n_left").cast("double") * col("n_right").cast("double"))
            .as("within_bound"))
    },
    Some("""WITH ab AS (SELECT * FROM (VALUES
              (0, 1103, 12289), (1, 52711, 96779),
              (2, 304807, 712201), (3, 845723, 994009)) t(r, a, b)),
            h1 AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT
                            % 2147483647 AS base FROM lineitem),
            h2 AS (SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                            % 2147483647 AS base FROM orders),
            sk1 AS (SELECT r, ((a * base + b) % 2147483647) % 1024 AS cell,
                           count(*) AS cnt FROM h1 CROSS JOIN ab GROUP BY 1, 2),
            sk2 AS (SELECT r, ((a * base + b) % 2147483647) % 1024 AS cell,
                           count(*) AS cnt FROM h2 CROSS JOIN ab GROUP BY 1, 2),
            ip AS (SELECT sk1.r, CAST(sum(sk1.cnt * sk2.cnt) AS BIGINT) AS ip
                   FROM sk1 JOIN sk2 ON sk1.r = sk2.r AND sk1.cell = sk2.cell
                   GROUP BY 1),
            e AS (SELECT min(ip) AS est FROM ip),
            x AS (SELECT count(*) AS exact_cnt
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            n1 AS (SELECT count(*) AS n_left FROM lineitem),
            n2 AS (SELECT count(*) AS n_right FROM orders)
            SELECT est, exact_cnt, n_left, n_right,
                   est >= exact_cnt AS over_ok,
                   CAST(est AS DOUBLE) <= CAST(exact_cnt AS DOUBLE)
                     + 2.718281828459045 / 1024.0
                       * CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
                     AS within_bound
            FROM e CROSS JOIN x CROSS JOIN n1 CROSS JOIN n2"""))

  /** Functional-dependency profiling (the q141 data-quality family):
    * for each candidate FD X→Y, the share of X keys mapping to more than
    * one distinct Y. One groupBy per FD with a distinct-count — at scale
    * each is a single map-combined shuffle on the key, and the violated/
    * holds verdict is exact, not sampled. Declared-but-unenforced
    * dependencies are exactly what the reference's SQLite schema carries
    * (FK pragmas off), so the audit is the Spark-side replacement.
    */
  private val q230 = GraftQuery(
    "q230_fd_violations",
    (s, dir) => {
      def fd(df: org.apache.spark.sql.DataFrame,
          key: String, dep: String, name: String) =
        df.groupBy(col(key))
          .agg(countDistinct(col(dep)).as("nv"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("nv") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
          .select(lit(name).as("fd"), col("n_keys"), col("n_violating_keys"),
            round(col("n_violating_keys").cast("double")
              / col("n_keys").cast("double"), 12).as("violation_rate"),
            (col("n_violating_keys") === 0).as("holds"))
      fd(Tables.orders(s, dir), "o_custkey", "o_orderpriority",
          "orders.o_custkey->o_orderpriority")
        .unionByName(fd(Tables.lineitem(s, dir), "l_partkey", "l_suppkey",
          "lineitem.l_partkey->l_suppkey"))
        .unionByName(fd(Tables.customer(s, dir), "c_custkey", "c_nationkey",
          "customer.c_custkey->c_nationkey"))
        .orderBy("fd")
    },
    Some("""WITH f1 AS (
              SELECT count(*) AS n_keys,
                     CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
              FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nv
                    FROM orders GROUP BY 1)),
            f2 AS (
              SELECT count(*) AS n_keys,
                     CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
              FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS nv
                    FROM lineitem GROUP BY 1)),
            f3 AS (
              SELECT count(*) AS n_keys,
                     CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys
              FROM (SELECT c_custkey, count(DISTINCT c_nationkey) AS nv
                    FROM customer GROUP BY 1)),
            u AS (
              SELECT 'orders.o_custkey->o_orderpriority' AS fd, * FROM f1
              UNION ALL SELECT 'lineitem.l_partkey->l_suppkey', * FROM f2
              UNION ALL SELECT 'customer.c_custkey->c_nationkey', * FROM f3)
            SELECT fd, n_keys, n_violating_keys,
                   round(CAST(n_violating_keys AS DOUBLE)
                     / CAST(n_keys AS DOUBLE), 12) AS violation_rate,
                   n_violating_keys = 0 AS holds
            FROM u ORDER BY fd"""))

  /** Revenue-change forecast (TPC-H Q6 shape) — the last of the 22 TPC-H
    * query shapes, completing the suite (Q1=q172 … Q22=q178). A pure
    * scan-filter-aggregate: one year of shipments, a narrow discount band,
    * small quantities. The optimizer test is that ALL three conjuncts reach
    * the parquet scan as PushedFilters (timestamp range + two doubles) and
    * the scan reads exactly the four referenced columns — no join, no
    * shuffle beyond the single-row partial-agg exchange. Revenue rides the
    * exact decimal sum; the discount band compares the stored doubles
    * against the same parsed literals on both engines (0.05/0.07 parse to
    * identical IEEE doubles in Spark and DuckDB).
    */
  private val q238 = GraftQuery(
    "q238_forecast_revenue",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= lit(0.05) && col("l_discount") <= lit(0.07) &&
            col("l_quantity") < lit(24.0))
        .agg(
          sum((col("l_extendedprice") * col("l_discount")).cast(DecimalType(30, 6)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24"""))

  /** 2-D skyline (Pareto front; Börzsönyi et al., ICDE 2001): the parts
    * no other part dominates on (lower retail price, smaller size) — the
    * multi-criteria shortlist operator ("cheapest for its size class").
    * The 2-D case needs no pairwise dominance join: over DISTINCT
    * (price, size) points sorted lexicographically, a point is on the
    * front iff its size is strictly below the running minimum of all
    * preceding points (a preceding point has smaller-or-equal price, so
    * size ≤ ours ⇒ dominance; equal-point duplicates collapse into one
    * row first, so they can't evict each other). One hash aggregate to
    * the distinct-point set, one ordered window over it — the window
    * sorts POINTS, not parts; a corpus whose distinct-pair set outgrows
    * one task would range-partition by price and carry per-partition
    * boundary minima.
    */
  private val q254 = GraftQuery(
    "q254_skyline_parts",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.part(s, dir)
        .groupBy(col("p_retailprice").as("price"), col("p_size").as("size"))
        .agg(count(lit(1)).as("n_parts"))
      val w = Window.orderBy("price", "size")
        .rowsBetween(Window.unboundedPreceding, -1)
      pts.withColumn("prev_min", min(col("size")).over(w))
        .filter(col("prev_min").isNull || col("size") < col("prev_min"))
        .select("price", "size", "n_parts")
        .orderBy("price", "size")
    },
    Some("""WITH pts AS (
              SELECT p_retailprice AS price, p_size AS size, count(*) AS n_parts
              FROM part GROUP BY 1, 2),
            sky AS (
              SELECT *, min(size) OVER (ORDER BY price, size
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
              FROM pts)
            SELECT price, size, n_parts
            FROM sky
            WHERE prev_min IS NULL OR size < prev_min
            ORDER BY price, size"""))

  val all: Seq[GraftQuery] =
    Seq(q36, q37, q38, q39, q40, q41, q42, q43, q60, q61, q68, q82, q91, q99,
      q105, q140, q141, q149, q150, q161, q167, q171, q172, q173, q174, q175,
      q176, q177, q178, q179, q190, q191, q192, q193, q194, q195, q202,
      q208, q209, q210, q211, q212, q223, q226, q230, q238, q254)
}
