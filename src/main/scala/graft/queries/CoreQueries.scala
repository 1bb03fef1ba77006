package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.Exact
import graft.operators.{Dedup, GoldAgg, Normalize}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity relational surface (SURVEY.md §2a) expressed over the
  * harness star schema. Each query names the reference operator(s) it
  * covers, with citations into /root/reference in the Scaladoc.
  *
  * Determinism contract for the DuckDB oracle: every query ends in a total
  * ORDER BY, and every aggregated double goes through [[Exact]] so the
  * result is independent of partitioning.
  */
object CoreQueries {

  /** Q1/Q2/S5 — scan + global sort + limit ("latest snapshot" pattern,
    * /root/reference/notebooks/query_sqlite_db.ipynb cell 4: `SELECT * FROM
    * bronze_balance ORDER BY date_retrieved DESC`). TopK sort: Spark plans
    * this as TakeOrderedAndProject — no full sort, no full shuffle.
    */
  private val q01 = GraftQuery(
    "q01_scan_sort_limit",
    (s, dir) =>
      Tables.lineitem(s, dir)
        // (l_orderkey, l_linenumber) is NOT unique in the generator's
        // lineitem — extend to a TOTAL order so positional compares and the
        // limit boundary are deterministic (ties become identical rows)
        .orderBy(col("l_shipdate").desc, col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_partkey"), col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"))
        .limit(200),
    Some("""SELECT * FROM lineitem
            ORDER BY l_shipdate DESC, l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     l_quantity, l_extendedprice, l_discount, l_tax,
                     l_returnflag, l_linestatus LIMIT 200"""))

  /** S4 — predicate pushdown + projection (reference pushes `since`/`before`
    * to the API, api_client.py:176-187; here the filter reaches the parquet
    * scan as PushedFilters and only 5 columns are read).
    */
  private val q02 = GraftQuery(
    "q02_filter_project",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") && col("l_discount") > 0.05)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("l_orderkey", "l_linenumber", "revenue"),
    Some("""SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1.0 - l_discount) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_discount > 0.05
            ORDER BY l_orderkey, l_linenumber, revenue"""))

  /** T1 — DISTINCT projection + NOT NULL key filter → dimension table
    * (counterparties dim, transform_bronze_to_silver.sql:1-8). Here:
    * distinct (partkey, suppkey) pairs observed in the fact table.
    */
  private val q03 = GraftQuery(
    "q03_distinct_dim",
    (s, dir) =>
      Normalize.distinctDim(Tables.lineitem(s, dir), Seq("l_partkey", "l_suppkey"), Nil)
        .orderBy("l_partkey", "l_suppkey"),
    Some("""SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
            ORDER BY l_partkey, l_suppkey"""))

  /** T2 — first-writer-wins dimension extract (merchants dim,
    * transform_bronze_to_silver.sql:10-35; INSERT OR IGNORE keeps the first
    * row per key). Deterministic order: earliest shipment, then PK.
    */
  private val q04 = GraftQuery(
    "q04_first_writer_dim",
    (s, dir) =>
      Normalize.firstWriterDim(
        Tables.lineitem(s, dir),
        keyCols = Seq("l_partkey"),
        attrCols = Seq("l_suppkey", "l_shipdate", "l_extendedprice"),
        order = Seq(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_suppkey").asc, col("l_extendedprice").asc))
        .orderBy("l_partkey"),
    Some("""SELECT l_partkey, l_suppkey, l_shipdate, l_extendedprice
            FROM (SELECT l_partkey, l_suppkey, l_shipdate, l_extendedprice,
                         row_number() OVER (PARTITION BY l_partkey
                           ORDER BY l_shipdate, l_orderkey, l_linenumber,
                                    l_suppkey, l_extendedprice) AS rn
                  FROM lineitem)
            WHERE rn = 1 ORDER BY l_partkey"""))

  /** T3/T4 — fact projection dropping denormalized columns + INTEGER→REAL
    * widening cast (silver amount REAL receives bronze INTEGER,
    * create_silver_layer.sql:4; transform copies without unit conversion,
    * transform_bronze_to_silver.sql:45).
    */
  private val q05 = GraftQuery(
    "q05_fact_project_cast",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_suppkey").cast("double").as("suppkey_real"),
          col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber", "suppkey_real", "l_quantity",
          "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber,
                   CAST(l_suppkey AS DOUBLE) AS suppkey_real,
                   l_quantity, l_extendedprice
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, suppkey_real, l_quantity,
                     l_extendedprice"""))

  /** L1 — keyed insert-if-absent dedup sink (load.py:25-128): the append set
    * is the anti join of incoming rows against existing keys. "Existing" here
    * = orders already finalized (status F).
    */
  private val q06 = GraftQuery(
    "q06_anti_join_insert_absent",
    (s, dir) => {
      val incoming = Tables.lineitem(s, dir)
      val existing = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      Dedup.insertIfAbsent(incoming, existing, Seq("l_orderkey"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate")
    },
    Some("""SELECT * FROM lineitem
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     l_quantity, l_extendedprice, l_discount, l_tax,
                     l_returnflag, l_linestatus, l_shipdate"""))

  /** G1 — gold monthly-spend rollup (create_gold_layer.sql:1-6, the
    * reference's one declared analytics query; never populated there).
    */
  private val q07 = GraftQuery(
    "q07_gold_monthly_agg",
    (s, dir) =>
      GoldAgg.monthlySpend(Tables.orders(s, dir), "o_orderdate", "o_totalprice")
        .withColumn("o_year", col("o_year").cast("long"))
        .withColumn("o_month", col("o_month").cast("long"))
        .orderBy("o_year", "o_month"),
    Some("""SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_spend,
                   CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                        / COUNT(o_totalprice) AS DOUBLE) AS avg_spend,
                   COUNT(*) AS n_rows
            FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** E1 — broadcast-lookup enrichment join (currency-rate notebook,
    * notebooks/currency_ex_rate_api.ipynb; FK materialization). Two small
    * dims broadcast; one shuffle total (the aggregate).
    */
  private val q08 = GraftQuery(
    "q08_broadcast_enrich_join",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          Exact.sumD(col("c_acctbal")).as("total_acctbal"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name, COUNT(*) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name"""))

  /** P2 — null-defaulting (`.get(key, default)` semantics,
    * api_client.py:44-51; load.py:207-216): customers without orders get
    * total 0 instead of NULL.
    */
  private val q09 = GraftQuery(
    "q09_null_default_left_join",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          coalesce(Exact.sumD(col("o_totalprice")), lit(0.0)).as("total_spend"),
          count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
                   COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 0.0) AS total_spend,
                   COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey"""))

  /** P3 — JSON-in-TEXT decode (merchant_suggested_tags json round trip,
    * load.py:117): extract a typed field from the events JSON props column.
    */
  private val q10 = GraftQuery(
    "q10_json_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("prop_k"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
            FROM events ORDER BY event_id"""))

  /** Q2/L2 — latest-snapshot-per-key (bronze_balance/pots are append-only
    * snapshots read back ORDER BY date_retrieved DESC; the per-key variant
    * is the scalable form). A max-struct hash AGGREGATE, not a window: the
    * window sorts every event inside the shuffle, while the aggregate's
    * map-side partials collapse each partition to one row per user before
    * the exchange — O(keys) shuffled instead of O(rows). (ts, event_id)
    * leads the struct and is total per user, so the lexicographic max is
    * exactly the `row_number() = 1` row and the payload never tie-breaks.
    */
  private val q11 = GraftQuery(
    "q11_latest_snapshot_per_key",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"), col("m.ts").as("ts"),
          col("m.event_type").as("event_type"), col("m.value").as("value"))
        .orderBy("user_id"),
    Some("""SELECT user_id, event_id, ts, event_type, value
            FROM (SELECT user_id, event_id, ts, event_type, value,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 ORDER BY user_id"""))

  /** S2-adjacent scalar surface — abs / date-part extraction
    * (abs(spend_today), api_client.py:219; year/month for the gold rollup).
    */
  private val q12 = GraftQuery(
    "q12_scalar_functions",
    (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          abs(col("value")).as("abs_value"),
          year(col("ts")).cast("long").as("ts_year"),
          month(col("ts")).cast("long").as("ts_month"),
          dayofmonth(col("ts")).cast("long").as("ts_day"),
          hour(col("ts")).cast("long").as("ts_hour"),
          coalesce(col("event_type"), lit("unknown")).as("event_type"))
        .orderBy("event_id"),
    Some("""SELECT event_id, ABS(value) AS abs_value,
                   year(ts) AS ts_year, month(ts) AS ts_month,
                   day(ts) AS ts_day, hour(ts) AS ts_hour,
                   COALESCE(event_type, 'unknown') AS event_type
            FROM events ORDER BY event_id"""))

  /** Skew-safe salted equi-join (fact × dim), aggregated per nation. The
    * salt rewrite must be row-identical to the plain join — which is
    * exactly what the oracle (a plain SQL join) checks.
    */
  private val q34 = GraftQuery(
    "q34_salted_join_agg",
    (s, dir) => {
      val joined = graft.operators.SkewJoin.saltedEquiJoin(
        Tables.lineitem(s, dir).select(
          col("l_suppkey").as("s_suppkey"), col("l_extendedprice"), col("l_discount")),
        Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
        Seq("s_suppkey"), factor = 8)
      joined.groupBy("s_nationkey")
        .agg(
          count(lit(1)).as("n_items"),
          Exact.sumD(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("s_nationkey")
    },
    Some("""SELECT s_nationkey, count(*) AS n_items,
                   CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,4))) AS DOUBLE)
                     AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** E1 literal — currency-rate enrichment: a tiny GBP→{EUR,USD,JPY} rates
    * lookup broadcast onto a money column, then a monthly converted-total
    * rollup. This is the reference's exploratory FX join
    * (/root/reference/notebooks/currency_ex_rate_api.ipynb cell 1 — GBP
    * base rates applied to transaction amounts) with literal rates standing
    * in for the API payload; q08 covers the join *shape* on TPC-H dims,
    * this covers the actual rates semantics. Broadcast: the rates side is
    * 3 rows at any corpus scale, so the join is shuffle-free.
    */
  private val q45 = GraftQuery(
    "q45_currency_enrichment",
    (s, dir) => {
      import s.implicits._
      val rates = Seq(("GBP", 1.0), ("EUR", 1.17), ("USD", 0.79))
        .toDF("ccy", "rate_to_gbp")
      Tables.orders(s, dir)
        .withColumn("currency",
          when(col("o_orderkey") % 3 === 0, lit("GBP"))
            .when(col("o_orderkey") % 3 === 1, lit("EUR"))
            .otherwise(lit("USD")))
        .join(broadcast(rates), col("currency") === col("ccy"))
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"))
        .agg(
          count(lit(1)).as("n_tx"),
          Exact.sumD(col("o_totalprice") * col("rate_to_gbp")).as("gbp_total"))
        .orderBy("o_year", "o_month")
    },
    Some("""WITH rates(ccy, rate_to_gbp) AS (
              VALUES ('GBP', CAST(1.0 AS DOUBLE)),
                     ('EUR', CAST(1.17 AS DOUBLE)),
                     ('USD', CAST(0.79 AS DOUBLE)))
            SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
                   count(*) AS n_tx,
                   CAST(sum(CAST(o_totalprice * rate_to_gbp AS DECIMAL(30,4))) AS DOUBLE)
                     AS gbp_total
            FROM orders JOIN rates
              ON (CASE WHEN o_orderkey % 3 = 0 THEN 'GBP'
                       WHEN o_orderkey % 3 = 1 THEN 'EUR'
                       ELSE 'USD' END) = ccy
            GROUP BY 1, 2 ORDER BY o_year, o_month"""))

  /** JSONL corpus ingest ([[graft.sources.TextSources]]): documents
    * serialized to newline-delimited JSON (the training-corpus
    * interchange format) and read back under a DECLARED schema with the
    * PERMISSIVE corrupt-record lane — no inference pass. The oracle
    * parses the SAME landed files with DuckDB's independent JSON reader,
    * so serialization, escaping, and schema enforcement are all
    * cross-checked hash-exactly. A `def` (and `all` a def): the landed
    * path is embedded at oracle-dump time.
    */
  private def q89 = GraftQuery(
    "q89_jsonl_roundtrip",
    (s, dir) => {
      val path = graft.queries.Landed.land("q89_jsonl_roundtrip", dir)
      val docs = Tables.documents(s, dir)
      graft.sources.TextSources.writeJsonl(
        docs.repartition(1), path) // one part: stable glob
      // declared schema = the table's own (single source of truth — a
      // hand-copied StructType would drift invisibly: a renamed column
      // reads NULL in BOTH engines and the hash compare still passes)
      graft.sources.TextSources.readJsonlClean(s, path, docs.schema)
        // lazy-checkpoint barrier: the harness also bare-counts this frame
        // (bench), which needs the full-parse count (see TextSources
        // scaladoc); 500-5000 rows, negligible
        .localCheckpoint(eager = false)
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, text, lang, source, n_chars
             FROM read_json('${graft.queries.Landed.oraclePath("q89_jsonl_roundtrip")}/part-*',
               format='newline_delimited',
               columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
                        source: 'VARCHAR', n_chars: 'BIGINT'})
             ORDER BY doc_id"""))

  /** Wide→long reshaping via the native `unpivot` (melt): the four
    * lineitem measures stack into (measure, value) rows, then one
    * aggregate profiles each measure — the schema-normalization step
    * that feeds generic per-metric pipelines (q133 histograms, q154
    * drift) without one branch per physical column. Unpivot is a NARROW
    * projection (each input row emits |measures| rows map-side, no
    * shuffle, no Generate-join), so the only exchange is the 4-group
    * aggregate; the oracle replays it as the equivalent UNION ALL
    * stack. Sums ride the fixed-point accumulator.
    */
  private val q162 = GraftQuery(
    "q162_unpivot_measures",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .unpivot(
          ids = Array.empty[org.apache.spark.sql.Column],
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "measure", valueColumnName = "value")
        .groupBy("measure")
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"),
          max(col("value")).as("max_v"),
          round(graft.functions.Exact.sumFx(col("value"), 6), 6).as("sum_v"))
        .orderBy("measure"),
    Some(s"""WITH long AS (
              SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT 'l_tax', l_tax FROM lineitem)
            SELECT measure, count(*) AS n, min(value) AS min_v, max(value) AS max_v,
                   round(${graft.functions.Exact.sumFxSql("value", 6)}, 6) AS sum_v
            FROM long GROUP BY measure ORDER BY measure"""))

  def all: Seq[GraftQuery] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q34, q45,
      q89, q162)
}
