package graft.queries

import graft.{GraftQuery, Tables}
import graft.pipeline.Medallion
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end medallion pipeline under the correctness gate: a
  * deterministic Monzo-shaped bronze batch is derived from the harness's
  * `orders ⋈ customer` tables, pushed through the REAL
  * [[graft.pipeline.Medallion]] orchestration (two overlapping batch loads
  * → idempotent keyed bronze, bronze → silver dims + fact, silver → gold),
  * and the layer read-backs are compared against a DuckDB oracle that
  * re-derives the same layers in SQL — proving the reference's actual
  * transform (/root/reference/src/sql/transform_bronze_to_silver.sql:1-59,
  * src/load/load.py:25-128), not just its operator analogs.
  *
  * The two-batch load (batch 1 = o_orderkey % 4 ≠ 0 at t1, batch 2 = ALL
  * rows at t2) means the oracle's `date_retrieved` must equal t1 exactly
  * for the re-sent rows — i.e. a broken insert-if-absent (duplicate or
  * re-stamped rows) fails the hash compare, which is the point.
  *
  * All derived values are integer-arithmetic or string-concat only, so
  * both engines compute bit-identical columns with no float parsing.
  */
object MedallionQueries {

  private val T1 = "2026-01-01 00:00:00"
  private val T2 = "2026-01-02 00:00:00"

  /** Monzo-bronze-shaped batch derived from orders ⋈ customer. `where`
    * filters on the raw order columns before projection (batch slicing).
    */
  private def fixtureBatch(s: SparkSession, dir: String, where: Column): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .filter(where)
      .select(
        concat(lit("tx_"), lpad(col("o_orderkey").cast("string"), 9, "0")).as("id"),
        concat(lit("order "), col("o_orderpriority")).as("description"),
        (when(col("o_orderkey") % 5 === 0, lit(1)).otherwise(lit(-1))
          * (col("o_orderkey") % 9000 + 100)).cast("int").as("amount"),
        lit("GBP").as("currency"),
        col("o_orderdate").as("created"),
        col("c_mktsegment").as("category"),
        col("o_orderstatus").as("notes"),
        (col("o_orderkey") % 97 === 0).as("is_load"),
        (col("o_orderstatus") === "F").as("settled"),
        (when(col("o_orderkey") % 5 === 0, lit(1)).otherwise(lit(-1))
          * (col("o_orderkey") % 9000 + 100)).cast("int").as("local_amount"),
        lit("GBP").as("local_currency"),
        when(col("o_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(lpad((col("o_custkey") % 200).cast("string"), 8, "0"))
          .as("counterparty_account_num"),
        lpad((col("o_custkey") % 20).cast("string"), 6, "0").as("counterparty_sort_code"),
        col("c_name").as("counterparty_name"),
        when(col("o_custkey") % 11 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("m_"), lpad((col("o_custkey") % 50).cast("string"), 3, "0")))
          .as("merchant_id"),
        concat(lit("Merchant "), col("c_name")).as("merchant_name"),
        col("c_mktsegment").as("merchant_category"))

  /** Run the full pipeline into a fresh temp root and return it. Batch 1
    * loads 3/4 of the rows at T1; batch 2 re-sends everything at T2, so
    * only the remaining quarter may land (L1 idempotence under test).
    */
  private def runPipeline(s: SparkSession, dir: String): Medallion = {
    // Scratch: removed at JVM exit — repeated bench invocations previously
    // leaked a full medallion tree under /tmp per q44 run
    val root = Scratch.tempDir("graft_medallion_")
    val m = Medallion(root)
    // the orders⋈customer fixture, shared by both batch slices (an extra
    // slice key rides along so batch 1 can filter WITHOUT re-running the
    // join). Round 13: the eager localCheckpoint here was DROPPED — since
    // the bronze fold became one first-writer window over the unioned
    // batches, both slices fuse into the single stage-bronze write job,
    // and recomputing the broadcast join there is cheaper than a separate
    // 0.35 s materialization job (the pipeline is bound by per-job fixed
    // cost, not per-row compute; round 12 measured widening this fixture
    // WORSE, 4.1 → 5.3 s, for the same reason).
    val base = fixtureBatch(s, dir, lit(true))
      .withColumn("__okey",
        substring(col("id"), 4, 9).cast("long")) // tx_%09d ⇒ o_orderkey
    // the reference's single-commit semantics: both pages fold into ONE
    // staged version (bronze+silver+gold land together, Medallion
    // .runAtomicBatches), and the queries read the COMMITTED view — the
    // oracle gate therefore covers the atomic publish path end to end
    val empty = base.limit(0).select(col("id"), col("created"))
    m.runAtomicBatches(s,
      Seq(
        base.filter(col("__okey") % 4 =!= 0).drop("__okey") -> to_timestamp(lit(T1)),
        base.drop("__okey") -> to_timestamp(lit(T2))),
      balance = empty, pots = empty, snapClock = to_timestamp(lit(T2)))
    m.committed(s).get
  }

  /** The oracle's re-derivation of what bronze must contain after the two
    * loads: every order exactly once, stamped T1 unless only batch 2
    * carried it (o_orderkey % 4 = 0).
    */
  private val bronzeCte =
    s"""WITH bronze AS (
          SELECT 'tx_' || lpad(CAST(o_orderkey AS VARCHAR), 9, '0') AS id,
                 'order ' || o_orderpriority AS description,
                 CAST((CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE -1 END)
                      * (o_orderkey % 9000 + 100) AS INT) AS amount,
                 'GBP' AS currency,
                 o_orderdate AS created,
                 c_mktsegment AS category,
                 o_orderstatus AS notes,
                 o_orderkey % 97 = 0 AS is_load,
                 o_orderstatus = 'F' AS settled,
                 CAST((CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE -1 END)
                      * (o_orderkey % 9000 + 100) AS INT) AS local_amount,
                 'GBP' AS local_currency,
                 CASE WHEN o_custkey % 7 = 0 THEN NULL
                      ELSE lpad(CAST(o_custkey % 200 AS VARCHAR), 8, '0') END
                   AS counterparty_account_num,
                 lpad(CAST(o_custkey % 20 AS VARCHAR), 6, '0') AS counterparty_sort_code,
                 c_name AS counterparty_name,
                 CASE WHEN o_custkey % 11 = 0 THEN NULL
                      ELSE 'm_' || lpad(CAST(o_custkey % 50 AS VARCHAR), 3, '0') END
                   AS merchant_id,
                 'Merchant ' || c_name AS merchant_name,
                 c_mktsegment AS merchant_category,
                 CASE WHEN o_orderkey % 4 <> 0 THEN TIMESTAMP '$T1'
                      ELSE TIMESTAMP '$T2' END AS date_retrieved
          FROM orders JOIN customer ON o_custkey = c_custkey)"""

  /** One shared pipeline run per scale dir for the secondary layer
    * read-backs (q47–q49): they verify additional OUTPUTS of the same run,
    * so re-executing the whole load→transform per query would triple-count
    * the identical work. q44 always runs it fresh — that row carries the
    * honest end-to-end cost.
    */
  private val shared = new java.util.concurrent.ConcurrentHashMap[String, Medallion]()
  private def sharedPipeline(s: SparkSession, dir: String): Medallion =
    shared.computeIfAbsent(dir, d => runPipeline(s, d))

  /** Silver fact read-back (T3+T4: projection, INTEGER→REAL widening,
    * inserted_at carry) after the full load→transform run.
    */
  private val q44 = GraftQuery(
    "q44_medallion_silver_fact",
    (s, dir) =>
      Tables.parquet(s, runPipeline(s, dir).silverTx).orderBy("id"),
    Some(s"""$bronzeCte
             SELECT id, description, CAST(amount AS DOUBLE) AS amount, currency,
                    created, category, notes, is_load, settled,
                    local_amount, local_currency,
                    counterparty_account_num, counterparty_sort_code, merchant_id,
                    date_retrieved AS inserted_at
             FROM bronze ORDER BY id"""))

  /** Merchants dim read-back (T2: first-writer-wins on attribute conflicts
    * under the deterministic (date_retrieved, created, id) order).
    */
  private val q47 = GraftQuery(
    "q47_medallion_merchants_dim",
    (s, dir) =>
      Tables.parquet(s, sharedPipeline(s, dir).silverMerchants).orderBy("id"),
    Some(s"""$bronzeCte
             SELECT id, name, category FROM (
               SELECT merchant_id AS id, merchant_name AS name,
                      merchant_category AS category,
                      row_number() OVER (PARTITION BY merchant_id
                        ORDER BY date_retrieved, created, id) AS rn
               FROM bronze WHERE merchant_id IS NOT NULL)
             WHERE rn = 1 ORDER BY id"""))

  /** Counterparties dim read-back (T1: composite-key dim, NOT NULL keys). */
  private val q48 = GraftQuery(
    "q48_medallion_counterparties_dim",
    (s, dir) =>
      Tables.parquet(s, sharedPipeline(s, dir).silverCounterparties)
        .orderBy("account_num", "sort_code"),
    Some(s"""$bronzeCte
             SELECT account_num, sort_code, name FROM (
               SELECT counterparty_account_num AS account_num,
                      counterparty_sort_code AS sort_code,
                      counterparty_name AS name,
                      row_number() OVER (
                        PARTITION BY counterparty_account_num, counterparty_sort_code
                        ORDER BY date_retrieved, created, id) AS rn
               FROM bronze
               WHERE counterparty_account_num IS NOT NULL
                 AND counterparty_sort_code IS NOT NULL)
             WHERE rn = 1 ORDER BY account_num, sort_code"""))

  /** Gold monthly-spend read-back (G1 over the silver fact: spend =
    * negated negative amounts, calendar-month rollup).
    */
  private val q49 = GraftQuery(
    "q49_medallion_gold",
    (s, dir) =>
      Tables.parquet(s, sharedPipeline(s, dir).goldMonthly)
        .withColumn("year", col("year").cast("long"))
        .withColumn("month", col("month").cast("long"))
        .orderBy("year", "month"),
    Some(s"""$bronzeCte
             SELECT year(created) AS year, month(created) AS month,
                    CAST(SUM(CAST(-CAST(amount AS DOUBLE) AS DECIMAL(30,4))) AS DOUBLE)
                      AS total_spend,
                    CAST(CAST(SUM(CAST(-CAST(amount AS DOUBLE) AS DECIMAL(30,4))) AS DOUBLE)
                         / COUNT(*) AS DOUBLE) AS avg_spend
             FROM bronze WHERE CAST(amount AS DOUBLE) < 0
             GROUP BY 1, 2 ORDER BY year, month"""))

  /** SCD Type-2 dimension built from yearly snapshots ([[graft.operators.Scd2]]):
    * each customer's yearly order-count band (1, 2, 3+) becomes validity
    * runs with `valid_from`/`valid_to`/`is_current`. All-integer
    * attributes, so change detection and the interval edges are bit-exact
    * against the window-function oracle.
    */
  private val q59 = GraftQuery(
    "q59_scd2_dim",
    (s, dir) => {
      val snapshots = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("cust"),
          year(col("o_orderdate")).cast("long").as("snap_year"))
        .agg(least(count(lit(1)), lit(3L)).as("band"))
      graft.operators.Scd2.buildScd2(
          snapshots, keyCols = Seq("cust"), orderCol = "snap_year",
          attrCols = Seq("band"))
        .select("cust", "band", "valid_from", "valid_to", "is_current")
        .orderBy("cust", "valid_from")
    },
    Some("""WITH snap AS (
              SELECT o_custkey AS cust, CAST(year(o_orderdate) AS BIGINT) AS snap_year,
                     least(count(*), 3) AS band
              FROM orders GROUP BY 1, 2),
            chg AS (
              SELECT *, lag(band) OVER (PARTITION BY cust ORDER BY snap_year) AS prev
              FROM snap),
            kept AS (
              SELECT cust, snap_year, band FROM chg
              WHERE prev IS NULL OR band <> prev),
            scd AS (
              SELECT cust, band, snap_year AS valid_from,
                     lead(snap_year) OVER (PARTITION BY cust ORDER BY snap_year) AS valid_to
              FROM kept)
            SELECT cust, band, valid_from, valid_to,
                   (valid_to IS NULL) AS is_current
            FROM scd ORDER BY cust, valid_from"""))

  /** CDC merge ([[graft.operators.Cdc]]): a deterministic changeset —
    * deletes for custkey%10=0, name updates for %10=1, fresh inserts above
    * the key range — applied to the customer snapshot as one anti-join +
    * union. The oracle recomputes the merge relationally, so dropped
    * deletes, missed updates, or duplicated inserts all hash-mismatch.
    */
  private val q63 = GraftQuery(
    "q63_cdc_merge",
    (s, dir) => {
      val snap = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_mktsegment")
      val updates = snap.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_name", concat(lit("UPDATED "), col("c_name")))
        .withColumn("op", lit("U"))
      val deletes = snap.filter(col("c_custkey") % 10 === 0)
        .withColumn("op", lit("D"))
      val inserts = snap.filter(col("c_custkey") % 10 === 2)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("NEW "), col("c_name")).as("c_name"),
          col("c_mktsegment"), lit("I").as("op"))
      graft.operators.Cdc.applyChanges(
          snap, updates.unionByName(deletes).unionByName(inserts),
          keys = Seq("c_custkey"))
        .orderBy("c_custkey")
    },
    Some("""WITH snap AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
            changes AS (
              SELECT c_custkey, 'UPDATED ' || c_name AS c_name, c_mktsegment, 'U' AS op
              FROM snap WHERE c_custkey % 10 = 1
              UNION ALL
              SELECT c_custkey, c_name, c_mktsegment, 'D' AS op
              FROM snap WHERE c_custkey % 10 = 0
              UNION ALL
              SELECT c_custkey + 1000000, 'NEW ' || c_name, c_mktsegment, 'I' AS op
              FROM snap WHERE c_custkey % 10 = 2)
            SELECT c_custkey, c_name, c_mktsegment FROM snap
            WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
            UNION ALL
            SELECT c_custkey, c_name, c_mktsegment FROM changes WHERE op IN ('I', 'U')
            ORDER BY c_custkey"""))

  /** Snapshot diff ([[graft.operators.Cdc.diff]]): the time-travel audit
    * between two keyed snapshot versions — every key classified
    * insert/delete/update off ONE full-outer key join, unchanged keys
    * dropped. Versions are deterministic functions of `customer` (key
    * presence by modulus, a balance bump for a third of the survivors),
    * so the oracle rebuilds both sides and replays the classification.
    */
  private val q87 = GraftQuery(
    "q87_snapshot_diff",
    (s, dir) => {
      val cust = Tables.customer(s, dir)
      val oldSnap = cust.filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      val newSnap = cust.filter(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey"),
          (col("c_acctbal") +
            when(col("c_custkey") % 3 === 0, 10.0).otherwise(0.0)).as("c_acctbal"))
      graft.operators.Cdc.diff(oldSnap, newSnap,
          keys = Seq("c_custkey"), compareCols = Seq("c_acctbal"))
        .select(col("c_custkey"), col("change"),
          col("old_c_acctbal"), col("new_c_acctbal"))
        .orderBy("c_custkey")
    },
    Some("""WITH o AS (
              SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 7 <> 0),
            n AS (
              SELECT c_custkey,
                     c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN 10.0 ELSE 0.0 END AS c_acctbal
              FROM customer WHERE c_custkey % 5 <> 0)
            SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
                   CASE WHEN o.c_custkey IS NULL THEN 'insert'
                        WHEN n.c_custkey IS NULL THEN 'delete'
                        WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update' END AS change,
                   o.c_acctbal AS old_c_acctbal,
                   n.c_acctbal AS new_c_acctbal
            FROM o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey
            WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
               OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
            ORDER BY c_custkey"""))

  /** Incremental gold maintenance ([[graft.operators.GoldAgg]] state
    * form): the monthly order-volume mart refreshed from three disjoint
    * fact batches by state merge instead of full rebuild. Decimal-carried
    * totals make the fold associative-exact, so the published mart — and
    * therefore the oracle, which aggregates everything at once — is
    * bit-identical to a from-scratch rebuild for ANY batch split.
    */
  private val q75 = GraftQuery(
    "q75_incremental_gold",
    (s, dir) => {
      import graft.operators.GoldAgg
      val fact = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      def batch(r: Int) = fact.filter(col("o_orderkey") % 3 === r)
      val state = GoldAgg.mergeMonthlyState(
        GoldAgg.mergeMonthlyState(
          GoldAgg.monthlySpendState(batch(0), "o_orderdate", "o_totalprice"),
          GoldAgg.monthlySpendState(batch(1), "o_orderdate", "o_totalprice")),
        GoldAgg.monthlySpendState(batch(2), "o_orderdate", "o_totalprice"))
      GoldAgg.finishMonthly(state)
    },
    Some("""SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS total_spend,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                        / count(o_totalprice) AS DOUBLE) AS avg_spend,
                   count(*) AS n_rows
            FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month"""))

  // q76's nested fixture lands via Landed (per-process + per-scale-dir
  // path, recorded for the post-run oracle dump) so the DuckDB oracle —
  // which receives only the sfDir tables as views — can read the same
  // structs back with `read_parquet` without concurrent runs clobbering
  // each other. def q76 + def all so the oracle embeds the recorded path.

  /** API-shaped nested transactions (counterparty struct, merchant struct
    * with nested address + tags array) derived deterministically from
    * orders ⋈ customer — the /transactions?expand[]=merchant payload shape
    * the reference flattens driver-side
    * (/root/reference/src/utils/api/api_client.py:32-109). Null patterns
    * exercise every default the flatten applies: missing amount/is_load/
    * local_amount, absent merchant (all 15 attribute columns NULL but the
    * two booleans FALSE), missing settled, nulls inside nested structs.
    */
  private def nestedFixture(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(
        concat(lit("tx_"), lpad(col("o_orderkey").cast("string"), 9, "0")).as("id"),
        concat(lit("order "), col("o_orderpriority")).as("description"),
        when(col("o_orderkey") % 13 === 0, lit(null).cast("long"))
          .otherwise((when(col("o_orderkey") % 5 === 0, lit(1)).otherwise(lit(-1))
            * (col("o_orderkey") % 9000 + 100)).cast("long")).as("amount"),
        lit("GBP").as("currency"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("created"),
        col("c_mktsegment").as("category"),
        col("o_orderstatus").as("notes"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("boolean"))
          .otherwise(col("o_orderkey") % 97 === 0).as("is_load"),
        when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(date_format(col("o_orderdate"), "yyyy-MM-dd"), lit(" 12:34:56")))
          .as("settled"),
        when(col("o_orderkey") % 17 === 0, lit(null).cast("long"))
          .otherwise((col("o_orderkey") % 9000 + 100).cast("long")).as("local_amount"),
        lit("GBP").as("local_currency"),
        struct(
          col("c_name").as("name"),
          when(col("o_custkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(lpad((col("o_custkey") % 200).cast("string"), 8, "0"))
            .as("account_number"),
          lpad((col("o_custkey") % 20).cast("string"), 6, "0").as("sort_code"))
          .as("counterparty"),
        when(col("o_custkey") % 11 === 0, lit(null)).otherwise(struct(
          concat(lit("m_"), lpad((col("o_custkey") % 50).cast("string"), 3, "0")).as("id"),
          concat(lit("Merchant "), col("c_name")).as("name"),
          col("c_mktsegment").as("category"),
          concat(lit("https://logo.example/"), (col("o_custkey") % 50).cast("string")).as("logo"),
          lit(":shop:").as("emoji"),
          when(col("o_orderkey") % 19 === 0, lit(null).cast("boolean"))
            .otherwise(col("o_orderkey") % 2 === 0).as("online"),
          (col("o_orderkey") % 23 === 0).as("atm"),
          struct(
            concat((col("o_custkey") % 99).cast("string"), lit(" High St")).as("address"),
            when(col("o_custkey") % 13 === 0, lit(null).cast("string"))
              .otherwise(lit("London")).as("city"),
            concat(lit("N"), (col("o_custkey") % 20).cast("string")).as("postcode"),
            lit("GBR").as("country"),
            ((col("o_custkey") % 180) - 90 + lit(0.5)).cast("double").as("latitude"),
            ((col("o_orderkey") % 360) - 180 + lit(0.25)).cast("double").as("longitude"))
            .as("address"),
          concat(lit("gp_"), (col("o_custkey") % 1000).cast("string")).as("google_places_id"),
          when(col("o_orderkey") % 29 === 0,
              lit(null).cast(org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType)))
            .otherwise(array(lit("tag"), concat(lit("seg:"), col("c_mktsegment"))))
            .as("suggested_tags"),
          concat(lit("fsq_"), (col("o_custkey") % 1000).cast("string")).as("foursquare_id"),
          when(col("o_custkey") % 31 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("https://m"), (col("o_custkey") % 50).cast("string"),
              lit(".example"))).as("website")))
          .as("merchant"))

  /** P1 flatten under the oracle gate (closing the one §2a row that was
    * spec-only): the nested fixture is round-tripped through parquet, run
    * through the REAL [[graft.sources.MonzoSource.flattenTransactions]],
    * and compared against DuckDB accessing the same structs directly —
    * so every struct path, null default, timestamp parse, and the
    * tags→JSON encode are hash-gated, not just spec-asserted.
    */
  // fixture generation is input prep, not the operator under test — write
  // once per (JVM, scale dir); the flatten itself still runs on every
  // invocation. Landed paths are already distinct per dir, so a seen-set
  // of written paths is the correct cache key (marked AFTER the write:
  // overwrite deletes the old fixture first, so caching on exception
  // would poison every later run in the JVM).
  private val q76Written = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def q76 = GraftQuery(
    "q76_monzo_nested_flatten",
    (s, dir) => {
      val path = Landed.land("q76_monzo_nested_flatten", dir)
      if (!q76Written.contains(path)) {
        nestedFixture(s, dir).write.mode("overwrite").parquet(path)
        q76Written.add(path)
      }
      graft.sources.MonzoSource.flattenTransactions(Tables.parquet(s, path))
        .orderBy("id")
    },
    Some(s"""SELECT id, description, COALESCE(amount, 0) AS amount, currency,
                    CAST(created AS TIMESTAMP) AS created, category, notes,
                    COALESCE(is_load, false) AS is_load,
                    CAST(settled AS TIMESTAMP) AS settled,
                    COALESCE(local_amount, 0) AS local_amount, local_currency,
                    t.counterparty.name AS counterparty_name,
                    t.counterparty.account_number AS counterparty_account_num,
                    t.counterparty.sort_code AS counterparty_sort_code,
                    t.merchant.id AS merchant_id,
                    t.merchant.name AS merchant_name,
                    t.merchant.category AS merchant_category,
                    t.merchant.logo AS merchant_logo,
                    t.merchant.emoji AS merchant_emoji,
                    COALESCE(t.merchant.online, false) AS merchant_online,
                    COALESCE(t.merchant.atm, false) AS merchant_atm,
                    t.merchant.address.address AS merchant_address,
                    t.merchant.address.city AS merchant_city,
                    t.merchant.address.postcode AS merchant_postcode,
                    t.merchant.address.country AS merchant_country,
                    t.merchant.address.latitude AS merchant_latitude,
                    t.merchant.address.longitude AS merchant_longitude,
                    t.merchant.google_places_id AS merchant_google_places_id,
                    CASE WHEN t.merchant.suggested_tags IS NULL THEN NULL
                         ELSE CAST(to_json(t.merchant.suggested_tags) AS VARCHAR)
                    END AS merchant_suggested_tags,
                    t.merchant.foursquare_id AS merchant_foursquare_id,
                    t.merchant.website AS merchant_website
             FROM read_parquet('${Landed.oraclePath("q76_monzo_nested_flatten")}/*.parquet') t
             ORDER BY id"""))

  /** Streaming CDC sink end-to-end under the oracle gate (q63 proves the
    * MERGE operator in batch; this proves the [[graft.streaming.StreamingCdcLoad]]
    * SINK): three staged change files — disjoint c_custkey%3 slices, so
    * the final state is independent of file→batch arrival order — drain
    * through an AvailableNow stream, one copy-on-write snapshot version
    * per micro-batch with the atomic marker flip, and the published
    * snapshot is read back through `latest()`. Every key carries an
    * insert; keys %5=0 also carry a higher-seq delete, so the per-batch
    * seq compaction (delete must beat the insert WITHIN its batch) and
    * the apply-to-empty-snapshot path are both hash-gated.
    */
  private val q80 = GraftQuery(
    "q80_streaming_cdc_snapshot",
    (s, dir) => {
      // Scratch: removed at JVM exit — the oracle re-derives from the
      // customer table, so nothing outside this run reads these
      val staged = Scratch.tempDir("graft_q80_staged_")
      val root = Scratch.tempDir("graft_q80_root_") + "/snap"
      val ckpt = Scratch.tempDir("graft_q80_ckpt_")
      val base = Tables.customer(s, dir).select(
        col("c_custkey"),
        concat(lit("V"), col("c_name")).as("c_name"),
        lit("I").as("op"),
        (col("c_custkey") * 10L).as("seq"))
      val deletes = Tables.customer(s, dir)
        .filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), col("c_name"),
          lit("D").as("op"), (col("c_custkey") * 10L + 1L).as("seq"))
      (0 until 3).foreach { slice =>
        base.unionByName(deletes).filter(col("c_custkey") % 3 === slice)
          .coalesce(1).write.mode("append").parquet(staged)
      }
      graft.streaming.StreamingCdcLoad.run(
        s, staged, root, keys = Seq("c_custkey"), seqCol = "seq",
        checkpointDir = ckpt)
      val (_, snapDir) = graft.pipeline.Versions.latest(s, root).get
      Tables.parquet(s, snapDir).orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, 'V' || c_name AS c_name
            FROM customer WHERE c_custkey % 5 <> 0
            ORDER BY c_custkey"""))

  /** L1+L4 graded directly: bronze read-back after the two-batch load,
    * including the `date_retrieved` audit stamp
    * (/root/reference/src/load/load.py:47,140,174). The injectable clock
    * (the per-batch `clock` column of
    * [[graft.pipeline.Medallion.runAtomicBatches]], fixed to T1/T2 literals
    * here, `current_timestamp` in production) makes the stamp
    * deterministic, so the hash compare covers the one reference
    * row (L4) that a wall-clock stamp would have excluded from the oracle:
    * rows carried by batch 1 must read exactly T1 — a re-stamp on the
    * batch-2 re-send, a duplicate, or a dropped stamp all fail the hash.
    */
  private val q100 = GraftQuery(
    "q100_medallion_bronze_audit",
    (s, dir) =>
      Tables.parquet(s, sharedPipeline(s, dir).bronzeTx).orderBy("id"),
    Some(s"""$bronzeCte
             SELECT id, description, amount, currency, created, category,
                    notes, is_load, settled, local_amount, local_currency,
                    counterparty_account_num, counterparty_sort_code,
                    counterparty_name, merchant_id, merchant_name,
                    merchant_category, date_retrieved
             FROM bronze ORDER BY id"""))

  // def, not val: q76 rebuilds its oracle SQL from the recorded landing
  // path on every access (see the Landed note above)
  def all: Seq[GraftQuery] = Seq(q44, q47, q48, q49, q59, q63, q75, q76, q80, q87, q100)
}
