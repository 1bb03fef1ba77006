package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-column / cross-group statistical profiling — the §2 extension
  * family for corpus- and warehouse-level data diagnostics (correlation
  * structure, feature↔label association, distribution shape, behavioral
  * sequences). The reference's analytics surface stops at the gold rollup
  * (/root/reference/src/sql/create_gold_layer.sql:1-6); these are the
  * profiling passes a training-data pipeline runs beside it.
  *
  * Determinism contract (the q111 scheme): every aggregate that feeds a
  * closed-form double rides a rounded DECIMAL sum (order-free), and the
  * closed form is the same sequence of IEEE double operations in both
  * engines, so results hash bit-for-bit.
  */
object StatsQueries {

  // ---------------------------------------------------------------- q131

  private val CorrCols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  /** Pearson correlation matrix over a set of numeric columns in ONE hash
    * aggregate: n plus Σx/Σx² per column plus Σxy per pair — 15 exact
    * sums for 4 columns, a single reduce to one row, then the 6
    * pair-correlations unfold from that row with `explode`. No per-pair
    * scan, no `stat.corr` driver loop: the corpus is read once regardless
    * of how many pairs are requested, which is the shape that matters at
    * 100 TB (the alternative — one `corr` aggregate per pair — rescans
    * the fact table O(k²) times).
    *
    * The sums ride [[graft.functions.Exact.sumFx]]'s 128-bit fixed-point
    * accumulator: the original 15 decimal sums each paid a per-row
    * decimal allocation + overflow-checked add, and together they WERE
    * the query's bench time (6.1 of 6.2 s at sf0.1 — measured by
    * substituting plain double sums).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    def d(c: Column) = graft.functions.Exact.sumFx(c, 6)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    val aggs =
      count(lit(1)).cast("double").as("n") +:
        (cols.map(c => d(col(c)).as(s"s_$c")) ++
          cols.map(c => d(col(c) * col(c)).as(s"ss_$c")) ++
          pairs.map { case (a, b) => d(col(a) * col(b)).as(s"sp_${a}__$b") })
    val sums = df.agg(aggs.head, aggs.tail: _*)
    def r(a: String, b: String): Column =
      (col("n") * col(s"sp_${a}__$b") - col(s"s_$a") * col(s"s_$b")) /
        sqrt((col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")) *
          (col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")))
    sums
      .select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("x_col"), lit(b).as("y_col"), round(r(a, b), 9).as("r"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("x_col", "y_col")
  }

  private def corrOracle: String = {
    def d(e: String) = graft.functions.Exact.sumFxSql(e, 6)
    val pairs = for { i <- CorrCols.indices; j <- (i + 1) until CorrCols.size }
      yield (CorrCols(i), CorrCols(j))
    val sums =
      (Seq("CAST(count(*) AS DOUBLE) AS n") ++
        CorrCols.map(c => s"${d(c)} AS s_$c") ++
        CorrCols.map(c => s"${d(s"$c * $c")} AS ss_$c") ++
        pairs.map { case (a, b) => s"${d(s"$a * $b")} AS sp_${a}__$b" }).mkString(",\n         ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS x_col, '$b' AS y_col,
            round((n * sp_${a}__$b - s_$a * s_$b)
              / sqrt((n * ss_$a - s_$a * s_$a) * (n * ss_$b - s_$b * s_$b)), 9) AS r
          FROM s"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH s AS (
         SELECT $sums
         FROM lineitem)
        SELECT x_col, y_col, r FROM (
          $rows)
        ORDER BY x_col, y_col"""
  }

  private val q131 = GraftQuery(
    "q131_corr_matrix",
    (s, dir) => corrMatrix(Tables.lineitem(s, dir), CorrCols),
    Some(corrOracle))

  // ---------------------------------------------------------------- q132

  /** χ² token↔source association (feature selection: which tokens are
    * over-represented in which source): doc-level presence sets →
    * 2×2 contingency per (source, token) from three aggregates — per-source
    * doc counts (broadcast: |sources| ≪ |docs|, the q113 contract), global
    * token document frequency (the word-keyed shuffle), per-(source, token)
    * presence counts — then the closed-form χ² on doubles and a per-source
    * top-k window. The df ≥ minDf gate filters the vocabulary BEFORE the
    * contingency join, so rare-token pairs never reach it. Counts go to
    * double before multiplying: a·d at corpus scale overflows Long
    * (5·10⁹² at 50k docs), and the χ² ratio needs doubles anyway.
    */
  def chiSqTokens(docs: DataFrame, minDf: Long = 10, topK: Int = 5): DataFrame = {
    val pres = docs
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
    val nSrc = docs.groupBy("source").agg(count(lit(1)).cast("double").as("n_src"))
    val nTot = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val dfW = pres.groupBy("word").agg(count(lit(1)).cast("double").as("df"))
      .filter(col("df") >= lit(minDf.toDouble))
    val a = pres.groupBy("source", "word").agg(count(lit(1)).cast("double").as("a"))
    val cells = a
      .join(dfW, "word")
      .join(broadcast(nSrc), "source")
      .crossJoin(broadcast(nTot))
      .withColumn("b", col("n_src") - col("a"))
      .withColumn("c", col("df") - col("a"))
      .withColumn("d", col("n_total") - col("n_src") - col("df") + col("a"))
    // a margin-filling token (df = N, or a source-exclusive universe) zeroes
    // the denominator; such cells carry no signal — score 0, not NaN (NaN
    // sorts LARGEST in a DESC window, which would rank noise first)
    val denom = (col("a") + col("b")) * (col("c") + col("d")) *
      (col("a") + col("c")) * (col("b") + col("d"))
    val chi2 = when(denom === 0.0, 0.0).otherwise(
      col("n_total") * (col("a") * col("d") - col("b") * col("c")) *
        (col("a") * col("d") - col("b") * col("c")) / denom)
    val w = Window.partitionBy("source")
      .orderBy(col("chi2").desc, col("word").asc)
    cells
      .withColumn("chi2", round(chi2, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("word"),
        col("a").cast("long").as("df_in_source"),
        col("df").cast("long").as("df_global"), col("chi2"))
      .orderBy("source", "rank")
  }

  private val q132 = GraftQuery(
    "q132_chi2_token_source",
    (s, dir) => chiSqTokens(Tables.documents(s, dir)),
    Some("""WITH pres AS (
              SELECT DISTINCT doc_id, source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            presf AS (SELECT * FROM pres WHERE length(word) > 0),
            nsrc AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_src
                     FROM documents GROUP BY 1),
            ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents),
            dfw AS (SELECT word, CAST(count(*) AS DOUBLE) AS df
                    FROM presf GROUP BY 1 HAVING count(*) >= 10),
            aa AS (SELECT source, word, CAST(count(*) AS DOUBLE) AS a
                   FROM presf GROUP BY 1, 2),
            cells AS (
              SELECT aa.source, aa.word, aa.a, dfw.df, nsrc.n_src, ntot.n_total,
                     nsrc.n_src - aa.a AS b,
                     dfw.df - aa.a AS c,
                     ntot.n_total - nsrc.n_src - dfw.df + aa.a AS d
              FROM aa JOIN dfw USING (word) JOIN nsrc USING (source) CROSS JOIN ntot),
            scored AS (
              SELECT source, word, a, df,
                     round(CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0
                                THEN 0.0
                                ELSE n_total * (a * d - b * c) * (a * d - b * c)
                                     / ((a + b) * (c + d) * (a + c) * (b + d))
                           END, 6) AS chi2
              FROM cells),
            ranked AS (
              SELECT source, word, a, df, chi2,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY chi2 DESC, word ASC) AS rank
              FROM scored)
            SELECT source, rank, word,
                   CAST(a AS BIGINT) AS df_in_source,
                   CAST(df AS BIGINT) AS df_global, chi2
            FROM ranked WHERE rank <= 5
            ORDER BY source, rank"""))

  // ---------------------------------------------------------------- q133

  /** Equi-width histogram of `value` per event type over GLOBAL bin edges
    * (so per-type distributions are directly comparable): one single-row
    * min/max aggregate broadcast onto the stream, then an all-integer
    * (type, bin) count — two narrow shuffles total, no sort. The top bin
    * is closed (`least(·, nb−1)` clamps value = max), empty bins are
    * simply absent (identically in both engines).
    */
  def histogram(events: DataFrame, nBins: Int = 20): DataFrame = {
    val mm = events.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    events
      .crossJoin(broadcast(mm))
      .withColumn("w", (col("hi") - col("lo")) / lit(nBins.toDouble))
      .withColumn("bin",
        least(floor((col("value") - col("lo")) / col("w")), lit(nBins - 1L)))
      .groupBy("event_type", "bin", "lo", "w")
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("event_type"), col("bin"),
        round(col("lo") + col("bin").cast("double") * col("w"), 6).as("bin_lo"),
        round(col("lo") + (col("bin") + lit(1L)).cast("double") * col("w"), 6).as("bin_hi"),
        col("cnt"))
      .orderBy("event_type", "bin")
  }

  private val q133 = GraftQuery(
    "q133_equiwidth_histogram",
    (s, dir) => histogram(Tables.events(s, dir)),
    Some("""WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
            b AS (
              SELECT event_type,
                     least(CAST(floor((value - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19) AS bin,
                     lo, (hi - lo) / 20.0 AS w
              FROM events CROSS JOIN mm)
            SELECT event_type, bin,
                   round(lo + CAST(bin AS DOUBLE) * w, 6) AS bin_lo,
                   round(lo + CAST(bin + 1 AS DOUBLE) * w, 6) AS bin_hi,
                   count(*) AS cnt
            FROM b GROUP BY event_type, bin, lo, w
            ORDER BY event_type, bin"""))

  // ---------------------------------------------------------------- q134

  /** Top-k behavioral paths: sessionize (the q27 30-minute-gap contract,
    * gaps-and-islands form so the session id is a running integer), build
    * each session's ordered event-type path, count path frequencies. The
    * per-user window pass is partitioned (no global window); the
    * `collect_list` state is bounded by session length — the same
    * bounded-group contract as q92's token windows and q125's df-banded
    * posting lists. Path count DESC + path ASC is a total order, so the
    * top-k boundary is deterministic.
    */
  def sessionPaths(events: DataFrame, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val sess = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          // exact µs gap (cast-to-long truncates to SECONDS and diverges
          // from the oracle's INTERVAL compare on fractional gaps near
          // the boundary — surfaced by the sf0.1 oracle pass, r12)
          unix_micros(col("ts")) - unix_micros(col("prev")) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess
      .groupBy("user_id", "sess")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x("event_type")),
        ",").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path").asc)
      .limit(topK)
  }

  private val q134 = GraftQuery(
    "q134_session_paths",
    (s, dir) => sessionPaths(Tables.events(s, dir)),
    Some("""WITH e AS (
              SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            s AS (
              SELECT *, sum(CASE WHEN prev IS NULL
                                   OR ts - prev >= INTERVAL '30 minutes'
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
              FROM e),
            p AS (
              SELECT user_id, sess,
                     string_agg(event_type, ',' ORDER BY ts, event_id) AS path
              FROM s GROUP BY 1, 2)
            SELECT path, count(*) AS cnt
            FROM p GROUP BY 1
            ORDER BY cnt DESC, path LIMIT 20"""))

  /** Population-stability-index drift detection: per event type, the PSI
    * of the `value` distribution between the first and second halves of
    * the event horizon — the standard ML-ops drift score (PSI < 0.1
    * stable, > 0.25 shifted). The time split is the integer midpoint of
    * the epoch-µs range; bins are 10 equal-width intervals from the
    * REFERENCE half's per-type min/max (the q133 scheme), with current
    * values clamped into the edge bins; shares are Laplace-smoothed
    * ((cnt+1)/(n+10)) over a dense type×bin spine so empty bins
    * contribute finitely instead of ±∞.
    *
    * Plan shape: one scalar split broadcast, one per-type edge aggregate
    * broadcast (≤ |types| rows), one (type, half, bin) hash aggregate,
    * and a ≤ 10·|types|-row spine join — nothing grows with the corpus
    * except the single binning scan. Per-bin contributions ride
    * [[graft.functions.Exact.sumFx]]'s fixed-point accumulator. Types
    * whose reference half is degenerate (min = max) or that miss a half
    * entirely drop out identically on both engines.
    */
  def psiDrift(events: DataFrame, nBins: Int = 10): DataFrame = {
    val ev = events.select(col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") <= col("mid"), lit("ref")).otherwise(lit("cur")))
    val edges = tagged.filter(col("half") === "ref")
      .groupBy("event_type")
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      .filter(col("hi") > col("lo"))
      .withColumn("w", (col("hi") - col("lo")) / lit(nBins.toDouble))
    val binned = tagged.join(broadcast(edges), "event_type")
      .withColumn("bin",
        least(greatest(floor((col("value") - col("lo")) / col("w")), lit(0L)),
          lit(nBins - 1L)))
      .groupBy("event_type", "half", "bin").agg(count(lit(1)).as("cnt"))
    val totals = binned.groupBy("event_type", "half").agg(sum(col("cnt")).as("n"))
    val dense = edges.select(col("event_type"))
      .select(col("event_type"), explode(expr(s"sequence(0L, ${nBins - 1}L)")).as("bin"))
      .select(col("event_type"), col("bin"),
        explode(array(lit("ref"), lit("cur"))).as("half"))
      .join(binned, Seq("event_type", "half", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
      .join(totals, Seq("event_type", "half"))
    val wide = dense.groupBy("event_type", "bin").agg(
      max(when(col("half") === "ref", col("cnt"))).as("rc"),
      max(when(col("half") === "cur", col("cnt"))).as("cc"),
      max(when(col("half") === "ref", col("n"))).as("rn"),
      max(when(col("half") === "cur", col("n"))).as("cn"))
      .filter(col("rn").isNotNull && col("cn").isNotNull)
    val p = (col("rc") + 1).cast("double") / (col("rn") + nBins).cast("double")
    val q = (col("cc") + 1).cast("double") / (col("cn") + nBins).cast("double")
    wide
      .withColumn("contrib", (q - p) * log(q / p))
      .groupBy("event_type")
      .agg(max(col("rn")).as("n_ref"), max(col("cn")).as("n_cur"),
        round(graft.functions.Exact.sumFx(col("contrib"), 15), 9).as("psi"))
      .orderBy("event_type")
  }

  private val q154 = GraftQuery(
    "q154_psi_drift",
    (s, dir) => psiDrift(Tables.events(s, dir)),
    Some(s"""WITH ev AS (
              SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
              FROM events),
            mid AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
            tagged AS (
              SELECT event_type, value,
                     CASE WHEN us <= mid THEN 'ref' ELSE 'cur' END AS half
              FROM ev CROSS JOIN mid),
            edges AS (
              SELECT event_type, min(value) AS lo, max(value) AS hi,
                     (max(value) - min(value)) / 10.0 AS w
              FROM tagged WHERE half = 'ref'
              GROUP BY 1 HAVING max(value) > min(value)),
            binned AS (
              SELECT t.event_type, t.half,
                     least(greatest(CAST(floor((t.value - e.lo) / e.w) AS BIGINT), 0), 9) AS bin,
                     count(*) AS cnt
              FROM tagged t JOIN edges e USING (event_type)
              GROUP BY 1, 2, 3),
            totals AS (
              SELECT event_type, half, sum(cnt) AS n FROM binned GROUP BY 1, 2),
            spine AS (
              SELECT e.event_type, b.bin, h.half
              FROM edges e
              CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) b
              CROSS JOIN (SELECT unnest(['ref', 'cur']) AS half) h),
            dense AS (
              SELECT s.event_type, s.half, s.bin,
                     coalesce(bi.cnt, 0) AS cnt, t.n
              FROM spine s
              LEFT JOIN binned bi
                ON s.event_type = bi.event_type AND s.half = bi.half AND s.bin = bi.bin
              JOIN totals t ON s.event_type = t.event_type AND s.half = t.half),
            wide AS (
              SELECT event_type, bin,
                     max(CASE WHEN half = 'ref' THEN cnt END) AS rc,
                     max(CASE WHEN half = 'cur' THEN cnt END) AS cc,
                     max(CASE WHEN half = 'ref' THEN n END) AS rn,
                     max(CASE WHEN half = 'cur' THEN n END) AS cn
              FROM dense GROUP BY 1, 2),
            contrib AS (
              SELECT event_type, rn, cn,
                     (CAST(cc + 1 AS DOUBLE) / CAST(cn + 10 AS DOUBLE)
                      - CAST(rc + 1 AS DOUBLE) / CAST(rn + 10 AS DOUBLE))
                     * ln((CAST(cc + 1 AS DOUBLE) / CAST(cn + 10 AS DOUBLE))
                          / (CAST(rc + 1 AS DOUBLE) / CAST(rn + 10 AS DOUBLE))) AS c
              FROM wide WHERE rn IS NOT NULL AND cn IS NOT NULL)
            SELECT event_type,
                   CAST(max(rn) AS BIGINT) AS n_ref, CAST(max(cn) AS BIGINT) AS n_cur,
                   round(${graft.functions.Exact.sumFxSql("c", 15)}, 9) AS psi
            FROM contrib GROUP BY event_type ORDER BY event_type"""))

  /** Theil–Sen robust trend per event type: the median of all pairwise
    * slopes of the daily-count series — insensitive to the outlier days
    * that drag q111's OLS around (breakdown point 29%). Day indices come
    * from one broadcast origin; the pair join is per-type and bounded by
    * the CALENDAR (d days → d(d−1)/2 slope rows per type — 435 at a
    * 30-day horizon), not by the corpus, so the quadratic is in a
    * clock-bounded dimension, the same contract as q43's frames. The
    * median is exact: row_number under the (slope, i1, i2) total order,
    * middle element (odd) or mean of the two middles (even) — both
    * engines replay the identical rank arithmetic.
    */
  def theilSenTrend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("i"), col("c"))
    val slopes = idx.select(col("event_type"), col("i").as("i1"), col("c").as("c1"))
      .join(idx.select(col("event_type"), col("i").as("i2"), col("c").as("c2")),
        "event_type")
      .filter(col("i1") < col("i2"))
      .select(col("event_type"), col("i1"), col("i2"),
        ((col("c2") - col("c1")).cast("double")
          / (col("i2") - col("i1")).cast("double")).as("slope"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("slope"), col("i1"), col("i2"))
    val cnt = slopes.groupBy("event_type")
      .agg(count(lit(1)).as("m"))
    val nDays = idx.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    slopes
      .withColumn("rn", row_number().over(w))
      .join(broadcast(cnt), "event_type")
      .filter(col("rn") === expr("(m + 1) div 2") || col("rn") === expr("m div 2 + 1"))
      .groupBy("event_type", "m")
      .agg(round(sum(col("slope")) / count(lit(1)), 9).as("theil_sen_slope"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("m").as("n_pairs"),
        col("theil_sen_slope"))
      .orderBy("event_type")
  }

  private val q155 = GraftQuery(
    "q155_theil_sen_trend",
    (s, dir) => theilSenTrend(Tables.events(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            idx AS (
              SELECT event_type, CAST(day - d0 AS BIGINT) AS i, c
              FROM daily CROSS JOIN d0),
            slopes AS (
              SELECT a.event_type, a.i AS i1, b.i AS i2,
                     CAST(b.c - a.c AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
              FROM idx a JOIN idx b USING (event_type)
              WHERE a.i < b.i),
            ranked AS (
              SELECT event_type, slope,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY slope, i1, i2) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS m
              FROM slopes),
            med AS (
              SELECT event_type, m,
                     round(sum(slope) / count(*), 9) AS theil_sen_slope
              FROM ranked
              WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
              GROUP BY 1, 2),
            nd AS (SELECT event_type, count(*) AS n_days FROM idx GROUP BY 1)
            SELECT m.event_type, nd.n_days, m.m AS n_pairs, m.theil_sen_slope
            FROM med m JOIN nd USING (event_type)
            ORDER BY event_type"""))

  /** Robust outlier detection per event type: median / MAD (median
    * absolute deviation) instead of mean / stddev, so a heavy tail cannot
    * drag its own detection threshold (the classic robust-statistics
    * argument; 1.4826·MAD estimates σ under normality, and the flag is
    * the standard |x − med| > 3σ̂ — folded to the single literal 4.4478 so
    * both engines multiply once). Medians are EXACT, via the q155 rank
    * idiom: row_number under a (value, event_id) total order, middle
    * element (odd n) or mean of the two middles (even) — the identical
    * integer rank arithmetic on both engines, no engine quantile
    * definition anywhere. Plan shape: two ranked per-type windows (value,
    * then deviation) with the ≤|types|-row median/MAD frames broadcast
    * back — the exact-verification shape (the [[OrderStats]] scale note);
    * at 100 TB the same rule rides the mergeable DDSketch estimate (q29/
    * q67) and this operator is its audit.
    */
  def robustOutliers(events: DataFrame): DataFrame = {
    val v = events.filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        col("value").cast("double").as("value"))
    val w1 = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    val med = v
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .withColumn("rn", row_number().over(w1))
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
      .groupBy("event_type", "n")
      .agg(round(sum(col("value")) / count(lit(1)), 9).as("med"))
    // materialized: dev (a ranked-window join output over the full events
    // scan) feeds BOTH the MAD aggregate and the final outlier count —
    // without the cut the heavy half of the plan runs twice
    val dev = graft.operators.Components.cut(
      v.join(broadcast(med), "event_type")
        .select(col("event_type"), col("event_id"), col("n"), col("med"),
          abs(col("value") - col("med")).as("dev")))
    val w2 = Window.partitionBy("event_type").orderBy(col("dev"), col("event_id"))
    val mad = dev
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
      .groupBy("event_type")
      .agg(round(sum(col("dev")) / count(lit(1)), 9).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type", "n", "med", "mad")
      .agg(sum(when(col("dev") > lit(4.4478) * col("mad"), 1L).otherwise(0L))
        .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  private val q182 = GraftQuery(
    "q182_median_mad_outliers",
    (s, dir) => robustOutliers(Tables.events(s, dir)),
    Some("""WITH v AS (
              SELECT event_type, event_id, CAST(value AS DOUBLE) AS value
              FROM events WHERE value IS NOT NULL),
            r1 AS (
              SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY value, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM v),
            med AS (
              SELECT event_type, n, round(sum(value) / count(*), 9) AS med
              FROM r1 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
              GROUP BY event_type, n),
            d AS (
              SELECT v.event_type, v.event_id, med.n, med.med,
                     abs(v.value - med.med) AS dev
              FROM v JOIN med USING (event_type)),
            r2 AS (
              SELECT event_type, n, dev,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY dev, event_id) AS rn
              FROM d),
            mad AS (
              SELECT event_type, round(sum(dev) / count(*), 9) AS mad
              FROM r2 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
              GROUP BY event_type)
            SELECT d.event_type, d.n, d.med, mad.mad,
                   CAST(sum(CASE WHEN d.dev > CAST(4.4478 AS DOUBLE) * mad.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM d JOIN mad USING (event_type)
            GROUP BY d.event_type, d.n, d.med, mad.mad
            ORDER BY d.event_type"""))

  /** Truncated exponential moving average of the per-type daily count
    * series — the smoothing baseline dashboards and anomaly monitors run
    * over event streams (q147's seasonal z-score uses a static hourly
    * baseline; this is its trend-following counterpart). Decay α = 1/2,
    * so every weight is an EXACT power of two: `1 / 2^(i−j)` is an exact
    * double, and count·2⁻ᵈ is an exact double too (an integer mantissa
    * shifted), which removes pow/exp libm variance between engines
    * entirely — determinism comes from the weights, not from rounding
    * tricks. The window is truncated at `horizon` lags (weights below
    * 2⁻⁴⁰ are beyond double-visible anyway) and normalized by the
    * truncated weight sum, so the first days are well-defined instead of
    * biased toward zero.
    *
    * Plan shape: ONE shuffle builds the daily rollup (the only pass over
    * the corpus); the smoothing join is daily × horizon rows — bounded by
    * the CALENDAR times a constant, the q155 contract — so the quadratic
    * term never touches event volume. At 100 TB the rollup is the same
    * single map-side-combined aggregate and the smoothing cost is
    * unchanged.
    */
  def ewmaDaily(events: DataFrame, horizon: Int = 40): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(col("event_type"), col("day"),
        datediff(col("day"), col("d0")).cast("long").as("i"), col("c"))
    val hist = idx.select(col("event_type"), col("i").as("j"), col("c").as("cj"))
    idx.join(hist, Seq("event_type"))
      .filter(col("j") <= col("i") && col("j") > col("i") - horizon)
      .withColumn("w", lit(1.0) / pow(lit(2.0), (col("i") - col("j")).cast("double")))
      .groupBy(col("event_type"), col("day"), col("c"))
      .agg(
        graft.functions.Exact.sumFx(col("cj").cast("double") * col("w"), 15).as("num"),
        graft.functions.Exact.sumFx(col("w"), 15).as("den"))
      .select(col("event_type"), col("day"), col("c"),
        round(col("num") / col("den"), 9).as("ewma"))
      .orderBy("event_type", "day")
  }

  private val q184 = GraftQuery(
    "q184_ewma_daily",
    (s, dir) => ewmaDaily(Tables.events(s, dir)),
    Some(s"""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            idx AS (
              SELECT event_type, day, CAST(datediff('day', d0, day) AS BIGINT) AS i, c
              FROM daily CROSS JOIN d0),
            pair AS (
              SELECT a.event_type, a.day, a.c, b.c AS cj,
                     1.0 / pow(2.0, CAST(a.i - b.i AS DOUBLE)) AS w
              FROM idx a JOIN idx b ON a.event_type = b.event_type
              WHERE b.i <= a.i AND b.i > a.i - 40)
            SELECT event_type, day, c,
                   round(${graft.functions.Exact.sumFxSql("CAST(cj AS DOUBLE) * w", 15)}
                     / ${graft.functions.Exact.sumFxSql("w", 15)}, 9) AS ewma
            FROM pair GROUP BY event_type, day, c
            ORDER BY event_type, day"""))

  /** Autocorrelation of the per-type daily count series at lags 1/2/3/7 —
    * the standard seasonality probe (a weekly cycle surfaces as a lag-7
    * peak) run before fitting any forecast model. Exactness is free here:
    * the series values are COUNTS, so all five moment sums are integer
    * arithmetic carried in DECIMAL(38,0)/HUGEINT — no floating point
    * exists until the closed-form Pearson at the end, which is the same
    * IEEE sequence on both engines (the q131 scheme with integer
    * moments). Missing days pair only where BOTH endpoints exist (join on
    * the day index, not row position). Degenerate windows (either side
    * constant) yield NULL, not a 0/0 NaN.
    *
    * Plan shape: one daily rollup shuffle, then a self-join on
    * (event_type, day index) over the ≤|days|·|lags| exploded frame —
    * calendar-bounded like q155/q184, corpus volume touched once.
    */
  def acfDaily(events: DataFrame, lags: Seq[Int] = Seq(1, 2, 3, 7)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("i"), col("c"))
    val withLag = idx
      .withColumn("lag", explode(array(lags.map(l => lit(l)): _*)))
      .select(col("event_type"), col("lag"),
        (col("i") - col("lag")).as("j"), col("c").as("x"))
    val pairs = withLag.join(
      idx.select(col("event_type"), col("i").as("j"), col("c").as("y")),
      Seq("event_type", "j"))
    val m = pairs.groupBy("event_type", "lag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val dxx = n * d("sxx") - d("sx") * d("sx")
    val dyy = n * d("syy") - d("sy") * d("sy")
    m.select(col("event_type"), col("lag"), col("n"),
        when(dxx > 0.0 && dyy > 0.0,
          round((n * d("sxy") - d("sx") * d("sy")) / sqrt(dxx * dyy), 9))
          .as("acf"))
      .orderBy("event_type", "lag")
  }

  private val q185 = GraftQuery(
    "q185_acf_daily",
    (s, dir) => acfDaily(Tables.events(s, dir)),
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            idx AS (
              SELECT event_type, CAST(datediff('day', d0, day) AS BIGINT) AS i, c
              FROM daily CROSS JOIN d0),
            pairs AS (
              SELECT a.event_type, l.lag, a.c AS x, b.c AS y
              FROM idx a
              CROSS JOIN (SELECT unnest([1, 2, 3, 7]) AS lag) l
              JOIN idx b ON a.event_type = b.event_type AND b.i = a.i - l.lag),
            m AS (
              SELECT event_type, lag, count(*) AS n,
                     sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                     sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                     sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy,
                     sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy
              FROM pairs GROUP BY event_type, lag)
            SELECT event_type, CAST(lag AS INT) AS lag, n,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
                         AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
                        THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                          / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
                        ELSE NULL END AS acf
            FROM m ORDER BY event_type, lag"""))

  // ---------------------------------------------------------------- q215

  /** Mann–Whitney U (Wilcoxon rank-sum) of document length per source
    * against the rest of the corpus — the standard nonparametric "is this
    * source's length distribution shifted" drift test, run for every
    * source in ONE global ranking. Average ranks handle ties exactly
    * (avg_rank(v) = #smaller + (#equal+1)/2 — exact halves, so doubles
    * carry them losslessly), rank sums ride a DECIMAL(30,1) accumulator
    * (order-free), and the z closed form (normal approximation WITH the
    * tie-corrected variance) is the same IEEE sequence on both engines.
    *
    * Scale shape: the ranking windows run over DISTINCT length values
    * (domain-bounded — document lengths, not documents), per-source rank
    * sums are one hash aggregate over (source, value) counts, and the two
    * corpus scalars (N, Σ(t³−t)) broadcast. The corpus itself is touched
    * by exactly one counting aggregate.
    */
  private val q215 = GraftQuery(
    "q215_mann_whitney_u",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val sv = d.groupBy("source", "x").agg(count(lit(1)).as("c"))
      val byVal = sv.groupBy("x").agg(sum(col("c")).as("cv"))
      val wv = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
      val ranksDf = byVal
        .withColumn("cumprev", coalesce(sum(col("cv")).over(wv), lit(0L)))
        .withColumn("avg_rank",
          col("cumprev").cast("double") + (col("cv").cast("double") + 1.0) / 2.0)
      val totals = byVal.agg(
        sum(col("cv")).as("n_total"),
        sum(col("cv") * col("cv") * col("cv") - col("cv")).as("tie_sum"))
      sv.join(ranksDf.select("x", "avg_rank"), "x")
        .groupBy("source")
        .agg(sum(col("c")).as("n"),
          sum((col("avg_rank") * col("c").cast("double")).cast(DecimalType(30, 1)))
            .cast("double").as("rank_sum"))
        .crossJoin(broadcast(totals))
        .select(col("source"), col("n"), col("rank_sum"),
          col("n_total"), col("tie_sum"))
        .withColumn("n_rest", (col("n_total") - col("n")).cast("double"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("u_stat",
          col("rank_sum") - col("nd") * (col("nd") + 1.0) / 2.0)
        .withColumn("z_stat", round(
          (col("u_stat") - col("nd") * col("n_rest") / 2.0)
            / sqrt(col("nd") * col("n_rest") / 12.0
              * ((col("n_total").cast("double") + 1.0)
                - col("tie_sum").cast("double")
                  / (col("n_total").cast("double")
                    * (col("n_total").cast("double") - 1.0)))), 9))
        .select(col("source"), col("n"), round(col("rank_sum"), 1).as("rank_sum"),
          round(col("u_stat"), 1).as("u_stat"), col("z_stat"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
            sv AS (SELECT source, x, count(*) AS c FROM d GROUP BY 1, 2),
            bv AS (SELECT x, CAST(sum(c) AS BIGINT) AS cv FROM sv GROUP BY 1),
            rk AS (
              SELECT x,
                     CAST(coalesce(sum(cv) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
                       + (CAST(cv AS DOUBLE) + 1.0) / 2.0 AS avg_rank
              FROM bv),
            tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n_total,
                           CAST(sum(cv * cv * cv - cv) AS BIGINT) AS tie_sum
                    FROM bv),
            agg AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n,
                     CAST(sum(CAST(avg_rank * CAST(c AS DOUBLE) AS DECIMAL(30,1)))
                       AS DOUBLE) AS rank_sum
              FROM sv JOIN rk USING (x) GROUP BY 1)
            SELECT source, n, round(rank_sum, 1) AS rank_sum,
                   round(rank_sum - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0, 1)
                     AS u_stat,
                   round(((rank_sum - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 2.0)
                       - CAST(n AS DOUBLE) * CAST(n_total - n AS DOUBLE) / 2.0)
                     / sqrt(CAST(n AS DOUBLE) * CAST(n_total - n AS DOUBLE) / 12.0
                       * ((CAST(n_total AS DOUBLE) + 1.0)
                         - CAST(tie_sum AS DOUBLE)
                           / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) - 1.0)))), 9)
                     AS z_stat
            FROM agg CROSS JOIN tot
            ORDER BY source"""))

  // ---------------------------------------------------------------- q216

  /** Two-sample Kolmogorov–Smirnov statistic of document length per
    * source against the rest of the corpus: D = max over the value
    * domain of |F_source − F_rest|, with the smallest attaining value
    * reported. Both CDFs are step functions that only jump at observed
    * values, so evaluating on the (source × distinct-value) GRID is
    * exact — and the grid is sources × value-domain rows (domain-bounded,
    * like q215's ranking), never corpus-sized. Each |ΔF| rounds at 12 dp
    * BEFORE the max so both engines pick identical argmaxes.
    */
  private val q216 = GraftQuery(
    "q216_ks_two_sample",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val sv = d.groupBy("source", "x").agg(count(lit(1)).as("c"))
      val byVal = sv.groupBy("x").agg(sum(col("c")).as("cv"))
      val srcN = sv.groupBy("source").agg(sum(col("c")).as("n"))
      val totals = byVal.agg(sum(col("cv")).as("n_total"))
      // dense (source × value) grid, then cumulative counts per source
      val grid = srcN.select("source", "n").crossJoin(byVal.select("x", "cv"))
        .join(sv, Seq("source", "x"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wcum = Window.partitionBy("source").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cums = grid
        .withColumn("cum_s", sum(col("c")).over(wcum))
        .join(byVal
          .withColumn("cum_all", sum(col("cv")).over(
            Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select("x", "cum_all"), "x")
        .crossJoin(broadcast(totals))
        .withColumn("d", round(abs(
          col("cum_s").cast("double") / col("n").cast("double")
            - (col("cum_all") - col("cum_s")).cast("double")
              / (col("n_total") - col("n")).cast("double")), 12))
      val wPick = Window.partitionBy("source").orderBy(col("d").desc, col("x").asc)
      cums.withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("source"), col("n"), col("d").as("d_stat"), col("x").as("at_x"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
            sv AS (SELECT source, x, count(*) AS c FROM d GROUP BY 1, 2),
            bv AS (SELECT x, CAST(sum(c) AS BIGINT) AS cv FROM sv GROUP BY 1),
            sn AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sv GROUP BY 1),
            tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n_total FROM bv),
            grid AS (
              SELECT sn.source, sn.n, bv.x, coalesce(sv.c, 0) AS c
              FROM sn CROSS JOIN bv
              LEFT JOIN sv ON sv.source = sn.source AND sv.x = bv.x),
            cums AS (
              SELECT g.source, g.n, g.x,
                     sum(g.c) OVER (PARTITION BY g.source ORDER BY g.x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
                     a.cum_all
              FROM grid g
              JOIN (SELECT x, sum(cv) OVER (ORDER BY x
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
                    FROM bv) a USING (x)),
            scored AS (
              SELECT source, n, x,
                     round(abs(CAST(cum_s AS DOUBLE) / CAST(n AS DOUBLE)
                       - CAST(cum_all - cum_s AS DOUBLE)
                         / CAST(n_total - n AS DOUBLE)), 12) AS d
              FROM cums CROSS JOIN tot)
            SELECT source, n, d AS d_stat, x AS at_x FROM (
              SELECT source, n, d, x,
                     row_number() OVER (PARTITION BY source
                       ORDER BY d DESC, x ASC) AS rn
              FROM scored) WHERE rn = 1
            ORDER BY source"""))

  // ---------------------------------------------------------------- q217

  /** Welch's unequal-variance t of document length per source against
    * the rest of the corpus, with the Welch–Satterthwaite dof — the
    * parametric complement to q215/q216 (same one-vs-rest design, so the
    * three tests cross-check each other on the same drift question).
    * n_chars is integral: Σx and Σx² are EXACT integer sums (one hash
    * aggregate, map-side combined), the per-source rest-side moments are
    * total − source (no second scan), and the closed form is a fixed
    * IEEE sequence rounded at 9 dp on both engines.
    */
  private val q217 = GraftQuery(
    "q217_welch_ttest",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val bySrc = d.groupBy("source").agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      val tot = bySrc.agg(
        sum(col("n")).as("nt"), sum(col("sx")).as("sxt"),
        sum(col("sxx")).as("sxxt"))
      def mean(sx: Column, n: Column) = sx.cast("double") / n.cast("double")
      def svar(sxx: Column, sx: Column, n: Column) =
        ((sxx.cast("double")
          - sx.cast("double") * sx.cast("double") / n.cast("double"))
          / (n.cast("double") - 1.0))
      val j = bySrc.crossJoin(broadcast(tot))
        .withColumn("nr", col("nt") - col("n"))
        .withColumn("m_s", mean(col("sx"), col("n")))
        .withColumn("m_r", mean(col("sxt") - col("sx"), col("nr")))
        .withColumn("v_s", svar(col("sxx"), col("sx"), col("n")))
        .withColumn("v_r", svar(col("sxxt") - col("sxx"), col("sxt") - col("sx"), col("nr")))
        .withColumn("se_s", col("v_s") / col("n").cast("double"))
        .withColumn("se_r", col("v_r") / col("nr").cast("double"))
      j.select(col("source"), col("n"),
          round(col("m_s"), 9).as("mean_src"),
          round(col("m_r"), 9).as("mean_rest"),
          round((col("m_s") - col("m_r")) / sqrt(col("se_s") + col("se_r")), 9)
            .as("t_stat"),
          round((col("se_s") + col("se_r")) * (col("se_s") + col("se_r"))
            / (col("se_s") * col("se_s") / (col("n").cast("double") - 1.0)
              + col("se_r") * col("se_r") / (col("nr").cast("double") - 1.0)), 9)
            .as("dof"))
        .orderBy("source")
    },
    Some("""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
            bs AS (SELECT source, count(*) AS n,
                          CAST(sum(x) AS BIGINT) AS sx,
                          CAST(sum(x * x) AS BIGINT) AS sxx
                   FROM d GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                           CAST(sum(sx) AS BIGINT) AS sxt,
                           CAST(sum(sxx) AS BIGINT) AS sxxt
                    FROM bs),
            c AS (
              SELECT source, n,
                     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m_s,
                     CAST(sxt - sx AS DOUBLE) / CAST(nt - n AS DOUBLE) AS m_r,
                     ((CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0)) / CAST(n AS DOUBLE) AS se_s,
                     ((CAST(sxxt - sxx AS DOUBLE)
                       - CAST(sxt - sx AS DOUBLE) * CAST(sxt - sx AS DOUBLE)
                         / CAST(nt - n AS DOUBLE))
                      / (CAST(nt - n AS DOUBLE) - 1.0)) / CAST(nt - n AS DOUBLE) AS se_r,
                     nt - n AS nr
              FROM bs CROSS JOIN tot)
            SELECT source, n,
                   round(m_s, 9) AS mean_src,
                   round(m_r, 9) AS mean_rest,
                   round((m_s - m_r) / sqrt(se_s + se_r), 9) AS t_stat,
                   round((se_s + se_r) * (se_s + se_r)
                     / (se_s * se_s / (CAST(n AS DOUBLE) - 1.0)
                       + se_r * se_r / (CAST(nr AS DOUBLE) - 1.0)), 9) AS dof
            FROM c ORDER BY source"""))

  /** Benford first-digit conformance of the money column — the classic
    * fabricated-data screen (Benford 1938; standard in financial DQ
    * suites): leading-digit shares of `l_extendedprice` vs log10(1+1/d),
    * with the χ² distance. One scan + a 9-row aggregate. Digit
    * extraction avoids float log/formatting divergence entirely: cents =
    * floor(price·100 + 0.5) (identical IEEE product both engines), then
    * the first character of the BIGINT's decimal string. Expected shares
    * are shared 12-dp literals; per-digit χ² terms round onto the
    * DECIMAL(38,15) grid before the order-free sum (the q227 contract).
    */
  private val BenfordShares = Seq(
    1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
    4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
    7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)

  private def q231 = GraftQuery(
    "q231_benford_digits",
    (s, dir) => {
      import s.implicits._
      val cents = floor(col("l_extendedprice") * lit(100.0) + lit(0.5)).cast("long")
      val obs = Tables.lineitem(s, dir)
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val exp = BenfordShares.toDF("digit", "expected_share")
      val tot = obs.agg(sum(col("n_obs")).as("n_total"))
      val base = broadcast(exp).join(obs, Seq("digit"), "left")
        .na.fill(0L, Seq("n_obs"))
        .crossJoin(broadcast(tot))
        .withColumn("obs_raw",
          col("n_obs").cast("double") / col("n_total").cast("double"))
        .withColumn("term",
          round((col("obs_raw") - col("expected_share"))
            * (col("obs_raw") - col("expected_share"))
            / col("expected_share"), 15).cast(DecimalType(38, 15)))
      val chi = base.agg(
        sum(col("term")).cast("double").as("tsum"),
        max(col("n_total")).as("nt"))
        .select(round(col("nt").cast("double") * col("tsum"), 6).as("chi2"))
      base.crossJoin(broadcast(chi))
        .select(col("digit"), col("n_obs"),
          round(col("obs_raw"), 12).as("obs_share"),
          col("expected_share"), col("chi2"))
        .orderBy("digit")
    },
    Some("""WITH exp AS (SELECT * FROM (VALUES
              (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608),
              (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631),
              (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561))
              t(digit, expected_share)),
            obs AS (
              SELECT CAST(substr(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                       AS VARCHAR), 1, 1) AS INT) AS digit,
                     count(*) AS n_obs
              FROM lineitem GROUP BY 1),
            tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
            base AS (
              SELECT e.digit, coalesce(o.n_obs, 0) AS n_obs,
                     CAST(coalesce(o.n_obs, 0) AS DOUBLE)
                       / CAST(n_total AS DOUBLE) AS obs_raw,
                     e.expected_share, n_total
              FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot),
            terms AS (
              SELECT *, CAST(round((obs_raw - expected_share)
                       * (obs_raw - expected_share) / expected_share, 15)
                     AS DECIMAL(38,15)) AS term
              FROM base),
            chi AS (SELECT round(CAST(max(n_total) AS DOUBLE)
                             * CAST(sum(term) AS DOUBLE), 6) AS chi2 FROM terms)
            SELECT digit, n_obs, round(obs_raw, 12) AS obs_share,
                   expected_share, chi2
            FROM terms CROSS JOIN chi ORDER BY digit"""))

  /** Sequential-pattern mining, PrefixSpan support semantics over
    * sessions: every contiguous event-type 2-gram and 3-gram, counted by
    * SESSION SUPPORT (distinct sessions containing the pattern — not
    * occurrences, which is q106's transition census). Entirely
    * array-side after the q134 sessionization: n-grams come out of a
    * `transform` over each session's path array, deduped per session
    * before the support aggregate, so the shuffle carries (pattern,
    * session) rows bounded by sessions × pattern slots. Support ≥ 5
    * keeps the output the frequent-pattern head.
    */
  private val q234 = GraftQuery(
    "q234_session_ngram_patterns",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val paths = Tables.events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            // exact µs gap (cast-to-long truncates to SECONDS and diverges
          // from the oracle's INTERVAL compare on fractional gaps near
          // the boundary — surfaced by the sf0.1 oracle pass, r12)
          unix_micros(col("ts")) - unix_micros(col("prev")) >= 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("sess", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess")
        .agg(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x("event_type")).as("path"))
      def grams(len: Int) = paths
        .filter(size(col("path")) >= len)
        .select(explode(array_distinct(transform(
          sequence(lit(1), size(col("path")) - lit(len) + lit(1)),
          i => array_join(slice(col("path"), i, lit(len)), ",")))).as("pattern"))
        .groupBy("pattern").agg(count(lit(1)).as("support"))
        .select(lit(len).as("length"), col("pattern"), col("support"))
      grams(2).unionByName(grams(3))
        .filter(col("support") >= 5)
        .orderBy(col("length").asc, col("support").desc, col("pattern").asc)
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                     lag(CAST(ts AS TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events),
            s AS (
              SELECT *, sum(CASE WHEN prev IS NULL
                                   OR ts - prev >= INTERVAL '30 minutes'
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess
              FROM e),
            p AS (
              SELECT user_id, sess,
                     list(event_type ORDER BY ts, event_id) AS path
              FROM s GROUP BY 1, 2),
            g2 AS (
              SELECT 2 AS length, unnest(list_distinct(
                       [path[i] || ',' || path[i+1]
                        for i in generate_series(1, len(path)-1)])) AS pattern
              FROM p WHERE len(path) >= 2),
            g3 AS (
              SELECT 3 AS length, unnest(list_distinct(
                       [path[i] || ',' || path[i+1] || ',' || path[i+2]
                        for i in generate_series(1, len(path)-2)])) AS pattern
              FROM p WHERE len(path) >= 3),
            u AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
            SELECT CAST(length AS INT) AS length, pattern, count(*) AS support
            FROM u GROUP BY 1, 2
            HAVING count(*) >= 5
            ORDER BY length ASC, support DESC, pattern ASC"""))

  /** Hampel filter — rolling-median outlier detection AND repair on the
    * daily event-count series (the robust alternative to q147's seasonal
    * z-score: median/MAD shrug off the very outliers a mean/σ window
    * absorbs). Centered 7-row window; everything after the one
    * `collect_list` window is ARRAY-SIDE per row (sort, exact median,
    * deviations, exact MAD), so both engines replay identical
    * arithmetic — no engine median() whose interpolation semantics
    * differ. Outlier: |n − med| > 3·1.4826·MAD (the Gaussian-consistent
    * scale, shared literal 4.4478); repaired series substitutes the
    * rolling median.
    */
  private val q236 = GraftQuery(
    "q236_hampel_repair",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      def medOf(arr: Column, l: Column): Column =
        when(l % 2 === 1,
          element_at(arr, floor((l + lit(1)) / lit(2.0)).cast("int")).cast("double"))
          .otherwise((element_at(arr, floor(l / lit(2.0)).cast("int")).cast("double")
            + element_at(arr, (floor(l / lit(2.0)) + lit(1)).cast("int")).cast("double"))
            / lit(2.0))
      val withWin = daily
        .withColumn("win", sort_array(collect_list(col("n")).over(w)))
        .withColumn("l", size(col("win")))
        .withColumn("med", medOf(col("win"), col("l")))
      val withMad = withWin
        .withColumn("dv", sort_array(transform(col("win"),
          v => abs(v.cast("double") - col("med")))))
        .withColumn("mad", medOf(col("dv"), col("l")))
        .withColumn("is_outlier",
          abs(col("n").cast("double") - col("med")) > lit(4.4478) * col("mad"))
      withMad.select(col("day"), col("n"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          col("is_outlier"),
          round(when(col("is_outlier"), col("med"))
            .otherwise(col("n").cast("double")), 6).as("repaired"))
        .orderBy("day")
    },
    Some("""WITH d AS (
              SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
              FROM events GROUP BY 1),
            w AS (
              SELECT day, n,
                     list(n) OVER (ORDER BY day
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
              FROM d),
            m AS (SELECT day, n, list_sort(win) AS sw, len(win) AS l FROM w),
            m2 AS (
              SELECT day, n, sw, l,
                     CASE WHEN l % 2 = 1 THEN CAST(sw[(l+1)//2] AS DOUBLE)
                          ELSE (CAST(sw[l//2] AS DOUBLE)
                                + CAST(sw[l//2+1] AS DOUBLE)) / 2.0 END AS med
              FROM m),
            m3 AS (
              SELECT day, n, med, l,
                     list_sort([abs(CAST(x AS DOUBLE) - med) for x in sw]) AS dv
              FROM m2),
            m4 AS (
              SELECT day, n, med,
                     CASE WHEN l % 2 = 1 THEN dv[(l+1)//2]
                          ELSE (dv[l//2] + dv[l//2+1]) / 2.0 END AS mad
              FROM m3)
            SELECT day, n, round(med, 6) AS med, round(mad, 6) AS mad,
                   abs(CAST(n AS DOUBLE) - med) > 4.4478 * mad AS is_outlier,
                   round(CASE WHEN abs(CAST(n AS DOUBLE) - med) > 4.4478 * mad
                         THEN med ELSE CAST(n AS DOUBLE) END, 6) AS repaired
            FROM m4 ORDER BY day"""))

  // ---------------------------------------------------------------- q239

  /** Holt linear-trend (double exponential) smoothing of the per-type
    * daily count series, α = β = ½ — the trend-aware upgrade of q184's
    * EWMA (EWMA lags a trending series by a constant; Holt's trend state
    * closes that gap and yields a one-step forecast = level + trend).
    *
    * The recurrence (lₜ = αyₜ + (1−α)(lₜ₋₁+bₜ₋₁);
    * bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁) is linear, so the state is an exact
    * weighted sum of past observations: xₜ = Σⱼ Mʲ·c·yₜ₋ⱼ with
    * M = [[½,½],[−¼,¾]], c = [½,¼]. We truncate at horizon 15 (the q184
    * truncation contract — |Mʲ| decays geometrically) and compute the 15
    * weight pairs ONCE, exactly, as dyadic BigDecimals on the driver:
    * denominators are 4ʲ⁺¹ ≤ 2³², numerators < 2⁵², so every weight is
    * exactly representable as a double AND as a plain decimal literal —
    * the oracle gets the same 15 literals inlined in a VALUES table, so
    * both engines multiply bit-identical IEEE doubles. Missing days drop
    * their term on both sides (join on the day index, q184 semantics).
    *
    * Plan shape: one daily rollup shuffle, a calendar-bounded self-join
    * (≤ horizon rows per output day), one broadcast 15-row weight join —
    * corpus volume touched once, all downstream frames calendar-sized.
    */
  private val HoltHorizon = 15

  /** (lag, levelWeight, trendWeight), exact dyadic values. */
  private def holtWeights: Seq[(Int, BigDecimal, BigDecimal)] = {
    val half = BigDecimal("0.5"); val quarter = BigDecimal("0.25")
    val threeQ = BigDecimal("0.75")
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, BigDecimal, BigDecimal)]
    var wl = half; var wb = quarter
    for (j <- 0 until HoltHorizon) {
      buf += ((j, wl, wb))
      val nl = half * wl + half * wb
      val nb = threeQ * wb - quarter * wl
      wl = nl; wb = nb
    }
    buf.toSeq
  }

  def holtDaily(s: org.apache.spark.sql.SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val idx = daily.crossJoin(broadcast(d0))
      .select(col("event_type"), col("day"),
        datediff(col("day"), col("d0")).cast("long").as("i"), col("c"))
    val wdf = holtWeights
      .map { case (j, wl, wb) => (j.toLong, wl.toDouble, wb.toDouble) }
      .toDF("lag", "w_l", "w_b")
    val hist = idx.select(col("event_type"), col("i").as("j"), col("c").as("cj"))
    val level = graft.functions.Exact.sumFx(col("cj").cast("double") * col("w_l"), 15)
    val trend = graft.functions.Exact.sumFx(col("cj").cast("double") * col("w_b"), 15)
    idx.join(hist, Seq("event_type"))
      .filter(col("j") <= col("i") && col("j") > col("i") - HoltHorizon)
      .join(broadcast(wdf), col("i") - col("j") === col("lag"))
      .groupBy(col("event_type"), col("day"), col("c"))
      .agg(level.as("level_raw"), trend.as("trend_raw"))
      .select(col("event_type"), col("day"), col("c"),
        round(col("level_raw"), 9).as("level"),
        round(col("trend_raw"), 9).as("trend"),
        round(col("level_raw") + col("trend_raw"), 9).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** The Holt recurrence's oracle CTE prefix up to `agg` (event_type, day,
    * c, level_raw, trend_raw) — shared by q239's smoothing output and
    * q260's rolling-origin backtest.
    */
  private def holtOracleCtes: String = {
    val values = holtWeights
      .map { case (j, wl, wb) => s"($j, ${wl.toDouble}, ${wb.toDouble})" }
      .mkString(", ")
    s"""daily AS MATERIALIZED (
          SELECT event_type,
                 CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                 count(*) AS c
          FROM events GROUP BY 1, 2),
        d0 AS (SELECT min(day) AS d0 FROM daily),
        idx AS (
          SELECT event_type, day, CAST(datediff('day', d0, day) AS BIGINT) AS i, c
          FROM daily CROSS JOIN d0),
        w(lag, w_l, w_b) AS (VALUES $values),
        pair AS (
          SELECT a.event_type, a.day, a.c, b.c AS cj, w.w_l, w.w_b
          FROM idx a
          JOIN idx b ON a.event_type = b.event_type
          JOIN w ON a.i - b.i = w.lag
          WHERE b.i <= a.i AND b.i > a.i - $HoltHorizon),
        agg AS (
          SELECT event_type, day, c,
                 ${graft.functions.Exact.sumFxSql("CAST(cj AS DOUBLE) * w_l", 15)} AS level_raw,
                 ${graft.functions.Exact.sumFxSql("CAST(cj AS DOUBLE) * w_b", 15)} AS trend_raw
          FROM pair GROUP BY event_type, day, c)"""
  }

  private def holtOracle: String =
    s"""WITH $holtOracleCtes
        SELECT event_type, day, c,
               round(level_raw, 9) AS level,
               round(trend_raw, 9) AS trend,
               round(level_raw + trend_raw, 9) AS forecast_next
        FROM agg
        ORDER BY event_type, day"""

  private val q239 = GraftQuery(
    "q239_holt_trend",
    (s, dir) => holtDaily(s, Tables.events(s, dir)),
    Some(holtOracle))

  // ---------------------------------------------------------------- q241

  /** Spearman rank correlation over the domain-bounded lineitem columns —
    * the monotone-association twin of q131's Pearson matrix (robust to the
    * price columns' heavy tails, which is why rank correlation is the DQ
    * screen of choice for skewed warehouse measures).
    *
    * Tie-corrected via AVERAGE ranks, on an exact integer grid: the rank
    * table per column is one hash aggregate over DISTINCT values plus a
    * running sum over the ordered value domain (the q215 trick — windows
    * over ≤51-value domains, never over rows), and doubling the average
    * rank clears the ½-tie fraction: r2 = 2·cum − cnt + 1 is a BIGINT,
    * and Pearson on 2r equals Pearson on r by affine invariance. Rank maps
    * broadcast back to the fact (each is ≤ domain-sized), moments ride
    * DECIMAL(38,0) exact sums, and only the final closed form runs in
    * doubles — both engines replay it bit-for-bit.
    *
    * Scale: no row-level window, no sort of the fact table; the only
    * shuffles are the per-column distinct-value aggregates. At 100 TB the
    * bounded domains keep the rank tables broadcast-sized; a continuous
    * column would need the q215 distinct-value window, which is the
    * irreducible kernel of any exact global rank.
    */
  private val SpearmanCols = Seq("l_discount", "l_quantity", "l_tax")

  def spearmanRho(df: DataFrame, cols: Seq[String] = SpearmanCols): DataFrame = {
    val dec = DecimalType(38, 0)
    // per column: value -> doubled average rank (exact integer)
    def rank2(c: String): DataFrame = {
      val w = Window.orderBy("v")
      df.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(w))
        .select(col("v").as(s"v_$c"),
          (col("cum") * 2 - col("cnt") + 1).as(s"r2_$c"))
    }
    val ranked = cols.foldLeft(df.select(cols.map(col): _*)) {
      (acc, c) => acc.join(broadcast(rank2(c)), acc(c) === col(s"v_$c")).drop(s"v_$c")
    }
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val moments = ranked.agg(
      count(lit(1)).as("n"),
      cols.map(c => sum(col(s"r2_$c").cast(dec)).as(s"s_$c")) ++
        cols.map(c =>
          // cast BEFORE the product: Long ranks square past 2^63 at ~10^10 rows
          sum((col(s"r2_$c").cast(dec) * col(s"r2_$c").cast(dec)).cast(dec)).as(s"ss_$c")) ++
        pairs.map { case (a, b) =>
          sum((col(s"r2_$a").cast(dec) * col(s"r2_$b").cast(dec)).cast(dec)).as(s"sp_${a}__$b")
        }: _*)
    val rows = pairs.map { case (a, b) =>
      moments.select(
        lit(a).as("x_col"), lit(b).as("y_col"),
        round(
          (col("n").cast("double") * col(s"sp_${a}__$b").cast("double")
            - col(s"s_$a").cast("double") * col(s"s_$b").cast("double"))
            / sqrt(
              (col("n").cast("double") * col(s"ss_$a").cast("double")
                - col(s"s_$a").cast("double") * col(s"s_$a").cast("double"))
                * (col("n").cast("double") * col(s"ss_$b").cast("double")
                  - col(s"s_$b").cast("double") * col(s"s_$b").cast("double"))),
          9).as("rho"))
    }
    rows.reduce(_.union(_)).orderBy("x_col", "y_col")
  }

  private def spearmanOracle: String = {
    val rankCtes = SpearmanCols.map { c =>
      s"""rk_$c AS (
            SELECT v AS v_$c, 2 * sum(cnt) OVER (ORDER BY v) - cnt + 1 AS r2_$c
            FROM (SELECT $c AS v, count(*) AS cnt FROM lineitem GROUP BY 1))"""
    }.mkString(",\n          ")
    val joins = SpearmanCols.map(c => s"JOIN rk_$c ON l.$c = v_$c").mkString("\n          ")
    val pairs = for {
      i <- SpearmanCols.indices; j <- (i + 1) until SpearmanCols.size
    } yield (SpearmanCols(i), SpearmanCols(j))
    val momSel =
      (Seq("count(*) AS n") ++
        SpearmanCols.map(c => s"sum(CAST(r2_$c AS DECIMAL(38,0))) AS s_$c") ++
        SpearmanCols.map(c =>
          s"sum(CAST(r2_$c AS DECIMAL(38,0)) * CAST(r2_$c AS DECIMAL(38,0))) AS ss_$c") ++
        pairs.map { case (a, b) =>
          s"sum(CAST(r2_$a AS DECIMAL(38,0)) * CAST(r2_$b AS DECIMAL(38,0))) AS sp_${a}__$b"
        }).mkString(",\n                 ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS x_col, '$b' AS y_col,
            round((CAST(n AS DOUBLE) * CAST(sp_${a}__$b AS DOUBLE)
                - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
              / sqrt((CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
                  - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
                  - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 9) AS rho
          FROM m"""
    }.mkString("\n          UNION ALL\n          ")
    s"""WITH $rankCtes,
          m AS (
            SELECT $momSel
            FROM lineitem l
          $joins)
        SELECT x_col, y_col, rho FROM (
          $rows)
        ORDER BY x_col, y_col"""
  }

  private val q241 = GraftQuery(
    "q241_spearman_corr",
    (s, dir) => spearmanRho(Tables.lineitem(s, dir)),
    Some(spearmanOracle))

  // ---------------------------------------------------------------- q256

  /** Wilson score lower-bound ranking (Wilson 1927; the "how not to sort
    * by average rating" correction): sources ranked by the 95% lower
    * confidence bound of their English-rate, not the raw proportion — a
    * small sample's perfect rate must not outrank a large sample's
    * near-perfect one. Pure per-group closed form over exact integer
    * (n, pos) counts: one hash aggregate, the z = 1.96 literal shared by
    * both engines, every IEEE step identical, bound rounds at 12 dp
    * BEFORE the rank window (q216 contract). The rank window runs over
    * the SOURCE census (≤ |sources| rows), never the corpus.
    */
  private val q256 = GraftQuery(
    "q256_wilson_ranking",
    (s, dir) => {
      val z = 1.96
      val g = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
      val nD = col("n").cast("double")
      val p = col("pos").cast("double") / nD
      val lb = (p + lit(z * z) / (lit(2.0) * nD)
        - lit(z) * sqrt(p * (lit(1.0) - p) / nD
          + lit(z * z) / (lit(4.0) * nD * nD))) / (lit(1.0) + lit(z * z) / nD)
      val scored = g.select(col("source"), col("n"), col("pos"),
        round(p, 12).as("raw_rate"), round(lb, 12).as("wilson_lb"))
      scored.withColumn("rank", row_number().over(
          Window.orderBy(col("wilson_lb").desc, col("source"))).cast("int"))
        .orderBy("rank")
    },
    Some("""WITH g AS (
              SELECT source, count(*) AS n,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
              FROM documents GROUP BY 1),
            sc AS (
              SELECT source, n, pos,
                     round(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE), 12) AS raw_rate,
                     round(((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                         + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                         - 1.96 * sqrt((CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                             * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                             / CAST(n AS DOUBLE)
                           + (1.96 * 1.96)
                             / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                       / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 12) AS wilson_lb
              FROM g)
            SELECT source, n, pos, raw_rate, wilson_lb,
                   CAST(row_number() OVER (ORDER BY wilson_lb DESC, source) AS INT)
                     AS rank
            FROM sc ORDER BY rank"""))

  // ---------------------------------------------------------------- q259

  /** Poisson-bootstrap confidence interval for the per-source mean
    * document length (Chamandy et al. 2012, Google's streaming
    * bootstrap): instead of materializing B resamples, every (doc,
    * replica) pair draws a Poisson(1) weight — the with-replacement
    * resample's occupancy distribution — from a DETERMINISTIC uniform
    * (portable md5 of doc_id/replica), so one corpus scan with a B-way
    * explode yields all replica means and both engines replay every
    * draw. The inverse-CDF thresholds are 8 shared cumulative-e⁻¹
    * literals (weights cap at 7: P(w>7) < 10⁻⁵). Replica means are
    * exact-integer ratios (Σw·x / Σw); the 2.5/97.5% CI bounds are exact
    * order statistics of the B=50 means — rank windows over B rows per
    * source, never over the corpus.
    */
  private val BootReplicas = 50

  /** Cumulative Poisson(1) CDF thresholds for weights 0..6 (weight 7 is
    * the cap bucket); exact double literals shared with the oracle.
    */
  private def poissonCdf: Seq[Double] = {
    val e1 = math.exp(-1.0)
    val pmf = Iterator.iterate((e1, 0)) { case (p, k) => (p / (k + 1), k + 1) }
      .map(_._1).take(7).toSeq
    pmf.scanLeft(0.0)(_ + _).drop(1)
  }

  private val q259 = GraftQuery(
    "q259_poisson_bootstrap_ci",
    (s, dir) => {
      val cdf = poissonCdf
      val weightExpr = {
        val cases = cdf.zipWithIndex
          .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
        s"CASE $cases ELSE 7 END"
      }
      val dec0 = DecimalType(38, 0)
      val docs = Tables.documents(s, dir).select("source", "doc_id", "n_chars")
      val rep = docs
        .withColumn("r", explode(sequence(lit(0), lit(BootReplicas - 1))))
        .withColumn("u",
          expr("conv(substring(md5(concat(cast(doc_id as string), '/', cast(r as string))), 1, 15), 16, 10)")
            .cast("long").cast("double") / lit(math.pow(2.0, 60.0)))
        .withColumn("w", expr(weightExpr))
      val means = rep.groupBy("source", "r")
        .agg(
          sum(col("w").cast(dec0)).as("sw"),
          sum((col("w") * col("n_chars")).cast(dec0)).as("swx"))
        .select(col("source"), col("r"),
          when(col("sw") > 0,
            round(col("swx").cast("double") / col("sw").cast("double"), 12))
            .as("rep_mean"))
      // the all-weights-zero replica (P ≈ e^-25·per source) yields a null
      // mean; drop it on BOTH engines before ranking — Spark sorts nulls
      // first, DuckDB last, so a surviving null would shift the ranks
      val w = Window.partitionBy("source").orderBy(col("rep_mean"), col("r"))
      val ranked = means.filter(col("rep_mean").isNotNull)
        .withColumn("rk", row_number().over(w))
      val lo = ranked.filter(col("rk") === 2)
        .select(col("source"), col("rep_mean").as("ci_low"))
      val hi = ranked.filter(col("rk") === BootReplicas - 1)
        .select(col("source"), col("rep_mean").as("ci_high"))
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_chars").cast(dec0)).cast("double")
          / count(lit(1)).cast("double"), 12).as("mean_chars"))
      base.join(lo, "source").join(hi, "source")
        .select("source", "n_docs", "mean_chars", "ci_low", "ci_high")
        .orderBy("source")
    },
    Some {
      val cdf = poissonCdf
      val cases = cdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      s"""WITH rep AS (
            SELECT source, doc_id, n_chars, r,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/'
                       || CAST(r AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                     / ${math.pow(2.0, 60.0)} AS u
            FROM documents CROSS JOIN (SELECT unnest(range(0, $BootReplicas)) AS r)),
          wt AS (SELECT source, r, n_chars, CASE $cases ELSE 7 END AS w FROM rep),
          means AS (
            SELECT source, r,
                   CASE WHEN sum(CAST(w AS DECIMAL(38,0))) > 0 THEN
                     round(CAST(sum(CAST(w * n_chars AS DECIMAL(38,0))) AS DOUBLE)
                       / CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE), 12)
                   END AS rep_mean
            FROM wt GROUP BY 1, 2),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY source
              ORDER BY rep_mean, r) AS rk
            FROM means WHERE rep_mean IS NOT NULL),
          base AS (
            SELECT source, count(*) AS n_docs,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 12) AS mean_chars
            FROM documents GROUP BY 1)
          SELECT b.source, b.n_docs, b.mean_chars,
                 lo.rep_mean AS ci_low, hi.rep_mean AS ci_high
          FROM base b
          JOIN (SELECT source, rep_mean FROM ranked WHERE rk = 2) lo
            ON b.source = lo.source
          JOIN (SELECT source, rep_mean FROM ranked
                WHERE rk = ${BootReplicas - 1}) hi
            ON b.source = hi.source
          ORDER BY b.source"""
    })

  // ---------------------------------------------------------------- q260

  /** Rolling-origin forecast backtest (Tashman 2000's evaluation
    * standard) of the q239 Holt smoother: at each of the last 5 cutoff
    * days per event type, the one-step forecast (level + trend at the
    * cutoff) is scored against the NEXT day's actual count — MAPE over
    * the cutoffs plus the worst/best absolute percentage error. Because
    * the truncated-Holt state at every day already falls out of q239's
    * calendar-bounded join, the backtest is ONE extra self-join of the
    * smoothed frame against the next day's actual (join on the day key —
    * missing next-days drop the cutoff on both engines) and a per-type
    * rank window over ≤ |days| rows. APEs round at 12 dp onto the
    * decimal grid before the order-free MAPE mean.
    */
  private val BacktestCutoffs = 5
  private val q260 = GraftQuery(
    "q260_holt_backtest",
    (s, dir) => {
      val hd = holtDaily(s, Tables.events(s, dir))
        .select(col("event_type"), col("day"),
          (col("level") + col("trend")).as("forecast"))
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("nday"))
        .agg(count(lit(1)).as("actual"))
      val scored = hd.join(daily,
          hd("event_type") === daily("event_type")
            && col("nday") === date_add(col("day"), 1))
        .select(hd("event_type"), col("day"), col("forecast"), col("actual"))
        .withColumn("ape",
          round(abs(col("forecast") - col("actual").cast("double"))
            / col("actual").cast("double"), 12))
      val w = Window.partitionBy("event_type").orderBy(col("day").desc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= BacktestCutoffs)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_cutoffs"),
          round(sum(col("ape").cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)).cast("double"), 9).as("mape"),
          round(min(col("ape")), 12).as("best_ape"),
          round(max(col("ape")), 12).as("worst_ape"))
        .orderBy("event_type")
    },
    Some(s"""WITH $holtOracleCtes,
          hd AS (
            SELECT event_type, day,
                   round(level_raw, 9) + round(trend_raw, 9) AS forecast
            FROM agg),
          scored AS (
            SELECT hd.event_type, hd.day, hd.forecast, d.c AS actual,
                   round(abs(hd.forecast - CAST(d.c AS DOUBLE))
                     / CAST(d.c AS DOUBLE), 12) AS ape
            FROM hd JOIN daily d
              ON hd.event_type = d.event_type AND d.day = hd.day + 1),
          ranked AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY day DESC) AS rk
            FROM scored)
          SELECT event_type, count(*) AS n_cutoffs,
                 round(CAST(sum(CAST(ape AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 9) AS mape,
                 round(min(ape), 12) AS best_ape,
                 round(max(ape), 12) AS worst_ape
          FROM ranked WHERE rk <= $BacktestCutoffs
          GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q262

  /** Kendall τ-b ranking agreement (Kendall 1938, tie-corrected) between
    * two per-source quality metrics — total characters vs English-doc
    * count: do the two signals rank sources the same way? The
    * rank-concordance complement to q241's Spearman (τ counts pairwise
    * inversions; ρ correlates ranks). Work is one source census plus a
    * pair self-join over the CENSUS (≤ |sources|² pairs — never rows);
    * concordant/discordant/tie counts are exact integers and the τ-b
    * closed form is one shared IEEE sequence, rounded at 12 dp.
    */
  private val q262 = GraftQuery(
    "q262_kendall_tau",
    (s, dir) => {
      val dec0 = DecimalType(38, 0)
      val cen = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(col("n_chars").cast(dec0)).as("x"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("y"))
      val a = cen.select(col("source").as("sa"), col("x").as("xa"), col("y").as("ya"))
      val b = cen.select(col("source").as("sb"), col("x").as("xb"), col("y").as("yb"))
      val pairs = a.join(broadcast(b), col("sa") < col("sb"))
        .select(
          signum((col("xa") - col("xb")).cast("double")).as("cx"),
          signum((col("ya") - col("yb")).cast("double")).as("cy"))
      val m = pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cx") * col("cy") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("cx") * col("cy") < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(col("cx") === 0 && col("cy") =!= 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("cy") === 0 && col("cx") =!= 0, 1L).otherwise(0L)).as("ties_y"))
      m.select(col("n_pairs"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt(
            (col("concordant") + col("discordant") + col("ties_x")).cast("double")
              * (col("concordant") + col("discordant") + col("ties_y")).cast("double")),
          12).as("tau_b"))
    },
    Some("""WITH cen AS (
              SELECT source,
                     sum(CAST(n_chars AS DECIMAL(38,0))) AS x,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS y
              FROM documents GROUP BY 1),
            pairs AS (
              SELECT sign(CAST(a.x - b.x AS DOUBLE)) AS cx,
                     sign(CAST(a.y - b.y AS DOUBLE)) AS cy
              FROM cen a JOIN cen b ON a.source < b.source),
            m AS (
              SELECT count(*) AS n_pairs,
                     CAST(sum(CASE WHEN cx * cy > 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS concordant,
                     CAST(sum(CASE WHEN cx * cy < 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS discordant,
                     CAST(sum(CASE WHEN cx = 0 AND cy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS ties_x,
                     CAST(sum(CASE WHEN cy = 0 AND cx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS ties_y
              FROM pairs)
            SELECT n_pairs, concordant, discordant, ties_x, ties_y,
                   round(CAST(concordant - discordant AS DOUBLE)
                     / sqrt(CAST(concordant + discordant + ties_x AS DOUBLE)
                       * CAST(concordant + discordant + ties_y AS DOUBLE)), 12)
                     AS tau_b
            FROM m"""))

  /** Count overdispersion per event type: daily event counts against the
    * Poisson null — Fano factor F = s²/m (variance-to-mean; 1 under
    * Poisson) and the method-of-moments negative-binomial size
    * k = m²/(s² − m) when overdispersed (Cameron & Trivedi 1998). The
    * dispersion diagnostic behind rate modeling: a pipeline that alerts
    * on "3σ above mean daily volume" needs to know whether σ comes from
    * Poisson noise or burst clustering.
    *
    * Scale: one (type, day) hash aggregate over the stream, then moments
    * over the CALENDAR-bounded daily census (≤ |days| rows per type) —
    * identical shape to q184's EWMA input. Determinism: counts are
    * integers; Σx/Σx² ride exact DECIMAL(38,0) sums; the closed forms
    * are one shared IEEE sequence rounded at 12; s² ≤ m (no
    * overdispersion) yields NULL nb_size rather than a negative or
    * infinite estimate.
    */
  private val q271 = GraftQuery(
    "q271_overdispersion",
    (s, dir) => {
      val dec0 = DecimalType(38, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val mom = daily.groupBy("event_type").agg(
        count(lit(1)).as("n_days"),
        sum(col("x").cast(dec0)).as("sx"),
        sum((col("x").cast(dec0) * col("x").cast(dec0)).cast(dec0)).as("sxx"))
      val nD = col("n_days").cast("double")
      val m = col("sx").cast("double") / nD
      val v = (col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1.0)
      mom.filter(col("n_days") > 1)
        .select(col("event_type"), col("n_days"),
          round(m, 12).as("mean_daily"),
          round(v, 12).as("var_daily"),
          round(v / m, 12).as("fano"),
          when(v > m, round(m * m / (v - m), 12)).as("nb_size"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS x
              FROM events GROUP BY 1, 2),
            mom AS (
              SELECT event_type, count(*) AS n_days,
                     sum(CAST(x AS DECIMAL(38,0))) AS sx,
                     sum(CAST(CAST(x AS DECIMAL(38,0))
                       * CAST(x AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS sxx
              FROM daily GROUP BY 1),
            m AS (
              SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
                     CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) AS mu,
                     (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                        / CAST(n_days AS DOUBLE)) / (CAST(n_days AS DOUBLE) - 1.0) AS v
              FROM mom WHERE n_days > 1)
            SELECT event_type, n_days,
                   round(mu, 12) AS mean_daily,
                   round(v, 12) AS var_daily,
                   round(v / mu, 12) AS fano,
                   CASE WHEN v > mu THEN round(mu * mu / (v - mu), 12) END AS nb_size
            FROM m ORDER BY event_type"""))

  /** Mann–Kendall trend test per event type (Mann 1945, Kendall 1975):
    * the nonparametric monotone-trend twin of q155's Theil–Sen SLOPE —
    * Theil–Sen answers "how steep", Mann–Kendall answers "is there a
    * trend at all" without assuming linearity or normality. S sums
    * sign(x_j − x_i) over all day pairs i < j; the tie-corrected normal
    * approximation Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18
    * with the ±1 continuity correction gives z.
    *
    * Scale: one (type, day) hash aggregate over the stream, then an
    * all-pairs join over the CALENDAR-bounded daily census (≤ |days|²/2
    * pairs per type regardless of corpus size — the q262 argument).
    * Determinism: S, n and the tie term are exact integers; the closed
    * form is one shared IEEE sequence rounded at 12; a type with every
    * day tied (Var = 0) reports NULL z / "undefined" rather than ±Inf.
    */
  private val q275 = GraftQuery(
    "q275_mann_kendall",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
      val b = daily.select(col("event_type").as("et_b"),
        col("day").as("db"), col("x").as("xb"))
      val sAgg = daily
        .join(b, col("event_type") === col("et_b") && col("day") < col("db"))
        .groupBy("event_type")
        .agg(sum(when(col("xb") > col("x"), 1L)
          .when(col("xb") < col("x"), -1L).otherwise(0L)).as("s_stat"))
      val nAgg = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("event_type", "x").agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
          .as("tie_term"))
      val n = col("n_days")
      val varS = (n * (n - 1L) * (lit(2L) * n + 5L) - col("tie_term"))
        .cast("double") / 18.0
      val den = sqrt(varS)
      val z = when(col("s_stat") > 0, (col("s_stat").cast("double") - 1.0) / den)
        .when(col("s_stat") < 0, (col("s_stat").cast("double") + 1.0) / den)
        .otherwise(lit(0.0))
      nAgg
        .join(sAgg, Seq("event_type"), "left")
        .join(ties, Seq("event_type"), "left")
        .select(col("event_type"), col("n_days"),
          coalesce(col("s_stat"), lit(0L)).as("s_stat"),
          round(varS, 12).as("var_s"),
          when(varS > 0.0, round(z, 12)).as("z"))
        .withColumn("trend",
          when(col("z").isNull, lit("undefined"))
            .when(col("z") > 1.96, lit("increasing"))
            .when(col("z") < -1.96, lit("decreasing"))
            .otherwise(lit("none")))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS x
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT a.event_type,
                     CAST(sum(CASE WHEN b.x > a.x THEN 1
                                   WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                       AS s_stat
              FROM daily a JOIN daily b
                ON a.event_type = b.event_type AND a.day < b.day
              GROUP BY 1),
            n AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
            tg AS (SELECT event_type, x, count(*) AS t FROM daily GROUP BY 1, 2),
            ties AS (
              SELECT event_type,
                     CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
              FROM tg GROUP BY 1),
            m AS (
              SELECT n.event_type, CAST(n.n_days AS BIGINT) AS n_days,
                     COALESCE(s.s_stat, 0) AS s_stat,
                     CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                       - ties.tie_term AS DOUBLE) / 18.0 AS var_s
              FROM n LEFT JOIN s ON n.event_type = s.event_type
                     LEFT JOIN ties ON n.event_type = ties.event_type),
            zc AS (
              SELECT event_type, n_days, s_stat, round(var_s, 12) AS var_s,
                     CASE WHEN var_s > 0.0 THEN round(
                       CASE WHEN s_stat > 0
                              THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
                            WHEN s_stat < 0
                              THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
                            ELSE 0.0 END, 12) END AS z
              FROM m)
            SELECT event_type, n_days, s_stat, var_s, z,
                   CASE WHEN z IS NULL THEN 'undefined'
                        WHEN z > 1.96 THEN 'increasing'
                        WHEN z < -1.96 THEN 'decreasing'
                        ELSE 'none' END AS trend
            FROM zc ORDER BY event_type"""))

  /** One-way ANOVA F across document sources on length (n_chars): does
    * mean document length differ by source beyond within-source noise —
    * the k-group generalization of q217's two-sample Welch t (classic
    * equal-variance decomposition SS_total = SS_between + SS_within).
    * The corpus-QA use: a source whose length distribution drifts from
    * the pool shifts F long before a per-source mean eyeball does.
    *
    * Scale: one hash aggregate to the per-source (n, Σx, Σx²) census,
    * then closed forms on the ≤ |sources| rows. Determinism: the sums
    * ride exact DECIMAL(38,0); the cross-source Σ s_g²/n_g rides the
    * order-free fixed-point sum at 6 dp (the group terms are IEEE
    * doubles; their SUM must not depend on partition order); F rounds
    * at 12. Degenerate designs (k ≤ 1, N ≤ k, or SSW = 0) report NULL
    * F rather than ±Inf/NaN.
    */
  private val q276 = GraftQuery(
    "q276_anova_f",
    (s, dir) => {
      val dec0 = DecimalType(38, 0)
      val g = Tables.documents(s, dir).groupBy("source")
        .agg(count(lit(1)).as("ng"),
          sum(col("n_chars").cast(dec0)).as("sg"),
          sum((col("n_chars").cast(dec0) * col("n_chars").cast(dec0)).cast(dec0))
            .as("ssg"))
      val term = col("sg").cast("double") * col("sg").cast("double") /
        col("ng").cast("double")
      val tot = g.agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("sg")).as("grand"),
        sum(col("ssg")).as("grandsq"),
        graft.functions.Exact.sumFx(term, 6).as("sum_term"))
      val nD = col("n").cast("double")
      val kD = col("k").cast("double")
      val ssb = col("sum_term") -
        col("grand").cast("double") * col("grand").cast("double") / nD
      val ssw = col("grandsq").cast("double") - col("sum_term")
      val f = (ssb / (kD - 1.0)) / (ssw / (nD - kD))
      tot.select(col("k"), col("n"),
        round(ssb, 6).as("ss_between"),
        round(ssw, 6).as("ss_within"),
        when(col("k") > 1 && col("n") > col("k") && ssw > 0.0, round(f, 12))
          .as("f_stat"))
    },
    Some(s"""WITH g AS (
              SELECT source, count(*) AS ng,
                     sum(CAST(n_chars AS DECIMAL(38,0))) AS sg,
                     sum(CAST(CAST(n_chars AS DECIMAL(38,0))
                       * CAST(n_chars AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS ssg
              FROM documents GROUP BY 1),
            tot AS (
              SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                     CAST(sum(sg) AS DECIMAL(38,0)) AS grand,
                     CAST(sum(ssg) AS DECIMAL(38,0)) AS grandsq,
                     ${graft.functions.Exact.sumFxSql(
      "CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)", 6)}
                       AS sum_term
              FROM g)
            SELECT CAST(k AS BIGINT) AS k, n,
                   round(sum_term - CAST(grand AS DOUBLE) * CAST(grand AS DOUBLE)
                     / CAST(n AS DOUBLE), 6) AS ss_between,
                   round(CAST(grandsq AS DOUBLE) - sum_term, 6) AS ss_within,
                   CASE WHEN k > 1 AND n > k
                         AND CAST(grandsq AS DOUBLE) - sum_term > 0.0
                     THEN round(
                       ((sum_term - CAST(grand AS DOUBLE) * CAST(grand AS DOUBLE)
                           / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0))
                       / ((CAST(grandsq AS DOUBLE) - sum_term)
                           / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 12)
                   END AS f_stat
            FROM tot"""))

  /** Ljung–Box portmanteau test per event type: are the first 10 daily
    * autocorrelations JOINTLY zero — the significance closer for q185's
    * per-lag ACF (one large ρ_k is eyeballable; Q = n(n+2)·Σ ρ_k²/m_k
    * against χ²₀.₉₅(10) = 18.307 is the test a forecasting pipeline
    * actually gates residuals on). ρ_k is the plug-in estimate around
    * the GLOBAL mean; on a gapped calendar each lag uses its available
    * pair count m_k (= n−k when gapless), and the verdict is only
    * issued when all 10 lags have pairs (else "insufficient" —
    * including the degenerate types with NO lag pairs at all: the join
    * runs LEFT from the per-type moments, so a single-day type still
    * emits its row with lags_used = 0 instead of vanishing, the
    * round-11 ADVICE edge). lags_used counts lags WITH PAIRS (data
    * sufficiency), not non-null terms: a constant multi-day series has
    * all 10 lags but den ≤ 0, and reports NULL Q / "undefined".
    *
    * Scale: one (type, day) hash aggregate, then lag joins over the
    * CALENDAR-bounded census (≤ 10·|days| pair rows per type at any
    * corpus size). Determinism: all census sums ride DECIMAL(38,0);
    * μ/den/num are one shared IEEE sequence; ρ_k rounds at 12 BEFORE
    * squaring; the 10-term sum rides the order-free fixed-point sum at
    * 15; Q rounds at 9.
    */
  private val q282 = GraftQuery(
    "q282_ljung_box",
    (s, dir) => {
      val dec0 = DecimalType(38, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val d0 = daily.agg(min(col("day")).as("d0"))
      val idx = daily.crossJoin(broadcast(d0))
        .select(col("event_type"),
          datediff(col("day"), col("d0")).cast("long").as("i"), col("c"))
      val mom = idx.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("c").cast(dec0)).as("sx"),
        sum((col("c").cast(dec0) * col("c").cast(dec0)).cast(dec0)).as("sxx"))
      val lagDf = s.range(1, 11).select(col("id").cast("int").as("lag"))
      val pairs = idx.as("a").crossJoin(broadcast(lagDf))
        .join(idx.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("b.i") === col("a.i") - col("lag"))
        .groupBy(col("a.event_type").as("event_type"), col("lag"))
        .agg(count(lit(1)).as("npairs"),
          sum((col("a.c").cast(dec0) * col("b.c").cast(dec0)).cast(dec0)).as("p"),
          sum(col("a.c").cast(dec0)).as("sh"),
          sum(col("b.c").cast(dec0)).as("st"))
      val nD = col("n").cast("double")
      val mu = col("sx").cast("double") / nD
      val den = col("sxx").cast("double") - nD * mu * mu
      val num = col("p").cast("double") - mu * col("st").cast("double") -
        mu * col("sh").cast("double") + col("npairs").cast("double") * mu * mu
      val rho = round(num / den, 12)
      val terms = mom.join(pairs, Seq("event_type"), "left")
        .select(col("event_type"), col("n"), col("lag"),
          when(den > 0.0, rho * rho / col("npairs").cast("double")).as("term"))
      val agg = terms.groupBy("event_type", "n").agg(
        count(col("lag")).as("lags_used"),
        graft.functions.Exact.sumFx(col("term"), 15).as("sterm"))
      val qstat = when(col("sterm").isNotNull,
        round(col("n").cast("double") * (col("n").cast("double") + 2.0)
          * col("sterm"), 9))
      agg
        .select(col("event_type"), col("n").as("n_days"),
          col("lags_used"), qstat.as("q_stat"))
        .withColumn("verdict",
          when(col("lags_used") < 10, lit("insufficient"))
            .when(col("q_stat").isNull, lit("undefined"))
            .when(col("q_stat") > 18.307038053275146, lit("autocorrelated"))
            .otherwise(lit("white")))
        .orderBy("event_type")
    },
    Some(s"""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
                     count(*) AS c
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            idx AS (
              SELECT event_type, CAST(datediff('day', d0, day) AS BIGINT) AS i, c
              FROM daily CROSS JOIN d0),
            mom AS (
              SELECT event_type, count(*) AS n,
                     sum(CAST(c AS DECIMAL(38,0))) AS sx,
                     sum(CAST(CAST(c AS DECIMAL(38,0))
                       * CAST(c AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS sxx
              FROM idx GROUP BY 1),
            momd AS (
              SELECT event_type, n,
                     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                     CAST(sxx AS DOUBLE) - CAST(n AS DOUBLE)
                       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS den
              FROM mom),
            pairs AS (
              SELECT a.event_type, l.lag, count(*) AS npairs,
                     sum(CAST(CAST(a.c AS DECIMAL(38,0))
                       * CAST(b.c AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS p,
                     sum(CAST(a.c AS DECIMAL(38,0))) AS sh,
                     sum(CAST(b.c AS DECIMAL(38,0))) AS st
              FROM idx a CROSS JOIN (SELECT unnest(range(1, 11)) AS lag) l
              JOIN idx b ON a.event_type = b.event_type AND b.i = a.i - l.lag
              GROUP BY 1, 2),
            rhos AS (
              SELECT m.event_type, m.n, p.lag, p.npairs,
                     CASE WHEN m.den > 0.0 THEN
                       round((CAST(p.p AS DOUBLE) - m.mu * CAST(p.st AS DOUBLE)
                         - m.mu * CAST(p.sh AS DOUBLE)
                         + CAST(p.npairs AS DOUBLE) * m.mu * m.mu) / m.den, 12)
                     END AS rho
              FROM momd m LEFT JOIN pairs p ON p.event_type = m.event_type),
            terms AS (
              SELECT event_type, n, lag,
                     rho * rho / CAST(npairs AS DOUBLE) AS term
              FROM rhos),
            agg AS (
              SELECT event_type, CAST(n AS BIGINT) AS n_days,
                     count(lag) AS lags_used,
                     ${graft.functions.Exact.sumFxSql("term", 15)} AS sterm
              FROM terms GROUP BY 1, 2)
            SELECT event_type, n_days, lags_used,
                   CASE WHEN sterm IS NOT NULL THEN
                     round(CAST(n_days AS DOUBLE)
                       * (CAST(n_days AS DOUBLE) + 2.0) * sterm, 9)
                   END AS q_stat,
                   CASE WHEN lags_used < 10 THEN 'insufficient'
                        WHEN sterm IS NULL THEN 'undefined'
                        WHEN round(CAST(n_days AS DOUBLE)
                          * (CAST(n_days AS DOUBLE) + 2.0) * sterm, 9)
                          > 18.307038053275146 THEN 'autocorrelated'
                        ELSE 'white' END AS verdict
            FROM agg ORDER BY event_type"""))

  def all: Seq[GraftQuery] =
    Seq(q131, q132, q133, q134, q154, q155, q182, q184, q185, q215, q216,
      q217, q231, q234, q236, q239, q241, q256, q259, q260, q262, q271,
      q275, q276, q282)
}
