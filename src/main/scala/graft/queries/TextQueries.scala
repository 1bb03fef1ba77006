package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis surface over the `documents` table (driver north star §2b).
  * All-scalar queries are embarrassingly parallel (no shuffle before the
  * final ORDER BY); the word count is one explode + one hash aggregate.
  */
object TextQueries {

  /** Canonical-form fingerprinting: normalization + md5 (rolling-hash
    * whole-doc form; shingle-level fingerprints live in DedupQueries).
    */
  private val q13 = GraftQuery(
    "q13_text_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"),
          length(normalizeText(col("text"))).cast("long").as("norm_len"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   md5(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS fp,
                   CAST(length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS BIGINT) AS norm_len
            FROM documents ORDER BY doc_id"""))

  /** Token counting: whitespace tokens + BPE-ish subword proxy + mean token
    * length.
    */
  private val q14 = GraftQuery(
    "q14_text_token_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
          meanTokenLength(col("text")).as("mean_token_len"))
        .orderBy("doc_id"),
    Some("""WITH norm AS (
              SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt, text
              FROM documents)
            SELECT doc_id,
                   CAST(CASE WHEN length(nt) = 0 THEN 0
                        ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]')) AS BIGINT) AS n_bpeish,
                   CAST(length(nt) - (CASE WHEN length(nt) = 0 THEN 0
                        ELSE len(string_split(nt, ' ')) END) + 1 AS DOUBLE)
                     / NULLIF(CASE WHEN length(nt) = 0 THEN 0
                        ELSE len(string_split(nt, ' ')) END, 0) AS mean_token_len
            FROM norm ORDER BY doc_id"""))

  /** Corpus word count, top 100: tokenize → explode → hash aggregate.
    * Map-side partial aggregation keeps the shuffle at |vocabulary| rows.
    */
  private val q15 = GraftQuery(
    "q15_text_wordcount_top100",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(100),
    Some("""SELECT word, COUNT(*) AS cnt
            FROM (SELECT unnest(string_split(
                    lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
                  FROM documents)
            WHERE length(word) > 0
            GROUP BY word ORDER BY cnt DESC, word LIMIT 100"""))

  /** Quality scoring: saturating length credit + stopword-naturalness +
    * word-shape credits (pure arithmetic; see TextFunctions.qualityScore).
    */
  private val q16 = GraftQuery(
    "q16_text_quality",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          stopwordRatio(col("text")).as("stopword_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks,
                     CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0 THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) END AS n,
                     length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS nlen
              FROM documents),
            m AS (
              SELECT doc_id, text, n,
                     CAST(len(list_filter(toks, t -> t IN
                       ('the','a','an','and','of','in','to','is','it','for','on','with'))) AS DOUBLE)
                       / NULLIF(len(toks), 0) AS stopword_ratio,
                     CAST(nlen - n + 1 AS DOUBLE) / NULLIF(n, 0) AS mean_len
              FROM t)
            SELECT doc_id, stopword_ratio,
                   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \t\n\r\f\x0B]')) AS DOUBLE)
                     / NULLIF(length(text), 0) AS punct_ratio,
                   COALESCE(0.4 * least(1.0, CAST(n AS DOUBLE) / 50.0)
                   + 0.3 * (1.0 - least(1.0, abs(stopword_ratio - 0.45) * 2.0))
                   + 0.3 * (1.0 - least(1.0, abs(mean_len - 5.0) / 5.0)), 0.0) AS quality
            FROM m ORDER BY doc_id"""))

  /** Language-ID heuristic (CJK script check + per-language stopword
    * argmax, ties to the earlier language). The fold's strictly-greater
    * update means the winner is the FIRST language attaining the overall
    * max — which the oracle expresses as an ordered CASE against
    * greatest(); accuracy on real multilingual text is unit-tested in
    * TextFunctionsSpec.
    */
  private val q17 = GraftQuery(
    "q17_text_langid",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          languageId(col("text")).as("predicted_lang"))
        .orderBy("doc_id"),
    Some("""WITH t AS (
              SELECT doc_id, lang AS labeled_lang, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            s AS (
              SELECT *,
                len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','in','is','to','it','that','for'], x))) AS s_en,
                len(list_filter(toks, x -> list_contains(
                  ['der','die','das','und','ist','nicht','ein','eine','mit','zu'], x))) AS s_de,
                len(list_filter(toks, x -> list_contains(
                  ['le','la','les','et','est','une','un','des','que','pas'], x))) AS s_fr,
                len(list_filter(toks, x -> list_contains(
                  ['el','los','y','es','una','un','las','que','por','con'], x))) AS s_es
              FROM t)
            SELECT doc_id, labeled_lang,
                   CASE WHEN text IS NULL THEN 'und'
                        WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                        WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS predicted_lang
            FROM s ORDER BY doc_id"""))

  /** BM25 (k1=1.2, b=0.75) document ranking for a fixed term query — the
    * retrieval scorer behind corpus search / eval-set mining. Plan shape:
    * the exploded corpus is filtered to the query terms BEFORE the
    * (doc, term) hash aggregate, so the shuffle carries only matching
    * occurrences (≪ corpus); document frequencies and the corpus stats
    * row are broadcast. Per-term scores land in fixed columns and sum in
    * fixed order (no float partition-order dependence); per-term round 12,
    * total round 9 so a 1-ulp `ln` divergence between engines can't flip
    * the ranking gate.
    */
  private val q54 = GraftQuery(
    "q54_bm25_rank", {
      (s, dir) =>
        val terms = Seq("spark", "join", "table")
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("dl", size(col("toks")))
        val stats = docs.agg(
          count(lit(1)).as("n"), sum(col("dl").cast("long")).as("sumdl"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("word"))
          .filter(col("word").isin(terms: _*))
          .groupBy("doc_id", "dl", "word")
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
        val avgdl = col("sumdl").cast("double") / col("n")
        val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
        val score = round(idf * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
            + lit(0.75) * col("dl") / avgdl)), 12)
        val perTerm = tf
          .join(broadcast(dfreq), "word")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("word"), score.as("s"))
          .groupBy("doc_id")
          .agg(
            coalesce(sum(when(col("word") === terms(0), col("s"))), lit(0.0)).as("s_spark"),
            coalesce(sum(when(col("word") === terms(1), col("s"))), lit(0.0)).as("s_join"),
            coalesce(sum(when(col("word") === terms(2), col("s"))), lit(0.0)).as("s_table"))
        perTerm
          .withColumn("bm25", round(col("s_spark") + col("s_join") + col("s_table"), 9))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            d AS (SELECT doc_id, len(toks) AS dl, toks FROM norm),
            stats AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM d),
            occ AS (SELECT doc_id, dl, unnest(toks) AS word FROM d),
            tf AS (SELECT doc_id, dl, word, count(*) AS tf FROM occ
                   WHERE word IN ('spark', 'join', 'table')
                   GROUP BY doc_id, dl, word),
            dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
            scored AS (
              SELECT doc_id, word,
                     round(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
                       / (tf + 1.2 * (1.0 - 0.75
                         + 0.75 * dl / (CAST(sumdl AS DOUBLE) / n))), 12) AS s
              FROM tf JOIN dfreq USING (word) CROSS JOIN stats),
            per_doc AS (
              SELECT doc_id,
                     COALESCE(sum(CASE WHEN word = 'spark' THEN s END), 0.0) AS s_spark,
                     COALESCE(sum(CASE WHEN word = 'join' THEN s END), 0.0) AS s_join,
                     COALESCE(sum(CASE WHEN word = 'table' THEN s END), 0.0) AS s_table
              FROM scored GROUP BY doc_id)
            SELECT doc_id, s_spark, s_join, s_table,
                   round(s_spark + s_join + s_table, 9) AS bm25
            FROM per_doc ORDER BY bm25 DESC, doc_id LIMIT 20"""))

  /** Corpus-derived vocabulary (min-count ≥ `minCount`, the word2vec/
    * fastText convention) + per-document out-of-vocabulary rate — the
    * tokenizer-health metric every ingestion pipeline tracks.
    * Frequency-threshold membership is fully distributive (one word-count
    * shuffle with map-side partials, no top-k tie ambiguity); the vocab
    * broadcast-left-joins onto the exploded corpus.
    */
  def vocabOov(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val vocab = occ.groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    occ.join(broadcast(vocab.select(col("word"), lit(1).as("__in"))),
        Seq("word"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov").cast("double") / col("n_tokens"), 12))
      .orderBy("doc_id")
  }

  private val q95 = GraftQuery(
    "q95_vocab_oov",
    (s, dir) => vocabOov(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            vocab AS (
              SELECT word FROM (SELECT word, count(*) AS cnt FROM occ GROUP BY word)
              WHERE cnt >= 5)
            SELECT o.doc_id, count(*) AS n_tokens,
                   count(CASE WHEN v.word IS NULL THEN 1 END) AS n_oov,
                   round(CAST(count(CASE WHEN v.word IS NULL THEN 1 END) AS DOUBLE)
                     / count(*), 12) AS oov_frac
            FROM occ o LEFT JOIN vocab v ON o.word = v.word
            GROUP BY o.doc_id ORDER BY doc_id"""))

  /** Heavy-hitter words via the mergeable Misra–Gries sketch
    * ([[graft.functions.FreqSketchAgg]], k=50) — oracle-gated with the
    * landed-estimate pattern: the sketch's candidate (word, est) pairs
    * land to parquet, both engines independently recompute exact counts
    * and the corpus token total, and replay the sketch's two analytic
    * guarantees in pure integer arithmetic: est ≤ exact (undercount
    * only) and (exact − est)·k ≤ n (bounded error). The no-missed-heavy-
    * hitter guarantee (f > n/k ⇒ present) is pinned in SketchProps —
    * set containment isn't a per-row column.
    */
  private def q98 = GraftQuery(
    "q98_heavy_hitters",
    (s, dir) => {
      val path = Landed.land("q98_heavy_hitters", dir)
      val occ = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
      // ONE pass computes sketch + token total together; n lands with
      // the candidates so the verify side doesn't rescan for a scalar.
      // (The oracle recomputes ITS OWN n and emits it — hash equality of
      // the n column cross-checks the landed total for free.)
      occ
        .agg(
          graft.functions.FreqSketchAgg.heavyHitters(col("word"), 50).as("hh"),
          count(lit(1)).as("n"))
        .select(col("n"), explode(col("hh")).as(Seq("word", "est")))
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      val landed = Tables.parquet(s, path)
      // exact counts for the <=49 candidate words only: broadcast
      // semi-join BEFORE the aggregate, so the shuffle carries candidate
      // rows, never the full vocabulary (the cost this sketch exists to
      // avoid paying corpus-wide)
      val exact = occ
        .join(broadcast(landed.select("word")), Seq("word"), "left_semi")
        .groupBy("word").agg(count(lit(1)).as("exact_cnt"))
      landed
        .join(exact, "word")
        .select(col("word"), col("est"), col("exact_cnt"), col("n"),
          (col("est") <= col("exact_cnt")
            && (col("exact_cnt") - col("est")) * 50 <= col("n")).as("within_bound"))
        .orderBy("word")
    },
    Some(s"""WITH l AS (SELECT word, est
                   FROM read_parquet('${Landed.oraclePath("q98_heavy_hitters")}/*.parquet')),
            occ AS (
              SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            x AS (SELECT word, count(*) AS exact_cnt FROM occ GROUP BY word),
            t AS (SELECT count(*) AS n FROM occ)
            SELECT l.word, l.est, x.exact_cnt, t.n,
                   l.est <= x.exact_cnt AND (x.exact_cnt - l.est) * 50 <= t.n AS within_bound
            FROM l JOIN x USING (word) CROSS JOIN t
            ORDER BY l.word"""))

  /** Per-source token-distribution drift: KL(source ‖ corpus) over the
    * unigram distributions — the standard contamination/shift monitor when
    * mixing training-data sources (a source whose KL jumps between crawls
    * changed character). Plan shape: one token explode feeds a
    * (source, word) hash aggregate; per-word corpus totals come from a
    * SECOND aggregate over that (already word-partitioned) result — the
    * raw token stream is shuffled exactly once. The per-source totals and
    * the corpus scalar are broadcast. Float determinism: each word's
    * contribution p·ln(p/q) is computed from integer counts in one fixed
    * double expression, rounded to 15 dp, and summed as DECIMAL(38,15)
    * (associative ⇒ partition-order independent, the [[graft.functions
    * .Exact]] argument); the total rounds to 9 dp so a 1-ulp `ln`
    * divergence between engines cannot flip the hash. Counts ride doubles
    * inside the ratio (not long products) so the arithmetic survives
    * 10¹²-token corpora without overflow.
    */
  def tokenKlDivergence(docs: DataFrame, groupCol: String = "source"): DataFrame = {
    val occ = docs.select(col(groupCol), explode(tokens(col("text"))).as("word"))
    // materialized: Catalyst does not share subtrees, so without the cut
    // each of the three downstream aggregates would re-scan and re-shuffle
    // the full token stream — the cut makes "one corpus shuffle" physically
    // true (the cached frame is (source × word)-sized, vocab-scale)
    val sw = graft.operators.Components.cut(
      occ.groupBy(groupCol, "word").agg(count(lit(1)).as("c_sw")))
    val srcTot = sw.groupBy(groupCol).agg(sum("c_sw").as("n_s"))
    val wTot = sw.groupBy("word").agg(sum("c_sw").as("c_w"))
    val tot = wTot.agg(sum("c_w").as("n"))
    val p = col("c_sw").cast("double") / col("n_s").cast("double")
    val ratio = (col("c_sw").cast("double") * col("n").cast("double")) /
      (col("n_s").cast("double") * col("c_w").cast("double"))
    sw
      .join(wTot, "word")
      .join(broadcast(srcTot), groupCol)
      .crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_s"),
        round(p * log(ratio), 15)
          .cast(org.apache.spark.sql.types.DecimalType(38, 15)).as("contrib"))
      .groupBy(groupCol)
      .agg(
        first(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(sum(col("contrib")).cast("double"), 9).as("kl"))
      .orderBy(groupCol)
  }

  private val q102 = GraftQuery(
    "q102_token_kl_divergence",
    (s, dir) => tokenKlDivergence(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            sw AS (SELECT source, word, count(*) AS c_sw FROM occ GROUP BY 1, 2),
            st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
            wt AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
            t AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM wt)
            SELECT source, n_s AS n_tokens, count(*) AS n_types,
                   round(CAST(sum(CAST(round(
                       (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                         * ln((CAST(c_sw AS DOUBLE) * CAST(n AS DOUBLE))
                              / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE))), 15)
                     AS DECIMAL(38,15))) AS DOUBLE), 9) AS kl
            FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN t
            GROUP BY source, n_s ORDER BY source"""))

  /** Per-document mean unigram surprisal −(1/|d|)·Σ ln p(w) — the
    * zero-dependency perplexity proxy used for LM quality filtering
    * (CCNet-style: rank documents by how "surprising" their tokens are
    * under the corpus unigram model; both tails are suspect). Plan shape:
    * the corpus word model is ONE hash aggregate over the exploded
    * stream; scoring joins each occurrence to its word count (shuffle on
    * word — the join key with enough cardinality to spread) and
    * re-aggregates per document. Same decimal-sum determinism contract as
    * q102: per-token ln rounds at 15 dp, accumulates as DECIMAL(38,15),
    * the mean divides as double and rounds at 9.
    */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    // vocab-sized cut: the corpus total would otherwise re-run the whole
    // scan+explode+aggregate pipeline just to sum the counts
    val wTot = graft.operators.Components.cut(
      occ.groupBy("word").agg(count(lit(1)).as("c_w")))
    val tot = wTot.agg(sum("c_w").as("n"))
    occ
      .join(wTot, "word")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("n").cast("double") / col("c_w").cast("double")), 15)
          .cast(org.apache.spark.sql.types.DecimalType(38, 15)).as("surp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        round((sum(col("surp")).cast("double") / count(lit(1)).cast("double")), 9)
          .as("mean_surprisal"))
      .orderBy("doc_id")
  }

  private val q103 = GraftQuery(
    "q103_unigram_surprisal",
    (s, dir) => unigramSurprisal(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            wt AS (SELECT word, count(*) AS c_w FROM occ GROUP BY 1),
            t AS (SELECT count(*) AS n FROM occ)
            SELECT doc_id, count(*) AS n_tokens,
                   round(CAST(sum(CAST(round(
                       ln(CAST(n AS DOUBLE) / CAST(c_w AS DOUBLE)), 15)
                     AS DECIMAL(38,15))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                     AS mean_surprisal
            FROM occ JOIN wt USING (word) CROSS JOIN t
            GROUP BY doc_id ORDER BY doc_id"""))

  /** Top-50 token-pair PMI (document-level co-occurrence) — collocation
    * mining for tokenizer/vocab curation and phrase detection. The
    * all-pairs explosion is bounded the standard way: only words with
    * document frequency ≥ 25 enter the pair join (PMI over rare words is
    * noise anyway — the classic sparse-counts caveat), and pairs need
    * support n12 ≥ 10. Plan shape: distinct (doc, word) is one aggregate;
    * the frequent-word filter broadcasts (it is ≪ vocab); the pair join
    * shuffles on doc_id and fans out k² per doc with k = frequent words
    * per doc — bounded by the df threshold, the knob a 100 TB run raises.
    * PMI's ln sees one fixed ratio of exact integer counts (as doubles,
    * overflow-safe past 2⁶³); round 9 gates the 1-ulp ln divergence.
    */
  def pmiPairs(docs: DataFrame, minDf: Long = 25, minPair: Long = 10,
      topK: Int = 50): DataFrame = {
    // materialized: referenced by the df aggregate AND both pair-join
    // sides — uncut, the corpus distinct-shuffle would run three times
    val dw = graft.operators.Components.cut(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .distinct())
    val dfreq = dw.groupBy("word").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val dwf = dw.join(broadcast(dfreq), "word")
    val dTot = docs.agg(count(lit(1)).as("d_total"))
    val a = dwf.select(col("doc_id"), col("word").as("w1"), col("df").as("df1"))
    val b = dwf.select(col("doc_id"), col("word").as("w2"), col("df").as("df2"))
    a.join(b, Seq("doc_id"))
      .filter(col("w1") < col("w2"))
      .groupBy("w1", "w2", "df1", "df2")
      .agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= minPair)
      .crossJoin(broadcast(dTot))
      .select(col("w1"), col("w2"), col("n12"), col("df1"), col("df2"),
        round(log((col("n12").cast("double") * col("d_total").cast("double"))
          / (col("df1").cast("double") * col("df2").cast("double"))), 9).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  private val q104 = GraftQuery(
    "q104_pmi_cooccurrence",
    (s, dir) => pmiPairs(Tables.documents(s, dir)),
    Some("""WITH dw AS (
              SELECT DISTINCT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            dfreq AS (
              SELECT word, count(*) AS df FROM dw GROUP BY word HAVING count(*) >= 25),
            dwf AS (SELECT dw.doc_id, dw.word, dfreq.df FROM dw JOIN dfreq USING (word)),
            d AS (SELECT count(*) AS d_total FROM documents),
            pairs AS (
              SELECT a.w1, b.w2, a.df1, b.df2, count(*) AS n12
              FROM (SELECT doc_id, word AS w1, df AS df1 FROM dwf) a
              JOIN (SELECT doc_id, word AS w2, df AS df2 FROM dwf) b USING (doc_id)
              WHERE a.w1 < b.w2
              GROUP BY 1, 2, 3, 4 HAVING count(*) >= 10)
            SELECT w1, w2, n12, df1, df2,
                   round(ln((CAST(n12 AS DOUBLE) * CAST(d_total AS DOUBLE))
                     / (CAST(df1 AS DOUBLE) * CAST(df2 AS DOUBLE))), 9) AS pmi
            FROM pairs CROSS JOIN d
            ORDER BY pmi DESC, w1, w2 LIMIT 50"""))

  /** Per-document mean bigram surprisal under an add-1 (Laplace) smoothed
    * corpus bigram model — the next step up from q103's unigram proxy and
    * the standard cheap LM-quality scorer: word-soup documents score high
    * because their transitions are unseen, natural prose scores low.
    * −(1/|bigrams(d)|)·Σ ln((c(w1,w2)+1)/(c(w1·)+V)).
    *
    * Plan shape: bigrams come from a NARROW array transform (no
    * posexplode self-join — `transform(sequence(...))` zips adjacent
    * tokens inside the projection); the model is two hash aggregates
    * (bigram counts, context counts); scoring joins occurrences to both
    * (shuffle on (w1,w2), then on w1) and re-aggregates per doc. Same
    * decimal-sum contract as q102/q103. Docs with <2 tokens carry no
    * bigram and are filtered identically on both engines.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bg = toks.select(col("doc_id"),
      explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // bigram-vocab-sized cut: the context-count aggregate and the scoring
    // join both read it — uncut, each re-runs the corpus bigram shuffle
    val bgCnt = graft.operators.Components.cut(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_b")))
    val ctxCnt = bgCnt.groupBy("w1").agg(sum("c_b").as("c_ctx"))
    val vocab = docs
      .select(explode(tokens(col("text"))).as("word"))
      .agg(countDistinct(col("word")).as("v"))
    bg
      .join(bgCnt, Seq("w1", "w2"))
      .join(ctxCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((col("c_ctx").cast("double") + col("v").cast("double"))
          / (col("c_b").cast("double") + lit(1.0))), 15)
          .cast(org.apache.spark.sql.types.DecimalType(38, 15)).as("surp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round((sum(col("surp")).cast("double") / count(lit(1)).cast("double")), 9)
          .as("mean_bigram_surprisal"))
      .orderBy("doc_id")
  }

  private val q109 = GraftQuery(
    "q109_bigram_surprisal",
    (s, dir) => bigramSurprisal(Tables.documents(s, dir)),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            bg0 AS (
              SELECT doc_id, unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                                     for i in generate_series(1, len(t)-1)]) AS b
              FROM norm WHERE len(t) >= 2),
            bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
            bc AS (SELECT w1, w2, count(*) AS c_b FROM bg GROUP BY 1, 2),
            cc AS (SELECT w1, CAST(sum(c_b) AS BIGINT) AS c_ctx FROM bc GROUP BY 1),
            v AS (
              SELECT count(DISTINCT word) AS v FROM (
                SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
                FROM documents)),
            scored AS (
              SELECT bg.doc_id,
                     round(ln((CAST(c_ctx AS DOUBLE) + CAST(v.v AS DOUBLE))
                       / (CAST(c_b AS DOUBLE) + 1.0)), 15) AS surp
              FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1) CROSS JOIN v)
            SELECT doc_id, count(*) AS n_bigrams,
                   round(CAST(sum(CAST(surp AS DECIMAL(38,15))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS mean_bigram_surprisal
            FROM scored GROUP BY doc_id ORDER BY doc_id"""))

  /** Pairwise vocabulary Jaccard between sources — the corpus-mixing
    * diagnostic that catches a crawl source drifting into (or mirroring)
    * another. All-integer counts until one final division. Plan shape:
    * distinct (source, word) is one aggregate; the pair join shuffles on
    * `word` and fans out per word by the number of sources containing it
    * (≤ |sources|, the natural bound); per-source sizes broadcast.
    */
  def sourceVocabJaccard(docs: DataFrame): DataFrame = {
    // (sources × vocab)-sized cut, read by sizes and both join sides:
    // uncut, the corpus distinct-shuffle would run three times
    val sw = graft.operators.Components.cut(docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .distinct())
    val sizes = sw.groupBy("source").agg(count(lit(1)).as("sz"))
    val a = sw.select(col("source").as("source_a"), col("word"))
    val b = sw.select(col("source").as("source_b"), col("word"))
    a.join(b, "word")
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("sz").as("sz_a"))),
        "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("sz").as("sz_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("inter"), col("sz_a"), col("sz_b"),
        round(col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 12)
          .as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  private val q113 = GraftQuery(
    "q113_source_vocab_jaccard",
    (s, dir) => sourceVocabJaccard(Tables.documents(s, dir)),
    Some("""WITH sw AS (
              SELECT DISTINCT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            sizes AS (SELECT source, count(*) AS sz FROM sw GROUP BY 1),
            pairs AS (
              SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
              FROM sw a JOIN sw b ON a.word = b.word AND a.source < b.source
              GROUP BY 1, 2)
            SELECT source_a, source_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
                   round(CAST(inter AS DOUBLE)
                     / CAST(sa.sz + sb.sz - inter AS DOUBLE), 12) AS jaccard
            FROM pairs
            JOIN sizes sa ON source_a = sa.source
            JOIN sizes sb ON source_b = sb.source
            ORDER BY source_a, source_b"""))

  /** Top-3 TF-IDF keywords per document — the extractive summary /
    * routing-feature staple. Scores are tf·ln(D/df) on exact integer
    * counts; the per-document top-k is a window partitioned by doc_id
    * (ranked by score desc, word asc — total order), never a global sort.
    */
  def tfidfKeywords(docs: DataFrame, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    // (doc × word)-sized cut: df derivation and the scoring join both
    // read it — uncut, the corpus tf shuffle would run twice
    val tf = graft.operators.Components.cut(
      occ.groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dTot = docs.agg(count(lit(1)).as("d_total"))
    val scored = tf
      .join(dfreq, "word")
      .crossJoin(broadcast(dTot))
      .select(col("doc_id"), col("word"),
        round(col("tf").cast("double")
          * log(col("d_total").cast("double") / col("df").cast("double")), 12)
          .as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("word"), col("score"))
      .orderBy("doc_id", "rk")
  }

  private val q115 = GraftQuery(
    "q115_tfidf_keywords",
    (s, dir) => tfidfKeywords(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            tf AS (SELECT doc_id, word, count(*) AS tf FROM occ GROUP BY 1, 2),
            dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
            d AS (SELECT count(*) AS d_total FROM documents),
            scored AS (
              SELECT doc_id, word,
                     round(CAST(tf AS DOUBLE)
                       * ln(CAST(d_total AS DOUBLE) / CAST(df AS DOUBLE)), 12) AS score
              FROM tf JOIN dfreq USING (word) CROSS JOIN d),
            ranked AS (
              SELECT doc_id, word, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, word) AS rk
              FROM scored)
            SELECT doc_id, CAST(rk AS BIGINT) AS rk, word, score
            FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** Per-source Zipf slope: OLS fit of ln(freq) against ln(rank) over the
    * top-100 words — natural language sits near −1, so a source whose
    * slope drifts is template/boilerplate-heavy or machine-generated (the
    * corpus-health dashboard number). Ranks come from a per-source window
    * (count desc, word asc — total order, no global sort); the fit is the
    * q111 closed form: ln products round at 15 dp, accumulate as
    * DECIMAL(38,15), and the slope divides exact sums in one fixed double
    * expression.
    */
  def zipfSlope(docs: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("word"))
    val ranked = counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("source"),
        log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val sums = ranked.groupBy("source").agg(
      count(lit(1)).cast("double").as("n"),
      sum(round(col("x"), 15).cast(DecimalType(38, 15))).cast("double").as("sx"),
      sum(round(col("y"), 15).cast(DecimalType(38, 15))).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 15).cast(DecimalType(38, 15))).cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 15).cast(DecimalType(38, 15))).cast("double").as("sxx"))
    sums
      .select(col("source"), col("n").cast("long").as("n_top"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 9).as("zipf_slope"))
      .orderBy("source")
  }

  private val q116 = GraftQuery(
    "q116_zipf_slope",
    (s, dir) => zipfSlope(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            c AS (SELECT source, word, count(*) AS cnt FROM occ GROUP BY 1, 2),
            r AS (SELECT source, cnt,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY cnt DESC, word) AS rk
                  FROM c),
            xy AS (SELECT source,
                          ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
                   FROM r WHERE rk <= 100),
            s AS (SELECT source,
                         CAST(count(*) AS DOUBLE) AS n,
                         CAST(sum(CAST(round(x, 15) AS DECIMAL(38,15))) AS DOUBLE) AS sx,
                         CAST(sum(CAST(round(y, 15) AS DECIMAL(38,15))) AS DOUBLE) AS sy,
                         CAST(sum(CAST(round(x * y, 15) AS DECIMAL(38,15))) AS DOUBLE) AS sxy,
                         CAST(sum(CAST(round(x * x, 15) AS DECIMAL(38,15))) AS DOUBLE) AS sxx
                  FROM xy GROUP BY 1)
            SELECT source, CAST(n AS BIGINT) AS n_top,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS zipf_slope
            FROM s ORDER BY source"""))

  /** Per-source Gini coefficient of the token-frequency distribution —
    * the vocabulary-concentration health number (a source whose token
    * mass sits in a handful of words is template/boilerplate; natural
    * text sits high but not degenerate). Closed form over counts sorted
    * ascending with rank i:  G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx).
    *
    * All-integer arithmetic: the rank-weighted sum Σ i·xᵢ can reach
    * vocab·corpus-tokens (~10²¹ at warehouse scale), so each product is
    * cast to DECIMAL(38,0) BEFORE multiplying — exact to 10³⁸, loud (not
    * wrapping) past it. The ranking window partitions by source over the
    * per-source VOCABULARY (sublinear in corpus size — the q116 contract),
    * never over rows.
    */
  def giniTokenConcentration(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt"), col("word"))
    counts
      .withColumn("i", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("cnt")).as("total"),
        sum(col("i").cast(DecimalType(38, 0)) * col("cnt")).as("iw"))
      .select(col("source"), col("vocab"), col("total"),
        round(
          (lit(2).cast(DecimalType(38, 0)) * col("iw")
            - (col("vocab") + 1).cast(DecimalType(38, 0)) * col("total"))
            .cast("double")
          / (col("vocab").cast(DecimalType(38, 0)) * col("total")).cast("double"),
          12).as("gini"))
      .orderBy("source")
  }

  private val q121 = GraftQuery(
    "q121_gini_token_concentration",
    (s, dir) => giniTokenConcentration(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            c AS (SELECT source, word, count(*) AS cnt FROM occ GROUP BY 1, 2),
            r AS (SELECT source, cnt,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY cnt, word) AS i
                  FROM c)
            SELECT source, count(*) AS vocab, CAST(sum(cnt) AS BIGINT) AS total,
                   round(CAST(2 * sum(CAST(i AS DECIMAL(38,0)) * cnt)
                          - (count(*) + 1) * sum(CAST(cnt AS DECIMAL(38,0))) AS DOUBLE)
                     / CAST(count(*) * sum(CAST(cnt AS DECIMAL(38,0))) AS DOUBLE), 12)
                     AS gini
            FROM r GROUP BY source ORDER BY source"""))

  /** Inverted-index posting lists over 3-gram shingles — the retrieval /
    * near-dup index build as a first-class output (shingle, df, sorted
    * doc-id postings). The df band is the operator's contract: shingles
    * below `minDf` index nothing (singletons are half the universe and
    * pure storage waste), shingles above `maxDf` are stopword-like hubs
    * whose postings would be corpus-sized — the cap is what bounds the
    * per-key `collect_list` state and keeps the build one hash shuffle at
    * any scale. Postings serialize as a comma-joined ascending id string
    * (`string_agg ORDER BY` replayable).
    */
  def shinglePostings(docs: DataFrame, n: Int = 3,
      minDf: Int = 2, maxDf: Int = 20): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"bad df band [$minDf, $maxDf]")
    val sh = docs
      .select(col("doc_id"),
        explode(graft.functions.Sketches.wordShingles(col("text"), n)).as("shingle"))
    sh.groupBy("shingle")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(col("df").between(minDf, maxDf))
      .select(col("shingle"), col("df"),
        concat_ws(",", transform(col("ids"), i => i.cast("string"))).as("postings"))
      .orderBy("shingle")
  }

  private val q125 = GraftQuery(
    "q125_shingle_postings",
    (s, dir) => shinglePostings(Tables.documents(s, dir)),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS shingle
              FROM norm WHERE len(t) >= 3)
            SELECT shingle, count(*) AS df,
                   string_agg(doc_id, ',' ORDER BY doc_id) AS postings
            FROM sh GROUP BY shingle
            HAVING count(*) BETWEEN 2 AND 20
            ORDER BY shingle"""))

  /** Per-document Shannon entropy of the token distribution (nats) — the
    * degenerate-content detector: near-zero entropy is a repeated-token
    * artifact, unusually low entropy against the doc's length is
    * template/generated text. Two hash aggregates ((doc, word) then doc);
    * entropy terms round at 15 dp into DECIMAL(38,15) (order-free, the
    * q102 scheme) with the display value at 12 dp.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val tot = tf.groupBy("doc_id").agg(sum(col("cnt")).as("n_tokens"))
    tf.join(tot, "doc_id")
      .withColumn("p", col("cnt").cast("double") / col("n_tokens").cast("double"))
      .groupBy("doc_id")
      .agg(
        first(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(round(col("p") * log(col("p")), 15).cast(DecimalType(38, 15)))
          .cast("double").as("negent"))
      .select(col("doc_id"), col("n_tokens"), col("vocab"),
        round(-col("negent"), 12).as("entropy"))
      .orderBy("doc_id")
  }

  private val q129 = GraftQuery(
    "q129_token_entropy",
    (s, dir) => tokenEntropy(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            tf AS (SELECT doc_id, word, count(*) AS cnt FROM occ GROUP BY 1, 2),
            tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens
                    FROM tf GROUP BY 1),
            p AS (SELECT tf.doc_id, n_tokens,
                         CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS p
                  FROM tf JOIN tot USING (doc_id))
            SELECT doc_id, n_tokens, count(*) AS vocab,
                   round(-CAST(sum(CAST(round(p * ln(p), 15) AS DECIMAL(38,15)))
                     AS DOUBLE), 12) AS entropy
            FROM p GROUP BY doc_id, n_tokens ORDER BY doc_id"""))

  /** Count-min sketch over the token stream
    * ([[graft.operators.CountMin]], depth 4 × width 1024) probed at the
    * top-30 exact words — graded FULLY differentially, estimates
    * included: the hash family is md5-based and engine-portable, so the
    * oracle rebuilds the identical counter matrix and min-reduces the
    * identical cells (no landed fixture, unlike q98's Misra–Gries whose
    * xxhash-free summary has no SQL twin). The emitted booleans pin the
    * sketch's hard guarantee (est ≥ exact — cells only over-count) and
    * sanity ceiling (est ≤ n) on BOTH engines. Complements q98: CMS
    * answers point queries over an unbounded key universe; Misra–Gries
    * enumerates the heavy keys.
    */
  private val q139 = GraftQuery(
    "q139_count_min_sketch",
    (s, dir) => {
      import graft.operators.CountMin
      val occ = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
      val sk = CountMin.sketch(occ, "word")
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word").asc)
        .limit(30)
      val n1 = occ.agg(count(lit(1)).as("n"))
      CountMin.estimate(sk, top.select("word"), "word")
        .join(top, "word")
        .crossJoin(broadcast(n1))
        .select(col("word"), col("est"), col("exact_cnt"), col("n"),
          (col("est") >= col("exact_cnt")).as("over_ok"),
          (col("est") <= col("n")).as("within_n"))
        .orderBy("word")
    },
    Some("""WITH occ AS (
              SELECT word FROM (
                SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
                FROM documents)
              WHERE length(word) > 0),
            ab AS (SELECT * FROM (VALUES
              (0, 1103, 12289), (1, 52711, 96779),
              (2, 304807, 712201), (3, 845723, 994009)) t(r, a, b)),
            h AS (SELECT word,
                         ('0x' || substr(md5(word), 1, 15))::BIGINT % 2147483647 AS base
                  FROM occ),
            sk AS (SELECT r, ((a * base + b) % 2147483647) % 1024 AS cell,
                          count(*) AS cnt
                   FROM h CROSS JOIN ab GROUP BY 1, 2),
            ex AS (SELECT word, count(*) AS exact_cnt FROM occ GROUP BY 1),
            top AS (SELECT word, exact_cnt FROM ex
                    ORDER BY exact_cnt DESC, word ASC LIMIT 30),
            pr AS (SELECT t.word, t.exact_cnt, ab.r,
                          ((ab.a * (('0x' || substr(md5(t.word), 1, 15))::BIGINT
                              % 2147483647) + ab.b) % 2147483647) % 1024 AS cell
                   FROM top t CROSS JOIN ab),
            est AS (SELECT pr.word, pr.exact_cnt, min(sk.cnt) AS est
                    FROM pr JOIN sk ON sk.r = pr.r AND sk.cell = pr.cell
                    GROUP BY 1, 2),
            tot AS (SELECT count(*) AS n FROM occ)
            SELECT word, est, exact_cnt, n,
                   est >= exact_cnt AS over_ok,
                   est <= n AS within_n
            FROM est CROSS JOIN tot
            ORDER BY word"""))

  /** Per-SOURCE repetition profile — the corpus-health rollup over the
    * Gopher/C4 repetition family. q53 is the row-level FILTER (native
    * one-pass `RepetitionStatsExpr`, per-doc keep/drop); this is the
    * MONITORING view a pipeline runs beside it: aggregate flag rates and
    * mean signals per source, the numbers that say "crawl X degraded
    * this week" rather than "drop this doc". It also adds the
    * duplicate-trigram fraction q53's expression does not track. Three
    * per-doc signals, then the per-source rollup:
    *
    *   - `ttr`               type–token ratio (distinct/total tokens)
    *   - `top_bigram_frac`   most frequent bigram's share of all bigrams
    *   - `dup_trigram_frac`  share of trigram occurrences beyond each
    *                         trigram's first (0 = all distinct)
    *
    * Plan shape: the scalar signals (ttr) stay NARROW inside the
    * projection; the n-gram modes need per-(doc, gram) counts, which is
    * two hash aggregates keyed on (doc_id, gram) — cardinality bounded by
    * corpus token count, the same budget every other token-stream query
    * spends, and map-side combine absorbs the within-doc repeats that are
    * the very signal being measured. No window, no self-join. Flag
    * thresholds (ttr < 0.30, top bigram > 0.20) are the *shape* of the
    * Gopher gates; per-doc means ride rounded DECIMAL sums so the
    * per-source rollup is partition-order free.
    */
  /** Per-doc repetition signals + flag — [[repetitionProfile]]'s row
    * frame, exposed for the q170 waterfall (docs under `minTokens`
    * carry no row; callers decide how short docs route).
    */
  def repetitionPerDoc(docs: DataFrame, minTokens: Int = 3): DataFrame = {
    val t = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= minTokens)
    val base = t.select(
      col("doc_id"), col("source"),
      round(size(array_distinct(col("t"))).cast("double")
        / size(col("t")).cast("double"), 9).as("ttr"))
    val bg = t.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round(max(col("c")).cast("double")
        / sum(col("c")).cast("double"), 9).as("top_bigram_frac"))
    val tg = t.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(t) - 2), i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(round((sum(col("c")) - count(lit(1))).cast("double")
        / sum(col("c")).cast("double"), 9).as("dup_trigram_frac"))
    base.join(bg, "doc_id").join(tg, "doc_id")
      .withColumn("flagged",
        when(col("ttr") < 0.30 || col("top_bigram_frac") > 0.20, 1L).otherwise(0L))
  }

  def repetitionProfile(docs: DataFrame, minTokens: Int = 3): DataFrame = {
    val d = repetitionPerDoc(docs, minTokens)
    def meanOf(c: String) =
      round(sum(col(c).cast(DecimalType(38, 9))).cast("double")
        / count(lit(1)).cast("double"), 9).as(s"mean_$c")
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("flagged")).as("n_flagged"),
        meanOf("ttr"), meanOf("top_bigram_frac"), meanOf("dup_trigram_frac"))
      .orderBy("source")
  }

  private val q145 = GraftQuery(
    "q145_repetition_rules",
    (s, dir) => repetitionProfile(Tables.documents(s, dir)),
    Some("""WITH norm AS (
              SELECT doc_id, source,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            f AS (SELECT * FROM norm WHERE len(t) >= 3),
            base AS (
              SELECT doc_id, source,
                     round(CAST(len(list_distinct(t)) AS DOUBLE)
                       / CAST(len(t) AS DOUBLE), 9) AS ttr
              FROM f),
            bg0 AS (
              SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                     for i in generate_series(1, len(t)-1)]) AS b
              FROM f),
            bgc AS (SELECT doc_id, b, count(*) AS c FROM bg0 GROUP BY 1, 2),
            bga AS (
              SELECT doc_id,
                     round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 9)
                       AS top_bigram_frac
              FROM bgc GROUP BY 1),
            tg0 AS (
              SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                     for i in generate_series(1, len(t)-2)]) AS g
              FROM f),
            tgc AS (SELECT doc_id, g, count(*) AS c FROM tg0 GROUP BY 1, 2),
            tga AS (
              SELECT doc_id,
                     round(CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 9)
                       AS dup_trigram_frac
              FROM tgc GROUP BY 1),
            d AS (
              SELECT base.source, base.ttr, bga.top_bigram_frac, tga.dup_trigram_frac,
                     CASE WHEN base.ttr < 0.30 OR bga.top_bigram_frac > 0.20
                          THEN 1 ELSE 0 END AS flagged
              FROM base JOIN bga USING (doc_id) JOIN tga USING (doc_id))
            SELECT source, count(*) AS n_docs, CAST(sum(flagged) AS BIGINT) AS n_flagged,
                   round(CAST(sum(CAST(ttr AS DECIMAL(38,9))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS mean_ttr,
                   round(CAST(sum(CAST(top_bigram_frac AS DECIMAL(38,9))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS mean_top_bigram_frac,
                   round(CAST(sum(CAST(dup_trigram_frac AS DECIMAL(38,9))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS mean_dup_trigram_frac
            FROM d GROUP BY source ORDER BY source"""))

  /** BATCHED BM25 retrieval: score a SET of queries against the corpus
    * in one pass and keep the top-k docs per query — the serving-shaped
    * form of q54's single-query scorer (one fixed term list, global sort
    * + limit). What changes at query-set scale: tf/df/dl build once for
    * all queries, each query fans out only to its own matching
    * occurrences via a broadcast term join, and per-query top-k runs
    * through the native bounded [[TopKAgg]] instead of a global sort —
    * O(queries·k) selection state no matter how many queries ride the
    * batch. Same Lucene-form idf = ln((N − df + ½)/(df + ½) + 1),
    * k1 = 1.2, b = 0.75; the sparse side of any hybrid (q93 RRF) stack
    * next to the dense ANN surface (q22/q24/q32/q70).
    *
    * Plan shape: one token pass builds per-(doc, term) tf and per-doc
    * length; df and the (N, avgdl) scalars are term-/corpus-level
    * aggregates broadcast back; query terms hit tf as a broadcast semi
    * pattern, so the only data-sized shuffles are the tf aggregate and
    * the doc-length join. Per-term contributions ride rounded DECIMAL
    * sums; the per-query top-k is the native bounded [[TopKAgg]]
    * (O(queries·k) state, no global sort), ties broken by doc_id —
    * exactly the oracle's row_number contract.
    */
  def bm25TopDocs(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val qterms = queries
      .flatMap { case (qid, q) => q.split(" ").distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
    val tf = graft.operators.Components.cut(
      toks.select(col("doc_id"), size(col("t")).as("dl"), explode(col("t")).as("term"))
        .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf")))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = toks.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(col("t")).cast(DecimalType(38, 0))).cast("double")
        / count(lit(1)).cast("double")).as("avgdl"))
    val idf = log((col("n_docs") - col("df").cast("double") + lit(0.5))
      / (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val contrib = tf
      .join(broadcast(qterms), "term")
      .join(broadcast(dfT.join(broadcast(qterms.select("term").distinct()), "term")), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * col("tf").cast("double") * lit(k1 + 1.0)
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))), 15)
          .cast(DecimalType(38, 15)).as("c"))
    // round 12 AFTER the decimal→double conversion: the 128-bit decimal
    // sums are identical on both engines, but DuckDB's decimal→double
    // conversion can land 1 ulp off BigDecimal.doubleValue (measured)
    val scored = contrib.groupBy("query_id", "doc_id")
      .agg(round(sum(col("c")).cast("double"), 12).as("score"))
    val topk = graft.functions.TopKAgg.topK(k)
    scored
      .groupBy("query_id")
      .agg(topk(col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("doc_id"), col("t.score").as("score"))
      .orderBy("query_id", "rank")
  }

  private val Bm25Queries = Seq(
    1 -> "spark table scan", 2 -> "hash join merge",
    3 -> "window agg stream", 4 -> "dup filter")

  private val q151 = GraftQuery(
    "q151_bm25_retrieval",
    (s, dir) => bm25TopDocs(Tables.documents(s, dir), Bm25Queries),
    Some {
      val qvals = Bm25Queries
        .flatMap { case (qid, q) => q.split(" ").distinct.map(t => s"($qid, '$t')") }
        .mkString(", ")
      s"""WITH qt(query_id, term) AS (VALUES $qvals),
            toks AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents WHERE len(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) > 0),
            tf AS (
              SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks),
            tfc AS (SELECT doc_id, dl, term, count(*) AS tf FROM tf GROUP BY 1, 2, 3),
            dfT AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
            stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                     CAST(sum(CAST(len(t) AS DECIMAL(38,0))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avgdl
              FROM toks),
            contrib AS (
              SELECT qt.query_id, tfc.doc_id,
                     CAST(round(
                       ln((s.n_docs - CAST(dfT.df AS DOUBLE) + 0.5)
                          / (CAST(dfT.df AS DOUBLE) + 0.5) + 1.0)
                       * CAST(tfc.tf AS DOUBLE) * 2.2
                       / (CAST(tfc.tf AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * CAST(tfc.dl AS DOUBLE) / s.avgdl)), 15)
                       AS DECIMAL(38,15)) AS c
              FROM tfc JOIN qt USING (term) JOIN dfT USING (term) CROSS JOIN stats s),
            scored AS (
              SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 12) AS score
              FROM contrib GROUP BY 1, 2),
            ranked AS (
              SELECT query_id, doc_id, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS rn
              FROM scored)
            SELECT query_id, CAST(rn AS INT) AS rank, doc_id, score
            FROM ranked WHERE rn <= 10 ORDER BY query_id, rank"""
    })

  private val TrgmPatterns = Seq("spark table", "hash join", "table scan", "slow merge")

  /** Character-trigram substring search (the pg_trgm idea): answer
    * `LIKE '%pattern%'` through a trigram posting index instead of a
    * full-corpus scan — candidates are docs containing ALL of the
    * pattern's character trigrams (posting intersection, cost bounded by
    * the rarest trigram's document frequency), then exact containment
    * verifies each candidate. The char-level sibling of q125's
    * word-shingle postings: this one accelerates arbitrary substring
    * predicates, which no tokenized index can.
    *
    * Plan shape: one trigram pass builds distinct (doc, trigram)
    * postings; the pattern trigram table is tiny and broadcast; the
    * ALL-trigrams check is a count == n_trigrams filter on one hash
    * aggregate; verification touches only the candidates. Emitted
    * per-pattern precision documents the index's filtering power
    * (candidates that fail verification are the trigram index's false
    * positives — trigrams present but not contiguous).
    */
  def trigramSearch(docs: DataFrame, patterns: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val patTg = patterns.flatMap { p =>
      val t = p.sliding(3).toSeq.distinct
      t.map(tg => (p, tg, t.size.toLong))
    }.toDF("pattern", "tg", "n_tg")
    // fan out the 1-task small-file scan before the per-char trigram
    // explode (compute-dense; see Tables.widen)
    val norm = graft.Tables.widen(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), normalizeText(col("text")).as("nt"))
    val post = norm.select(col("doc_id"), explode(array_distinct(expr(
      "CASE WHEN length(nt) >= 3 THEN transform(sequence(1, length(nt) - 2), i -> substring(nt, i, 3)) ELSE array() END")))
      .as("tg"))
    val cand = post.join(broadcast(patTg), "tg")
      .groupBy("pattern", "n_tg", "doc_id")
      .agg(count(lit(1)).as("hit"))
      .filter(col("hit") === col("n_tg"))
    cand
      .join(norm, "doc_id")
      .withColumn("matched", expr("instr(nt, pattern) > 0"))
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matches"))
      .withColumn("index_precision",
        round(col("n_matches").cast("double") / col("n_candidates").cast("double"), 9))
      .orderBy("pattern")
  }

  private val q164 = GraftQuery(
    "q164_trigram_substring_search",
    (s, dir) => trigramSearch(Tables.documents(s, dir), TrgmPatterns),
    Some {
      val patVals = TrgmPatterns.flatMap { p =>
        val t = p.sliding(3).toSeq.distinct
        t.map(tg => s"('${p}', '${tg}', ${t.size})")
      }.mkString(", ")
      s"""WITH pat(pattern, tg, n_tg) AS (VALUES $patVals),
            d AS (
              SELECT doc_id,
                     lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            post AS (
              SELECT doc_id, unnest(list_distinct(
                       CASE WHEN length(nt) >= 3
                            THEN [substring(nt, i, 3) for i in generate_series(1, length(nt) - 2)]
                            ELSE CAST([] AS VARCHAR[]) END)) AS tg
              FROM d),
            cand AS (
              SELECT p.pattern, p.n_tg, post.doc_id, count(*) AS hit
              FROM post JOIN pat p USING (tg)
              GROUP BY 1, 2, 3 HAVING count(*) = p.n_tg),
            v AS (
              SELECT c.pattern,
                     CASE WHEN position(c.pattern IN d.nt) > 0 THEN 1 ELSE 0 END AS matched
              FROM cand c JOIN d ON c.doc_id = d.doc_id)
            SELECT pattern, count(*) AS n_candidates,
                   CAST(sum(matched) AS BIGINT) AS n_matches,
                   round(CAST(sum(matched) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                     AS index_precision
            FROM v GROUP BY pattern ORDER BY pattern"""
    })

  /** Feature hashing (the hashing trick, Weinberger et al. 2009): every
    * token occurrence lands in one of d = 64 signed buckets via the
    * engine-portable md5 hash (the q139 family — both engines parse the
    * same 60-bit hex prefix), sign = ±1 from the next hash bit, so
    * collisions cancel in expectation instead of inflating. Per doc:
    * token count, nnz (occupied buckets whose signed sum survived
    * cancellation) and the L2 norm of the hashed vector — the
    * fixed-width, vocabulary-free featurization that needs NO fitted
    * dictionary, which is what makes it the streaming/100 TB-friendly
    * vectorizer: one narrow pass, one (doc, bucket) hash aggregate,
    * integer-exact until the final sqrt.
    */
  def hashedFeatures(docs: DataFrame, d: Int = 64): DataFrame = {
    val occ = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .withColumn("h", expr("conv(substring(md5(word), 1, 15), 16, 10)").cast("long"))
      .withColumn("bucket", col("h") % d)
      .withColumn("sign",
        when(expr(s"(h div ${d}L) % 2") === 0, lit(1L)).otherwise(lit(-1L)))
    occ
      .groupBy("doc_id", "bucket").agg(sum(col("sign")).as("v"), count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("v") =!= 0, 1L).otherwise(0L)).as("nnz"),
        round(sqrt(sum(col("v") * col("v")).cast("double")), 9).as("l2_norm"))
      .orderBy("doc_id")
  }

  private val q169 = GraftQuery(
    "q169_feature_hashing",
    (s, dir) => hashedFeatures(Tables.documents(s, dir)),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
              FROM occ WHERE length(word) > 0),
            b AS (
              SELECT doc_id, h % 64 AS bucket,
                     CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sign
              FROM h),
            pb AS (
              SELECT doc_id, bucket, sum(sign) AS v, count(*) AS n
              FROM b GROUP BY 1, 2)
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
                   round(sqrt(CAST(sum(v * v) AS DOUBLE)), 9) AS l2_norm
            FROM pb GROUP BY doc_id ORDER BY doc_id"""))

  /** BPE merge learning (Sennrich et al. 2016) — the first `rounds` merge
    * rules of byte-pair-encoding tokenizer training, learned from the
    * corpus: start from character sequences per word, repeatedly count
    * adjacent symbol pairs (weighted by word frequency) and merge the
    * most frequent pair everywhere. The output is the merge TABLE —
    * (round, merge_left, merge_right, merged, pair_count) — the artifact
    * a tokenizer trainer ships.
    *
    * Scale contract (canonicalize-first, the q186 scheme): the corpus is
    * scanned ONCE for the word-frequency dictionary; all `rounds`
    * iterations run over the DISTINCT-word state (vocabulary-sized, never
    * corpus-sized), each one pair-count aggregate + a 1-row argmax
    * collect + one literal-pattern rewrite. Pair counts are exact integer
    * sums; the argmax tie-breaks on the pair string (space < every symbol
    * char, so string order equals (left, right) tuple order).
    *
    * Merge application is REPLACE-TWICE: two literal `replace` passes
    * over the space-separated symbol string. A pass misses an occurrence
    * exactly when it shares its boundary space with a just-replaced
    * neighbor, and the second pass picks up occurrences the first
    * isolated (" a a a " → " aa a ", " r l r l r " → " r lr lr ").
    * This matches canonical greedy left-to-right merging EXCEPT on runs
    * of ≥ 6 repeated identical symbols, where replace-twice can place
    * fewer merges (" a a a a a a " → pass 1 " aa a aa a ", pass 2 no-op:
    * 2 merges where greedy LTR makes 3 — the leftover singles still abut
    * replaced neighbors after pass 2). Replace-twice is therefore a FIXED
    * semantics in its own right, not an implementation of Sennrich
    * greedy: merge placement/count can deviate on run-heavy text, and
    * determinism comes from both engines running the identical two-pass
    * rewrite — which is why the merge is a string rewrite and not a
    * per-word fold.
    */
  private def bpeTrain(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    var state = graft.operators.Components.cut(
      docs.select(explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wf"))
        .select(col("w"), concat(lit(" "),
          array_join(filter(split(col("w"), ""), x => x =!= ""), " "),
          lit(" ")).as("s"), col("wf")))
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = state
        .select(col("wf"), split(trim(col("s")), " ").as("t"))
        // single-symbol words carry no pairs (and Spark's sequence(1, 0)
        // would run DESCENDING, not empty)
        .filter(size(col("t")) >= 2)
        .select(col("wf"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wf")).as("cnt"))
        .orderBy(col("cnt").desc, concat(col("l"), lit(" "), col("r")))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rt, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((r, l, rt, l + rt, cnt))
        val pat = lit(s" $l $rt ")
        val rep = lit(s" $l$rt ")
        state = graft.operators.Components.cut(
          state.select(col("w"),
            replace(replace(col("s"), pat, rep), pat, rep).as("s"), col("wf")))
        r += 1
      }
    }
    (learned.toSeq, state)
  }

  def bpeMerges(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, rounds)._1
      .toDF("round", "merge_left", "merge_right", "merged", "pair_count")
      .orderBy("round")
  }

  /** Tokenizer INFERENCE over the [[bpeMerges]] table: the trained state
    * already encodes every vocabulary word as its merged subword
    * sequence, so application is one dictionary join — corpus word
    * occurrences probe the (word → subword count) map (broadcast-sized:
    * the vocabulary, not the corpus) and roll up per source. The fertility
    * ratio (subwords per word) is THE tokenizer-quality number a data
    * pipeline tracks per corpus slice; all sums are exact integers.
    */
  def bpeEncodeStats(docs: DataFrame, rounds: Int = 5): DataFrame = {
    val sub = bpeTrain(docs, rounds)._2
      .select(col("w"), size(split(trim(col("s")), " ")).as("n_sub"))
    docs.select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(sub), Seq("w"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subwords"),
        round(sum(col("n_sub")).cast("double") / count(lit(1)).cast("double"), 9)
          .as("avg_subwords_per_word"))
      .orderBy("source")
  }

  /** Shared unrolled-round CTE prefix for the q196/q197 oracles (the
    * kmeans-oracle scheme applied to tokenizer training): w0 is the
    * word-frequency dictionary in char-symbol form; each round appends
    * pair counts (p_r), the 1-row argmax (m_r), and the replace-twice
    * rewritten state (w_r).
    */
  private def bpeCtePrefix(rounds: Int): String = {
    val cts = (1 to rounds).map { r =>
      s"""p$r AS (
           SELECT t[i] AS l, t[i+1] AS r, sum(wf) AS cnt
           FROM (SELECT string_split(trim(s), ' ') AS t, wf FROM w${r - 1}),
                LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
           GROUP BY 1, 2),
         m$r AS (
           SELECT l, r, cnt FROM p$r
           ORDER BY cnt DESC, l || ' ' || r LIMIT 1),
         w$r AS (
           SELECT w.w, replace(replace(w.s, ' ' || m.l || ' ' || m.r || ' ',
                                            ' ' || m.l || m.r || ' '),
                               ' ' || m.l || ' ' || m.r || ' ',
                               ' ' || m.l || m.r || ' ') AS s, w.wf
           FROM w${r - 1} w CROSS JOIN m$r m)"""
    }.mkString(",\n         ")
    s"""WITH occ AS (
         SELECT source, unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS w
         FROM documents),
       w0 AS (
         SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s,
                count(*) AS wf
         FROM occ WHERE w <> '' GROUP BY w),
       $cts"""
  }

  private def bpeMergesOracle(rounds: Int): String = {
    val sel = (1 to rounds).map(r =>
      s"SELECT $r AS round, l AS merge_left, r AS merge_right, l || r AS merged, cnt AS pair_count FROM m$r")
      .mkString("\n          UNION ALL ")
    s"""${bpeCtePrefix(rounds)}
       SELECT CAST(round AS INT) AS round, merge_left, merge_right, merged,
              CAST(pair_count AS BIGINT) AS pair_count
       FROM ($sel) ORDER BY round"""
  }

  private val q196 = GraftQuery(
    "q196_bpe_merges",
    (s, dir) => bpeMerges(Tables.documents(s, dir), rounds = 5),
    Some(bpeMergesOracle(5)))

  private val q197 = GraftQuery(
    "q197_bpe_encode_stats",
    (s, dir) => bpeEncodeStats(Tables.documents(s, dir), rounds = 5),
    Some(s"""${bpeCtePrefix(5)},
            sub AS (SELECT w, len(string_split(trim(s), ' ')) AS n_sub FROM w5)
            SELECT source, count(*) AS n_words,
                   CAST(sum(n_sub) AS BIGINT) AS n_subwords,
                   round(CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                     AS avg_subwords_per_word
            FROM occ JOIN sub USING (w)
            GROUP BY source ORDER BY source"""))

  // def, not val: q98 lands estimate parquet — its oracle SQL embeds the
  // path recorded at dump time (the q21/q76 pattern)
  /** Multinomial Naive Bayes language classifier — train on the 4/5 of the
    * corpus with doc_id % 5 != 0, predict the held-out 1/5, report per-doc
    * prediction + correctness. Laplace (+1) smoothing over the training
    * vocabulary; priors from training document counts; deterministic
    * argmax (score DESC, lang ASC).
    *
    * Plan shape at scale: the model is two vocab-bounded aggregates
    * (lang x word counts, lang totals); scoring is ONE pass over the test
    * token stream fanned out x|langs| (a 5-row broadcast), joined to the
    * model on (lang, word) — the only corpus-sized shuffle — then a
    * doc-keyed aggregate. Determinism contract = q102/q103: each token's
    * log-likelihood rounds at 15 dp and accumulates on the DECIMAL(38,15)
    * grid, so partition order cannot move a score and the argmax is exact
    * in both engines.
    */
  private val q203 = GraftQuery(
    "q203_naive_bayes_langid",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(col("doc_id") % 5 =!= 0)
      val test = docs.filter(col("doc_id") % 5 === 0)
      val occTr = train.select(col("lang"), explode(tokens(col("text"))).as("word"))
      val cw = graft.operators.Components.cut(
        occTr.groupBy("lang", "word").agg(count(lit(1)).as("c_lw")))
      val ct = cw.groupBy("lang").agg(sum("c_lw").as("n_l"))
      val vocab = cw.agg(countDistinct(col("word")).as("v"))
      val priors = train.groupBy("lang").agg(count(lit(1)).as("d_l"))
      val dTot = train.agg(count(lit(1)).as("d"))
      val occTe = test.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      val scored = occTe
        .crossJoin(broadcast(ct.select(col("lang").as("cand"), col("n_l"))))
        .join(cw.select(col("lang").as("cand"), col("word"), col("c_lw")),
          Seq("cand", "word"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("cand"),
          round(log((coalesce(col("c_lw"), lit(0L)) + 1).cast("double")
            / (col("n_l") + col("v")).cast("double")), 15)
            .cast(DecimalType(38, 15)).as("ll"))
        .groupBy("doc_id", "cand").agg(sum(col("ll")).as("loglik"))
      val withPrior = scored
        .join(broadcast(priors.select(col("lang").as("cand"), col("d_l"))), "cand")
        .crossJoin(broadcast(dTot))
        .withColumn("score", col("loglik")
          + round(log(col("d_l").cast("double") / col("d").cast("double")), 15)
            .cast(DecimalType(38, 15)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
      val pred = withPrior
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cand").as("pred"))
      test.select("doc_id", "lang")
        .join(pred, "doc_id")
        .withColumn("correct", col("lang") === col("pred"))
        .orderBy("doc_id")
    },
    Some("""WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
            te AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
            occ_tr AS (
              SELECT lang,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM tr),
            cw AS (SELECT lang, word, count(*) AS c_lw FROM occ_tr GROUP BY 1, 2),
            ct AS (SELECT lang, CAST(sum(c_lw) AS BIGINT) AS n_l FROM cw GROUP BY 1),
            v AS (SELECT count(DISTINCT word) AS v FROM cw),
            pr AS (SELECT lang, count(*) AS d_l FROM tr GROUP BY 1),
            dt AS (SELECT count(*) AS d FROM tr),
            occ_te AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM te),
            sc AS (
              SELECT o.doc_id, ct.lang AS cand,
                     sum(CAST(round(ln(
                         CAST(COALESCE(cw.c_lw, 0) + 1 AS DOUBLE)
                         / CAST(ct.n_l + v.v AS DOUBLE)), 15)
                       AS DECIMAL(38,15))) AS loglik
              FROM occ_te o CROSS JOIN ct CROSS JOIN v
              LEFT JOIN cw ON cw.lang = ct.lang AND cw.word = o.word
              GROUP BY 1, 2),
            scored AS (
              SELECT sc.doc_id, sc.cand,
                     sc.loglik + CAST(round(ln(
                         CAST(pr.d_l AS DOUBLE) / CAST(dt.d AS DOUBLE)), 15)
                       AS DECIMAL(38,15)) AS score
              FROM sc JOIN pr ON pr.lang = sc.cand CROSS JOIN dt),
            p AS (
              SELECT doc_id, cand,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand) AS rn
              FROM scored)
            SELECT t.doc_id, t.lang, p.cand AS pred, (t.lang = p.cand) AS correct
            FROM te t JOIN p ON p.doc_id = t.doc_id AND p.rn = 1
            ORDER BY t.doc_id"""))

  /** double nearest ln 2, written as a literal on BOTH engines — the two
    * libms are not guaranteed to agree on ln(2) at the last ulp, and the
    * q222 missing-mass term multiplies it into every score.
    */
  private val Ln2 = 0.6931471805599453

  /** Jensen–Shannon divergence of each source's token distribution
    * against the rest of the corpus — the SYMMETRIC, bounded ([0, ln 2])
    * complement to q102's KL (KL explodes on source-only words; JS
    * handles both supports natively, which is why corpus-drift monitors
    * prefer it). One (source × word) aggregate, the q102 plan shape.
    *
    * Closed form with the zero-support masses folded analytically: words
    * ABSENT from the source have m = q/2 exactly, so their total
    * contribution is ln 2 · Q_miss with Q_miss = 1 − Σ_present c_rest/n_rest
    * — exact integer arithmetic instead of a vocab-sized dense grid (the
    * same trick keeps the shuffle (source × present-word)-sized at any
    * corpus scale). Present-word terms round at 15 dp into DECIMAL(38,15)
    * sums (the q102 grid); the final assembly is a fixed IEEE sequence
    * with ln 2 as a shared literal.
    */
  private val q222 = GraftQuery(
    "q222_js_divergence",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val occ = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("word"))
      val sw = graft.operators.Components.cut(
        occ.groupBy("source", "word").agg(count(lit(1)).as("c_sw")))
      val srcTot = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
      val wTot = sw.groupBy("word").agg(sum("c_sw").as("c_w"))
      val tot = wTot.agg(sum("c_w").as("n"))
      val p = col("c_sw").cast("double") / col("n_s").cast("double")
      val q = col("c_r").cast("double") / col("n_r").cast("double")
      val m = (p + q) / 2.0
      sw
        .join(wTot, "word")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(tot))
        .withColumn("c_r", col("c_w") - col("c_sw"))
        .withColumn("n_r", col("n") - col("n_s"))
        .select(col("source"), col("n_s"), col("n_r"), col("c_r"),
          round(p * log(p / m), 15).cast(DecimalType(38, 15)).as("t_p"),
          round(when(col("c_r") > 0, q * log(q / m)).otherwise(lit(0.0)), 15)
            .cast(DecimalType(38, 15)).as("t_q"))
        .groupBy("source")
        .agg(
          first(col("n_s")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("t_p")).cast("double").as("sp"),
          sum(col("t_q")).cast("double").as("sq"),
          sum(col("c_r")).as("crs"),
          first(col("n_r")).as("nr"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          round(lit(0.5) * col("sp") + lit(0.5) * col("sq")
            + lit(0.5) * lit(Ln2)
              * ((col("nr").cast("double") - col("crs").cast("double"))
                / col("nr").cast("double")), 9).as("js"))
        .orderBy("source")
    },
    Some(s"""WITH occ AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            sw AS (SELECT source, word, count(*) AS c_sw FROM occ GROUP BY 1, 2),
            st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
            wt AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
            t AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM wt),
            rows_ AS (
              SELECT source, n_s, n - n_s AS n_r, c_w - c_sw AS c_r,
                     CAST(round(
                       (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                         * ln((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                           / (((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                               + (CAST(c_w - c_sw AS DOUBLE) / CAST(n - n_s AS DOUBLE))) / 2.0)), 15)
                       AS DECIMAL(38,15)) AS t_p,
                     CAST(round(CASE WHEN c_w - c_sw > 0 THEN
                       (CAST(c_w - c_sw AS DOUBLE) / CAST(n - n_s AS DOUBLE))
                         * ln((CAST(c_w - c_sw AS DOUBLE) / CAST(n - n_s AS DOUBLE))
                           / (((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                               + (CAST(c_w - c_sw AS DOUBLE) / CAST(n - n_s AS DOUBLE))) / 2.0))
                       ELSE 0.0 END, 15) AS DECIMAL(38,15)) AS t_q
              FROM sw JOIN wt USING (word) JOIN st USING (source) CROSS JOIN t)
            SELECT source,
                   CAST(any_value(n_s) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   round(0.5 * CAST(sum(t_p) AS DOUBLE)
                     + 0.5 * CAST(sum(t_q) AS DOUBLE)
                     + 0.5 * $Ln2
                       * ((CAST(any_value(n_r) AS DOUBLE) - CAST(sum(c_r) AS DOUBLE))
                         / CAST(any_value(n_r) AS DOUBLE)), 9) AS js
            FROM rows_ GROUP BY source ORDER BY source"""))

  /** Flesch–Kincaid grade level per document — the classic readability
    * score as a corpus-quality signal (alongside q16's ratio screens and
    * q203's language id). Heuristic syllables: vowel-group count per
    * word, floored at 1 (the standard dictionary-free approximation).
    * Entirely array-side per row — `transform`/`aggregate` over the
    * token array, zero shuffles before the display sort — so it scales
    * as one corpus scan. Integer counts are exact; the one double
    * formula runs per row with identical literal structure in both
    * engines, rounded at 6 dp.
    */
  private val q229 = GraftQuery(
    "q229_readability_fk",
    (s, dir) => {
      val toks = tokens(col("text"))
      val nWords = tokenCount(col("text")).cast("long")
      val nSent = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
      val nSyl = aggregate(toks, lit(0L), (acc, w) =>
        acc + greatest(lit(1L),
          size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))).cast("long")))
      Tables.documents(s, dir)
        .select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
          when(nWords === 0, lit(0L)).otherwise(nSyl).as("n_syllables"))
        .withColumn("fk_grade",
          when(col("n_words") === 0, lit(null).cast("double")).otherwise(
            round(lit(0.39) * (col("n_words").cast("double")
                / col("n_sentences").cast("double"))
              + lit(11.8) * (col("n_syllables").cast("double")
                / col("n_words").cast("double"))
              - lit(15.59), 6)))
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            w AS (SELECT doc_id, unnest(t) AS word FROM norm),
            syl AS (SELECT doc_id, count(*) AS n_words,
                           CAST(sum(greatest(1, len(regexp_extract_all(word, '[aeiouy]+')))) AS BIGINT) AS n_syllables
                    FROM w WHERE length(word) > 0 GROUP BY 1),
            base AS (SELECT n.doc_id,
                            coalesce(s.n_words, 0) AS n_words,
                            CAST(greatest(1, len(regexp_extract_all(n.text, '[.!?]+'))) AS BIGINT) AS n_sentences,
                            coalesce(s.n_syllables, 0) AS n_syllables
                     FROM norm n LEFT JOIN syl s USING (doc_id))
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words = 0 THEN NULL ELSE
                     round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                         + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
                         - 15.59, 6) END AS fk_grade
            FROM base ORDER BY doc_id"""))

  /** Vocabulary coverage curve — how many distinct words (by rank) cover
    * 50/90/99% of all token occurrences. The tokenizer-budget planning
    * number (vocab-size selection reads exactly this curve) and the
    * corpus-concentration complement to q116's Zipf slope / q121's Gini.
    * One corpus scan to the vocab-sized frequency table; the rank window
    * sorts VOCAB rows, never the corpus. Coverage shares are exact
    * BIGINT-cumsum / BIGINT-total divisions — identical IEEE doubles in
    * both engines, no rounding needed before the threshold compare.
    */
  private val q232 = GraftQuery(
    "q232_vocab_coverage",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val freq = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("word").asc)
      val ranked = freq
        .withColumn("rank", row_number().over(w))
        .withColumn("cum", sum(col("cnt"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = freq.agg(sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("vocab"))
      val th = Seq(0.5, 0.9, 0.99).toDF("threshold")
      ranked.crossJoin(broadcast(tot))
        .join(broadcast(th),
          col("cum").cast("double") / col("total_tokens").cast("double")
            >= col("threshold"))
        .groupBy("threshold")
        .agg(min(col("rank")).cast("long").as("words_needed"),
          max(col("vocab")).as("vocab"),
          max(col("total_tokens")).as("total_tokens"))
        .orderBy("threshold")
    },
    Some("""WITH occ AS (
              SELECT word FROM (
                SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
                FROM documents)
              WHERE length(word) > 0),
            freq AS (SELECT word, count(*) AS cnt FROM occ GROUP BY 1),
            ranked AS (
              SELECT word, cnt,
                     row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank,
                     sum(cnt) OVER (ORDER BY cnt DESC, word ASC
                                    ROWS UNBOUNDED PRECEDING) AS cum
              FROM freq),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
                           count(*) AS vocab FROM freq),
            th AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) t(threshold))
            SELECT threshold, CAST(min(rank) AS BIGINT) AS words_needed,
                   max(vocab) AS vocab, max(total_tokens) AS total_tokens
            FROM ranked CROSS JOIN tot
            JOIN th ON CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                         >= threshold
            GROUP BY 1 ORDER BY 1"""))

  /** Held-out bigram-LM perplexity quality filter (the CCNet scheme,
    * Wenzek et al. 2020): an add-½-smoothed bigram model TRAINS on the
    * even-doc_id half of the corpus (vocabulary = train words with
    * count ≥ 2, everything else → `<unk>`) and SCORES the odd half;
    * documents whose mean cross-entropy exceeds 7 nats are flagged as
    * low-quality. Differs from q109's in-corpus surprisal exactly where
    * a production filter must: the model is held-out (no self-scoring),
    * smoothing handles unseen bigrams AND unseen contexts (c_ctx = 0 →
    * P = 1/V), and OOV is an explicit vocabulary decision.
    *
    * Plan shape: one token explode feeds both halves; UNK mapping is a
    * vocab left join on the token key; bigrams come from a per-doc lag
    * window (doc-bounded partitions); scoring is two left joins against
    * the count tables on (w1, w2)/(w1). Determinism: the q103 contract —
    * per-bigram ln of an exact count ratio rounds at 15 dp onto the
    * DECIMAL(38,15) grid, per-doc CE rounds at 12 dp before the 7-nat
    * compare, the per-source mean divides exact decimal sums at the end.
    */
  def perplexityFilter(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), col("source"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
    val train = tok.filter(col("doc_id") % 2 === 0)
    val vocab = graft.operators.Components.cut(
      train.groupBy("word").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("word"))
    val vSize = vocab.agg((count(lit(1)) + 1).as("v"))
    val mapped = tok
      .join(vocab.withColumn("in_v", lit(1)), Seq("word"), "left")
      .select(col("doc_id"), col("source"), col("pos"),
        when(col("in_v").isNotNull, col("word")).otherwise(lit("<unk>")).as("mw"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bg = mapped
      .withColumn("w1", lag(col("mw"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("source"), col("w1"), col("mw").as("w2"))
    val cB = graft.operators.Components.cut(
      bg.filter(col("doc_id") % 2 === 0)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_b")))
    val cCtx = cB.groupBy("w1").agg(sum(col("c_b")).as("c_ctx"))
    val scored = bg.filter(col("doc_id") % 2 === 1)
      .join(cB, Seq("w1", "w2"), "left")
      .join(cCtx, Seq("w1"), "left")
      .crossJoin(broadcast(vSize))
      .select(col("doc_id"), col("source"),
        round(log(
          (coalesce(col("c_ctx"), lit(0L)).cast("double")
            + lit(0.5) * col("v").cast("double"))
            / (coalesce(col("c_b"), lit(0L)).cast("double") + lit(0.5))), 15)
          .cast(DecimalType(38, 15)).as("surp"))
    val perDoc = scored.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bg"), sum(col("surp")).as("s_surp"))
      .withColumn("ce",
        round(col("s_surp").cast("double") / col("n_bg").cast("double"), 12))
    perDoc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bg")).as("n_bigrams"),
        round(sum(col("s_surp")).cast("double")
          / sum(col("n_bg")).cast("double"), 9).as("mean_ce"),
        sum(when(col("ce") > 7.0, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("source")
  }

  private val q249 = GraftQuery(
    "q249_perplexity_filter",
    (s, dir) => perplexityFilter(Tables.documents(s, dir)),
    Some("""WITH norm AS (
              SELECT doc_id, source,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            tok AS (
              SELECT doc_id, source, unnest(t) AS word,
                     unnest(range(1, len(t) + 1)) AS pos
              FROM norm),
            vocab AS (
              SELECT word FROM tok WHERE doc_id % 2 = 0
              GROUP BY 1 HAVING count(*) >= 2),
            vs AS (SELECT count(*) + 1 AS v FROM vocab),
            mapped AS (
              SELECT t.doc_id, t.source, t.pos,
                     CASE WHEN v.word IS NOT NULL THEN t.word ELSE '<unk>' END AS mw
              FROM tok t LEFT JOIN vocab v ON t.word = v.word),
            bg AS (
              SELECT doc_id, source,
                     lag(mw) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                     mw AS w2
              FROM mapped),
            tb AS (SELECT w1, w2 FROM bg WHERE w1 IS NOT NULL AND doc_id % 2 = 0),
            cb AS (SELECT w1, w2, count(*) AS c_b FROM tb GROUP BY 1, 2),
            cctx AS (SELECT w1, sum(c_b) AS c_ctx FROM cb GROUP BY 1),
            scored AS (
              SELECT e.doc_id, e.source,
                     CAST(round(ln(
                       (CAST(coalesce(x.c_ctx, 0) AS DOUBLE)
                          + 0.5 * CAST(v.v AS DOUBLE))
                       / (CAST(coalesce(b.c_b, 0) AS DOUBLE) + 0.5)), 15)
                       AS DECIMAL(38,15)) AS surp
              FROM bg e
              LEFT JOIN cb b ON e.w1 = b.w1 AND e.w2 = b.w2
              LEFT JOIN cctx x ON e.w1 = x.w1
              CROSS JOIN vs v
              WHERE e.w1 IS NOT NULL AND e.doc_id % 2 = 1),
            pd AS (
              SELECT doc_id, source, count(*) AS n_bg, sum(surp) AS s_surp
              FROM scored GROUP BY 1, 2)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_bg) AS BIGINT) AS n_bigrams,
                   round(CAST(sum(s_surp) AS DOUBLE)
                     / CAST(sum(n_bg) AS DOUBLE), 9) AS mean_ce,
                   CAST(sum(CASE WHEN round(CAST(s_surp AS DOUBLE)
                       / CAST(n_bg AS DOUBLE), 12) > 7.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
            FROM pd GROUP BY source ORDER BY source"""))

  /** Graded-relevance retrieval evaluation: nDCG@10 (Järvelin &
    * Kekäläinen 2002) of 3-gram-overlap retrieval, one row per query doc
    * — the ranking-quality metric next to q120's AUC and q235's
    * calibration. Queries are the first 20 documents; candidates rank by
    * distinct word-3-gram overlap (df-capped inverted index, the
    * q104/q143 hub bound — 3-grams because this corpus's 31-word
    * vocabulary makes single-token overlap non-discriminative: every
    * word's df is ~80% of the corpus, while the 3-gram df median is 1);
    * graded relevance is 2 for same source + same lang, 1 for
    * same source, 0 otherwise. DCG weights 1/log₂(pos+1) are TEN driver-
    * computed double literals shared with the oracle (no engine log in
    * the hot path); IDCG comes closed-form from the query's (n_rel2,
    * n_rel1) census joined to the same weight table — the ideal ranking
    * is a counting argument, never a second sort. Gain terms round onto
    * the 15 dp grid before the order-free sum; nDCG rounds at 12.
    */
  private val NdcgK = 10
  private val NdcgDfCap = 100
  private def ndcgWeights: Seq[(Int, Double)] =
    (1 to NdcgK).map(p => (p, 1.0 / (math.log(p + 1.0) / math.log(2.0))))

  private val q251 = GraftQuery(
    "q251_ndcg_retrieval",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val occ = docs
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 2), i -> t[i-1] || ' ' || t[i] || ' ' || t[i+1])"))
          .as("word"))
        .distinct()
      val df = occ.groupBy("word").agg(count(lit(1)).as("df"))
        .filter(col("df") <= NdcgDfCap)
      val occF = occ.join(df.select("word"), "word")
      val qocc = occF.filter(col("doc_id") < 20)
        .select(col("doc_id").as("q_id"), col("word"))
      val overlap = qocc
        .join(occF.select(col("doc_id").as("d_id"), col("word")), "word")
        .filter(col("d_id") =!= col("q_id"))
        .groupBy("q_id", "d_id")
        .agg(count(lit(1)).as("overlap"))
      val meta = docs.select(col("doc_id"), col("source"), col("lang"))
      val qmeta = meta.select(col("doc_id").as("q_id"),
        col("source").as("q_src"), col("lang").as("q_lang"))
      val dmeta = meta.select(col("doc_id").as("d_id"),
        col("source").as("d_src"), col("lang").as("d_lang"))
      val wdf = broadcast(ndcgWeights.toDF("pos", "wt"))
      val ranked = overlap
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("overlap").desc, col("d_id"))))
        .filter(col("pos") <= NdcgK)
        .join(broadcast(qmeta.filter(col("q_id") < 20)), "q_id").join(dmeta, "d_id")
        .withColumn("rel",
          when(col("d_src") === col("q_src") && col("d_lang") === col("q_lang"), 2)
            .when(col("d_src") === col("q_src"), 1).otherwise(0))
        .join(wdf, "pos")
      val dcg = ranked.groupBy("q_id")
        .agg(graft.functions.Exact.sumFx(
          (pow(lit(2.0), col("rel").cast("double")) - 1.0) * col("wt"), 15).as("dcg"))
      // ideal ranking by counting: rel-2 docs fill the head, rel-1 next
      // (query side filtered BEFORE the relevance cross pairing — 20 rows
      // broadcast against the corpus, never docs × docs)
      val relCensus = broadcast(qmeta.filter(col("q_id") < 20))
        .join(dmeta, col("d_id") =!= col("q_id"))
        .select(col("q_id"),
          when(col("d_src") === col("q_src") && col("d_lang") === col("q_lang"), 2)
            .when(col("d_src") === col("q_src"), 1).otherwise(0).as("rel"))
        .groupBy("q_id")
        .agg(
          sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
      val idcg = relCensus.crossJoin(wdf)
        .withColumn("irel",
          when(col("pos") <= col("n2"), 2)
            .when(col("pos") <= col("n2") + col("n1"), 1).otherwise(0))
        .groupBy("q_id")
        .agg(graft.functions.Exact.sumFx(
          (pow(lit(2.0), col("irel").cast("double")) - 1.0) * col("wt"), 15).as("idcg"))
      dcg.join(idcg, "q_id")
        .select(col("q_id").as("doc_id"),
          round(col("dcg"), 9).as("dcg"),
          round(col("idcg"), 9).as("idcg"),
          when(col("idcg") > 0.0, round(col("dcg") / col("idcg"), 12)).as("ndcg"))
        .orderBy("doc_id")
    },
    Some {
      val wvals = ndcgWeights.map { case (p, w) => s"($p, $w)" }.mkString(", ")
      s"""WITH norm AS (
            SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
            FROM documents),
          occ AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS word
            FROM norm, unnest(range(1, len(t) - 1)) AS u(i)),
          df AS (SELECT word FROM occ GROUP BY 1 HAVING count(*) <= $NdcgDfCap),
          occf AS (SELECT o.doc_id, o.word FROM occ o JOIN df USING (word)),
          ovl AS (
            SELECT q.doc_id AS q_id, d.doc_id AS d_id, count(*) AS overlap
            FROM occf q JOIN occf d ON q.word = d.word AND d.doc_id <> q.doc_id
            WHERE q.doc_id < 20 GROUP BY 1, 2),
          w(pos, wt) AS (VALUES $wvals),
          ranked AS (
            SELECT o.q_id, o.d_id, o.pos, w.wt,
                   CASE WHEN dd.source = qd.source AND dd.lang = qd.lang THEN 2
                        WHEN dd.source = qd.source THEN 1 ELSE 0 END AS rel
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY overlap DESC, d_id) AS pos FROM ovl) o
            JOIN w ON o.pos = w.pos
            JOIN documents qd ON qd.doc_id = o.q_id
            JOIN documents dd ON dd.doc_id = o.d_id
            WHERE o.pos <= $NdcgK),
          dcg AS (
            SELECT q_id,
                   ${graft.functions.Exact.sumFxSql("(pow(2.0, CAST(rel AS DOUBLE)) - 1.0) * wt", 15)} AS dcg
            FROM ranked GROUP BY 1),
          cen AS (
            SELECT qd.doc_id AS q_id,
                   CAST(sum(CASE WHEN dd.source = qd.source AND dd.lang = qd.lang
                     THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN dd.source = qd.source AND dd.lang = qd.lang
                     THEN 0 WHEN dd.source = qd.source THEN 1 ELSE 0 END) AS BIGINT) AS n1
            FROM documents qd JOIN documents dd ON dd.doc_id <> qd.doc_id
            WHERE qd.doc_id < 20 GROUP BY 1),
          idcg AS (
            SELECT q_id,
                   ${graft.functions.Exact.sumFxSql(
                     "(pow(2.0, CAST(CASE WHEN pos <= n2 THEN 2 WHEN pos <= n2 + n1 THEN 1 ELSE 0 END AS DOUBLE)) - 1.0) * wt",
                     15)}
                     AS idcg
            FROM cen CROSS JOIN w GROUP BY 1)
          SELECT d.q_id AS doc_id,
                 round(d.dcg, 9) AS dcg, round(i.idcg, 9) AS idcg,
                 CASE WHEN i.idcg > 0.0 THEN round(d.dcg / i.idcg, 12) END AS ndcg
          FROM dcg d JOIN idcg i USING (q_id)
          ORDER BY doc_id"""
    })

  /** Positional phrase search — exact-phrase retrieval ("table hash")
    * from positional postings: the two words' posting lists join on
    * (doc, adjacent position), so the work is bounded by the PHRASE
    * WORDS' document frequencies, never the corpus (the standard
    * positional-inverted-index argument; a 100 TB run shuffles only the
    * queried terms' postings). Positions are 1-based on both engines.
    */
  private val q252 = GraftQuery(
    "q252_phrase_search",
    (s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos0", "word")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("word"))
      val a = tok.filter(col("word") === "table").select(col("doc_id"), col("pos"))
      val b = tok.filter(col("word") === "hash")
        .select(col("doc_id"), col("pos").as("pos2"))
      a.join(b, a("doc_id") === b("doc_id") && col("pos2") === col("pos") + 1)
        .select(a("doc_id"), col("pos"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            tok AS (
              SELECT doc_id, unnest(t) AS word, unnest(range(1, len(t) + 1)) AS pos
              FROM norm),
            a AS (SELECT doc_id, pos FROM tok WHERE word = 'table'),
            b AS (SELECT doc_id, pos FROM tok WHERE word = 'hash')
            SELECT a.doc_id, count(*) AS n_matches,
                   CAST(min(a.pos) AS BIGINT) AS first_pos
            FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            GROUP BY 1 ORDER BY 1"""))

  /** Chao1 unseen-vocabulary estimate (Chao 1984, bias-corrected form) —
    * per source: how many word types the sample has NOT yet seen, from
    * the frequency-of-frequencies census (V observed types, F1
    * singletons, F2 doubletons → V̂ = V + F1(F1−1)/(2(F2+1)), defined
    * even when F2 = 0). The "is more data worth crawling" number a
    * corpus-collection pipeline reads next to q232's coverage curve.
    * Two hash aggregates (word counts → frequency census), exact
    * integers end-to-end, one closed form at 9 dp.
    */
  private val q265 = GraftQuery(
    "q265_chao1_vocab",
    (s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("word"))
        .groupBy("source", "word").agg(count(lit(1)).as("c"))
      wc.groupBy("source")
        .agg(
          count(lit(1)).as("v_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("source"), col("v_obs"), col("f1"), col("f2"),
          round(col("v_obs").cast("double")
            + col("f1").cast("double") * (col("f1") - 1).cast("double")
            / (lit(2.0) * (col("f2") + 1).cast("double")), 9).as("chao1"))
        .orderBy("source")
    },
    Some("""WITH wc AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            cnt AS (SELECT source, word, count(*) AS c FROM wc GROUP BY 1, 2)
            SELECT source, count(*) AS v_obs,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
                   round(CAST(count(*) AS DOUBLE)
                     + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       * CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE)
                       / (2.0 * CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1 AS DOUBLE)),
                     9) AS chao1
            FROM cnt GROUP BY source ORDER BY source"""))

  /** Heaps'-law exponent fit (Heaps 1978): V = K·Nᵝ estimated by OLS on
    * the per-source (ln N, ln V) points — the vocabulary-growth constant
    * that, with q116's Zipf slope, characterizes the corpus's lexical
    * statistics. The regression runs over the SOURCE census (one point
    * per source); per-point logs round at 15 dp onto the decimal grid
    * (the q103 ln contract) so the moment sums replay exactly, and the
    * closed-form slope/intercept/R² are one shared IEEE sequence at 9 dp.
    */
  private val q266 = GraftQuery(
    "q266_heaps_law_fit",
    (s, dir) => {
      val dec = DecimalType(38, 15)
      val cen = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("word"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("v_types"))
      val pts = cen.select(
        round(log(col("n_tokens").cast("double")), 15).cast(dec).as("x"),
        round(log(col("v_types").cast("double")), 15).cast(dec).as("y"))
      // products as 15dp-rounded DOUBLE products, not decimal×decimal —
      // a (38,15)×(38,15) multiply overflows precision 38 and Spark's
      // precision-loss adjustment silently truncates the scale to 6
      def prod(a: String, b: String) =
        round(col(a).cast("double") * col(b).cast("double"), 15).cast(dec)
      val m = pts.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(prod("x", "x")).as("sxx"),
        sum(prod("x", "y")).as("sxy"),
        sum(prod("y", "y")).as("syy"))
      val n = col("n").cast("double")
      def d(c: String) = col(c).cast("double")
      val beta = (n * d("sxy") - d("sx") * d("sy")) / (n * d("sxx") - d("sx") * d("sx"))
      val alpha = (d("sy") - beta * d("sx")) / n
      val r2num = (n * d("sxy") - d("sx") * d("sy"))
      val r2 = r2num * r2num /
        ((n * d("sxx") - d("sx") * d("sx")) * (n * d("syy") - d("sy") * d("sy")))
      m.select(col("n").as("n_sources"),
        round(beta, 9).as("heaps_beta"),
        round(alpha, 9).as("heaps_ln_k"),
        round(r2, 9).as("r_squared"))
    },
    Some("""WITH wc AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            cen AS (SELECT source, count(*) AS n_tokens,
                           count(DISTINCT word) AS v_types
                    FROM wc GROUP BY 1),
            pts AS (SELECT CAST(round(ln(CAST(n_tokens AS DOUBLE)), 15) AS DECIMAL(38,15)) AS x,
                           CAST(round(ln(CAST(v_types AS DOUBLE)), 15) AS DECIMAL(38,15)) AS y
                    FROM cen),
            m AS (SELECT count(*) AS n,
                         sum(x) AS sx, sum(y) AS sy,
                         sum(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 15)
                           AS DECIMAL(38,15))) AS sxx,
                         sum(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 15)
                           AS DECIMAL(38,15))) AS sxy,
                         sum(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 15)
                           AS DECIMAL(38,15))) AS syy
                  FROM pts)
            SELECT n AS n_sources,
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9) AS heaps_beta,
                   round(((CAST(sy AS DOUBLE)
                       - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)), 9) AS heaps_ln_k,
                   round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9) AS r_squared
            FROM m"""))

  /** Good–Turing frequency smoothing (Good 1953) — the missing-mass
    * estimator beside q265's Chao1 (how many word TYPES are unseen) and
    * q249's bigram LM (which would consume these smoothed counts): for
    * each low count r, the adjusted count r* = (r+1)·N_{r+1}/N_r, the
    * unseen-probability mass P₀ = N₁/N, and each count class's smoothed
    * share of the distribution — the quantities an n-gram LM or
    * coverage model needs before trusting raw counts.
    *
    * Scale: ONE token-count shuffle over the corpus (the q265 pass),
    * then a freq-of-frequencies aggregate whose output is bounded by
    * the distinct COUNT VALUES ≤ 6 kept here — the r-table join and all
    * arithmetic are census-sized. Determinism: every input is an
    * integer census cell; divisions are correctly-rounded IEEE doubles
    * in the same association order, r* rounds at 12 and the smoothed
    * mass derives from the ROUNDED r* (round-before-derive, q216).
    */
  private val q270 = GraftQuery(
    "q270_good_turing",
    (s, dir) => {
      import s.implicits._
      val wc = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
      val ff = wc.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      val tot = wc.agg(
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"))
      val rows = (0 to 5).map(_.toLong).toDF("r")
        .join(ff, Seq("r"), "left")
        .join(ff.select((col("r") - 1).as("r"), col("n_r").as("n_next")),
          Seq("r"), "left")
        .crossJoin(broadcast(tot))
      val nD = col("n_tokens").cast("double")
      val rStar = when(col("r") > 0 && coalesce(col("n_r"), lit(0L)) > 0,
        round((col("r") + 1).cast("double")
          * coalesce(col("n_next"), lit(0L)).cast("double")
          / col("n_r").cast("double"), 12))
      rows.select(
          col("r"),
          coalesce(col("n_r"), lit(0L)).as("n_r"),
          coalesce(col("n_next"), lit(0L)).as("n_next"),
          rStar.as("r_star"),
          when(col("r") === 0, round(col("f1").cast("double") / nD, 12))
            .otherwise(when(rStar.isNotNull,
              round(coalesce(col("n_r"), lit(0L)).cast("double") * rStar / nD, 12)))
            .as("gt_mass"))
        .orderBy("r")
    },
    Some("""WITH wc AS (
              SELECT word, count(*) AS c FROM (
                SELECT unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
                FROM documents)
              GROUP BY 1),
            ff AS (SELECT c AS r, count(*) AS n_r FROM wc GROUP BY 1),
            tot AS (SELECT sum(c) AS n_tokens,
                           sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1
                    FROM wc),
            rt(r) AS (VALUES (0), (1), (2), (3), (4), (5)),
            m AS (
              SELECT CAST(rt.r AS BIGINT) AS r,
                     coalesce(f.n_r, 0) AS n_r,
                     coalesce(fn.n_r, 0) AS n_next,
                     t.n_tokens, t.f1
              FROM rt
              LEFT JOIN ff f ON f.r = rt.r
              LEFT JOIN ff fn ON fn.r = rt.r + 1
              CROSS JOIN tot t),
            st AS (
              SELECT r, CAST(n_r AS BIGINT) AS n_r, CAST(n_next AS BIGINT) AS n_next,
                     CASE WHEN r > 0 AND n_r > 0
                       THEN round(CAST(r + 1 AS DOUBLE) * CAST(n_next AS DOUBLE)
                         / CAST(n_r AS DOUBLE), 12) END AS r_star,
                     n_tokens, f1
              FROM m)
            SELECT r, n_r, n_next, r_star,
                   CASE WHEN r = 0
                        THEN round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 12)
                        WHEN r_star IS NOT NULL
                        THEN round(CAST(n_r AS DOUBLE) * r_star
                          / CAST(n_tokens AS DOUBLE), 12)
                   END AS gt_mass
            FROM st ORDER BY r"""))

  /** Classifier evaluation of the q17 language-ID heuristic against the
    * labeled `lang` column — per-class precision/recall/F1 plus the
    * macro average: the eval harness a pipeline runs before trusting a
    * cheap classifier to route 100 TB (q17 emits predictions; nothing
    * graded them until now). Zero-denominator classes score 0.0 (the
    * standard zero-division=0 macro-F1 convention), so a class the
    * predictor never emits still drags the macro down instead of
    * vanishing.
    *
    * Scale: ONE (labeled, predicted) census aggregate over the corpus;
    * per-class tp/fp/fn unfold from the census's row/column marginals
    * (class-count-sized FULL join), never a second corpus pass.
    * Determinism: integer census cells; precision/recall round at 12,
    * F1 derives from the ROUNDED p/r, the macro rides an exact decimal
    * sum of the 12 dp F1 grid (q216 round-before-derive throughout).
    */
  private val q274 = GraftQuery(
    "q274_langid_eval",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // fan out the 1-task scan before the per-doc language-id expression
      // (compute-dense; see Tables.widen)
      val preds = graft.Tables
        .widen(Tables.documents(s, dir).select(col("lang"), col("text")))
        .select(
          col("lang").as("lab"),
          graft.functions.TextFunctions.languageId(col("text")).as("pred"))
      val byPair = preds.groupBy("lab", "pred").agg(count(lit(1)).as("cnt"))
      val predAgg = byPair.groupBy(col("pred").as("cls")).agg(
        sum(col("cnt")).as("n_pred"),
        sum(when(col("lab") === col("pred"), col("cnt")).otherwise(0L)).as("tp_p"))
      val labAgg = byPair.groupBy(col("lab").as("cls")).agg(
        sum(col("cnt")).as("n_lab"))
      val cls = predAgg.join(labAgg, Seq("cls"), "full_outer")
        .select(col("cls"),
          coalesce(col("tp_p"), lit(0L)).as("tp"),
          (coalesce(col("n_pred"), lit(0L)) - coalesce(col("tp_p"), lit(0L))).as("fp"),
          (coalesce(col("n_lab"), lit(0L)) - coalesce(col("tp_p"), lit(0L))).as("fn"))
      val p = when(col("tp") + col("fp") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fp")).cast("double"), 12))
        .otherwise(lit(0.0))
      val r = when(col("tp") + col("fn") > 0,
        round(col("tp").cast("double") / (col("tp") + col("fn")).cast("double"), 12))
        .otherwise(lit(0.0))
      val scored = cls.select(col("cls"), col("tp"), col("fp"), col("fn"),
          p.as("precision"), r.as("recall"))
        .withColumn("f1",
          when(col("precision") + col("recall") > 0,
            round(lit(2.0) * col("precision") * col("recall")
              / (col("precision") + col("recall")), 12)).otherwise(lit(0.0)))
      val macroRow = scored.agg(
          sum(col("tp")).as("tp"), sum(col("fp")).as("fp"), sum(col("fn")).as("fn"),
          round(sum(col("precision").cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 12).as("precision"),
          round(sum(col("recall").cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 12).as("recall"),
          round(sum(col("f1").cast(DecimalType(38, 12))).cast("double")
            / count(lit(1)), 12).as("f1"))
        .select(lit("__macro__").as("cls"), col("tp"), col("fp"), col("fn"),
          col("precision"), col("recall"), col("f1"))
      scored.unionByName(macroRow).orderBy("cls")
    },
    Some("""WITH t AS (
              SELECT doc_id, lang AS lab, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            s AS (
              SELECT *,
                len(list_filter(toks, x -> list_contains(
                  ['the','a','of','and','in','is','to','it','that','for'], x))) AS s_en,
                len(list_filter(toks, x -> list_contains(
                  ['der','die','das','und','ist','nicht','ein','eine','mit','zu'], x))) AS s_de,
                len(list_filter(toks, x -> list_contains(
                  ['le','la','les','et','est','une','un','des','que','pas'], x))) AS s_fr,
                len(list_filter(toks, x -> list_contains(
                  ['el','los','y','es','una','un','las','que','por','con'], x))) AS s_es
              FROM t),
            preds AS (
              SELECT lab,
                   CASE WHEN text IS NULL THEN 'und'
                        WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
                        WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS pred
              FROM s),
            bp AS (SELECT lab, pred, count(*) AS cnt FROM preds GROUP BY 1, 2),
            pa AS (SELECT pred AS cls, sum(cnt) AS n_pred,
                          sum(CASE WHEN lab = pred THEN cnt ELSE 0 END) AS tp_p
                   FROM bp GROUP BY 1),
            la AS (SELECT lab AS cls, sum(cnt) AS n_lab FROM bp GROUP BY 1),
            cls AS (
              SELECT coalesce(pa.cls, la.cls) AS cls,
                     CAST(coalesce(tp_p, 0) AS BIGINT) AS tp,
                     CAST(coalesce(n_pred, 0) - coalesce(tp_p, 0) AS BIGINT) AS fp,
                     CAST(coalesce(n_lab, 0) - coalesce(tp_p, 0) AS BIGINT) AS fn
              FROM pa FULL JOIN la ON pa.cls = la.cls),
            pr AS (
              SELECT cls, tp, fp, fn,
                     CASE WHEN tp + fp > 0
                       THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 12)
                       ELSE 0.0 END AS precision,
                     CASE WHEN tp + fn > 0
                       THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 12)
                       ELSE 0.0 END AS recall
              FROM cls),
            f AS (
              SELECT *, CASE WHEN precision + recall > 0
                          THEN round(2.0 * precision * recall / (precision + recall), 12)
                          ELSE 0.0 END AS f1
              FROM pr)
            SELECT * FROM (
              SELECT cls, tp, fp, fn, precision, recall, f1 FROM f
              UNION ALL
              SELECT '__macro__' AS cls,
                     CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT), CAST(sum(fn) AS BIGINT),
                     round(CAST(sum(CAST(precision AS DECIMAL(38,12))) AS DOUBLE) / count(*), 12),
                     round(CAST(sum(CAST(recall AS DECIMAL(38,12))) AS DOUBLE) / count(*), 12),
                     round(CAST(sum(CAST(f1 AS DECIMAL(38,12))) AS DOUBLE) / count(*), 12)
              FROM f)
            ORDER BY cls"""))

  /** Token↔source mutual information (top tokens): how much knowing a
    * token tells you about which source emitted it — I(w) = Σ_s p(w,s) ·
    * ln[p(w,s)/(p(w)p(s))], the information-gain ranking behind
    * feature selection for source/domain classifiers (and the additive
    * sibling of q132's χ² association test: χ² asks "is the deviation
    * significant", MI asks "how many nats does the feature carry").
    * Reported in nats, top 20 tokens by contribution.
    *
    * Scale: one token-count shuffle to the (w, source) census, then all
    * arithmetic on census rows (vocab × |sources|) with the source
    * marginals broadcast; the top-20 cut is a vocab-bounded sort.
    * Determinism: counts are exact integers; each ln ratio rounds at 12
    * dp (libm envelope) before the p-weighted product; the per-token sum
    * across sources rides the order-free fixed-point sum at 15; the cut
    * orders by the ROUNDED mi then token (round-before-argmax).
    */
  private val q280 = GraftQuery(
    "q280_token_source_mi",
    (s, dir) => {
      val occ = Tables.documents(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val ws = occ.groupBy("w", "source").agg(count(lit(1)).as("n_ws"))
      val wTot = occ.groupBy("w").agg(count(lit(1)).as("n_w"))
      val sTot = occ.groupBy("source").agg(count(lit(1)).as("n_s"))
      val nTot = occ.agg(count(lit(1)).as("n"))
      val term = (col("n_ws").cast("double") / col("n").cast("double")) *
        round(log(col("n_ws").cast("double") * col("n").cast("double") /
          (col("n_w").cast("double") * col("n_s").cast("double"))), 12)
      ws.join(wTot, "w").join(broadcast(sTot), "source")
        .crossJoin(broadcast(nTot))
        .select(col("w"), col("n_w"), term.as("term"))
        .groupBy("w", "n_w")
        .agg(graft.functions.Exact.sumFx(col("term"), 15).as("mi0"))
        .select(col("w"), col("n_w"), round(col("mi0"), 12).as("mi_nats"))
        .orderBy(col("mi_nats").desc, col("w"))
        .limit(20)
    },
    Some(s"""WITH occ AS (
              SELECT source,
                     unnest(string_split(lower(trim(regexp_replace(text,
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ')) AS w
              FROM documents),
            occf AS (SELECT source, w FROM occ WHERE w <> ''),
            ws AS (SELECT w, source, count(*) AS n_ws FROM occf GROUP BY 1, 2),
            wt AS (SELECT w, count(*) AS n_w FROM occf GROUP BY 1),
            st AS (SELECT source, count(*) AS n_s FROM occf GROUP BY 1),
            nt AS (SELECT count(*) AS n FROM occf),
            terms AS (
              SELECT ws.w, CAST(wt.n_w AS BIGINT) AS n_w,
                     (CAST(n_ws AS DOUBLE) / CAST(n AS DOUBLE))
                       * round(ln(CAST(n_ws AS DOUBLE) * CAST(n AS DOUBLE)
                           / (CAST(wt.n_w AS DOUBLE) * CAST(n_s AS DOUBLE))), 12)
                       AS term
              FROM ws JOIN wt USING (w) JOIN st USING (source) CROSS JOIN nt),
            mi AS (
              SELECT w, n_w,
                     round(${graft.functions.Exact.sumFxSql("term", 15)}, 12)
                       AS mi_nats
              FROM terms GROUP BY 1, 2)
            SELECT w, n_w, mi_nats FROM mi
            ORDER BY mi_nats DESC, w LIMIT 20"""))

  def all: Seq[GraftQuery] =
    Seq(q13, q14, q15, q16, q17, q54, q95, q98, q102, q103, q104, q109, q113,
      q115, q116, q121, q125, q129, q139, q145, q151, q164, q169, q196, q197,
      q203, q222, q229, q232, q249, q251, q252, q265, q266, q270, q274, q280)
}
