package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions
import graft.operators.Curation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data curation surface (driver north star §2b): data mixing
  * (stratified sampling), eval decontamination, and PII scrubbing — each
  * with a bit-exact DuckDB oracle.
  */
object CurationQueries {

  /** Deterministic stratified sample of events — the data-mixing stage
    * ("keep 5% of views, 20% of clicks, all purchases, half of signups,
    * no errors"). The sampling gate here is integer arithmetic (so DuckDB
    * computes the identical gate); production uses the xxhash64 gate
    * ([[Curation.uniformFromHash]], spec-covered) — same operator, better
    * mixing.
    */
  private val q50 = GraftQuery(
    "q50_stratified_sample",
    (s, dir) => {
      val rates = Map(
        "view" -> 0.05, "click" -> 0.2, "purchase" -> 1.0, "signup" -> 0.5)
      val gate = (((col("event_id") % 100003) * 31 + 7) % 10000)
        .cast("double") / lit(10000.0)
      Curation.stratifiedSample(Tables.events(s, dir), "event_type", rates, gate)
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type, user_id FROM events
            WHERE ((event_id % 100003) * 31 + 7) % 10000 / 10000.0 <
              CASE event_type
                WHEN 'view' THEN 0.05 WHEN 'click' THEN 0.2
                WHEN 'purchase' THEN 1.0 WHEN 'signup' THEN 0.5
                ELSE 0.0 END
            ORDER BY event_id"""))

  /** Eval-decontamination: documents sharing ≥ 3 distinct word 3-grams
    * with the "benchmark" slice (doc_id % 20 = 0 stands in for a held-out
    * eval set) are dropped from the training corpus; survivors returned.
    */
  private val q51 = GraftQuery(
    "q51_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.decontaminate(
        corpus = docs.filter(col("doc_id") % 20 =!= 0),
        blocklist = docs.filter(col("doc_id") % 20 === 0),
        n = 3, minShared = 3)
        .select("doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM norm WHERE len(t) >= 3),
            bl AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
            contaminated AS (
              SELECT doc_id FROM sh JOIN bl USING (s)
              WHERE doc_id % 20 <> 0
              GROUP BY doc_id HAVING count(*) >= 3)
            SELECT doc_id FROM documents
            WHERE doc_id % 20 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)
            ORDER BY doc_id"""))

  /** PII scrubbing: deterministic synthetic PII (email, IP, phone derived
    * from doc_id) is appended to each document, then redacted; the oracle
    * builds the identical dirty text and applies the identical replacement
    * chain, so any pattern/order divergence is a hash mismatch.
    */
  private val q52 = GraftQuery(
    "q52_pii_redaction",
    (s, dir) => {
      val dirty = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +44 20 79"), (col("doc_id") % 100).cast("string"),
        lit(" host 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.redactPii(dirty).as("clean_text"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +44 20 79' || CAST(doc_id % 100 AS VARCHAR)
                      || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7',
                 '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
                 '${TextFunctions.Ipv4Re}', '<IP>', 'g'),
                 '${TextFunctions.PhoneRe}', '<PHONE>', 'g') AS clean_text
             FROM documents ORDER BY doc_id"""))

  /** Gopher-style repetitive-document filter: duplicate-word fraction,
    * most-common-bigram fraction, and duplicate-character fraction, each
    * from one pass of the native [[graft.expressions.RepetitionStats]]
    * scalar (no shuffle — the relational formulation would pay two full
    * shuffles of the exploded corpus). Thresholds are adapted to this
    * synthetic corpus's tiny vocabulary (Gopher's originals are tuned for
    * web text); the shape — compute fractions, gate on them — is the
    * production operator. Fractions round to 12 dp on both sides before
    * the gate so IEEE 1-ulp divide differences can't flip `keep`.
    */
  private val q53 = GraftQuery(
    "q53_repetition_filter",
    (s, dir) => {
      val st = graft.expressions.RepetitionStats
        .repetitionStats(TextFunctions.tokens(col("text")))
      val dupWord = coalesce(round(lit(1.0)
        - col("st.distinct_words").cast("double")
          / nullif(col("st.total_words"), lit(0)).cast("double"), 12), lit(0.0))
      val topBigram = coalesce(round(col("st.top_bigram").cast("double")
        / nullif(col("st.total_words") - lit(1), lit(0)).cast("double"), 12), lit(0.0))
      val dupChar = coalesce(round(col("st.dup_chars").cast("double")
        / nullif(col("st.total_chars"), lit(0L)).cast("double"), 12), lit(0.0))
      Tables.documents(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(
          col("doc_id"),
          col("st.total_words").cast("long").as("total_words"),
          col("st.distinct_words").cast("long").as("distinct_words"),
          dupWord.as("dup_word_frac"),
          topBigram.as("top_bigram_frac"),
          dupChar.as("dup_char_frac"))
        .withColumn("keep",
          col("dup_word_frac") <= 0.6 && col("top_bigram_frac") <= 0.08)
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            words AS (SELECT doc_id, unnest(toks) AS word FROM norm),
            stats AS (
              SELECT doc_id, count(*) AS total_words,
                     count(DISTINCT word) AS distinct_words,
                     sum(len(word)) AS total_chars
              FROM words GROUP BY doc_id),
            wc AS (SELECT doc_id, word, count(*) AS c, len(word) AS l
                   FROM words GROUP BY doc_id, word),
            dc AS (SELECT doc_id, sum((c-1)*l) AS dup_chars
                   FROM wc WHERE c > 1 GROUP BY doc_id),
            bg AS (SELECT doc_id,
                          unnest([toks[i] || ' ' || toks[i+1]
                                  for i in generate_series(1, len(toks)-1)]) AS b
                   FROM norm WHERE len(toks) >= 2),
            bt AS (SELECT doc_id, max(c) AS top_bigram FROM
                     (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
                   GROUP BY doc_id),
            m AS (
              SELECT stats.doc_id, total_words, distinct_words,
                     COALESCE(round(1.0 - CAST(distinct_words AS DOUBLE)
                       / NULLIF(total_words, 0), 12), 0.0) AS dup_word_frac,
                     COALESCE(round(CAST(COALESCE(top_bigram, 0) AS DOUBLE)
                       / NULLIF(total_words - 1, 0), 12), 0.0) AS top_bigram_frac,
                     COALESCE(round(CAST(COALESCE(dup_chars, 0) AS DOUBLE)
                       / NULLIF(total_chars, 0), 12), 0.0) AS dup_char_frac
              FROM stats LEFT JOIN dc USING (doc_id) LEFT JOIN bt USING (doc_id))
            SELECT doc_id,
                   CAST(total_words AS BIGINT) AS total_words,
                   CAST(distinct_words AS BIGINT) AS distinct_words,
                   dup_word_frac, top_bigram_frac, dup_char_frac,
                   (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.08) AS keep
            FROM m ORDER BY doc_id"""))

  /** Training-sequence packing (concat-and-chunk): documents laid
    * head-to-tail in doc_id order on a token tape cut every 2048 tokens.
    * Runs the distributed two-phase prefix scan
    * ([[graft.operators.Packing.prefixSum]]) — range repartition,
    * per-partition totals to the driver, broadcast base offsets,
    * within-partition window — never a global single-task window. All
    * integer arithmetic, so the oracle (a plain exclusive window sum) is
    * bit-exact.
    */
  private val q55 = GraftQuery(
    "q55_sequence_packing",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.packBins(docs, "doc_id", "n_tokens", 2048L)
        .withColumnRenamed("offset", "tape_offset")
        .select("doc_id", "n_tokens", "tape_offset", "bin_id", "bin_pos")
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0 THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) END AS BIGINT) AS n_tokens
              FROM documents),
            p AS (
              SELECT doc_id, n_tokens,
                     COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tape_offset
              FROM d)
            SELECT doc_id, n_tokens, CAST(tape_offset AS BIGINT) AS tape_offset,
                   CAST(tape_offset // 2048 AS BIGINT) AS bin_id,
                   CAST(tape_offset % 2048 AS BIGINT) AS bin_pos
            FROM p ORDER BY doc_id"""))

  /** Overlapping token-window chunking (size 64, stride 48 ⇒ 16-token
    * overlap) — the RAG / long-context prep step. Pure narrow ops:
    * `sequence` generates chunk starts, `explode` fans out, `slice` +
    * `concat_ws` rebuild chunk text; no shuffle before the final ORDER BY,
    * so the operator is embarrassingly parallel at any corpus size.
    */
  private val q58 = GraftQuery(
    "q58_doc_chunking",
    (s, dir) => {
      val size64 = 64
      val stride = 48
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("start",
          explode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride))))
        .select(
          col("doc_id"),
          expr(s"start div $stride").cast("long").as("chunk_id"),
          size(slice(col("toks"), col("start") + 1, lit(size64)))
            .cast("long").as("n_chunk_tokens"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(size64)))
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 1, 48)) AS start
              FROM norm)
            SELECT doc_id,
                   CAST(start // 48 AS BIGINT) AS chunk_id,
                   CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS n_chunk_tokens,
                   array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text
            FROM c ORDER BY doc_id, chunk_id"""))

  /** Curriculum binning: documents ranked corpus-wide by quality and cut
    * into 10 equal-frequency bins (train easy→hard schedules, quality-
    * tiered mixing). The global rank is the distributed two-phase prefix
    * scan over a (quality, doc_id) composite order — row_number without a
    * single-task global window; the corpus count arrives by broadcast, so
    * nothing collects to the driver.
    */
  private val q64 = GraftQuery(
    "q64_curriculum_bins",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
        .withColumn("__ord", struct(col("quality"), col("doc_id")))
        .withColumn("__one", lit(1L))
      val n = broadcast(docs.agg(count(lit(1)).as("n")))
      graft.operators.Packing.prefixSum(docs, "__ord", "__one", "rank")
        .crossJoin(n)
        .select(col("doc_id"), col("quality"), col("rank"),
          expr("rank * 10 div n").as("bin"))
        .orderBy("rank")
    },
    Some("""WITH t AS (
              SELECT doc_id, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks,
                     CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0 THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) END AS n,
                     length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS nlen
              FROM documents),
            m AS (
              SELECT doc_id, n,
                     CAST(len(list_filter(toks, x -> x IN
                       ('the','a','an','and','of','in','to','is','it','for','on','with'))) AS DOUBLE)
                       / NULLIF(len(toks), 0) AS stopword_ratio,
                     CAST(nlen - n + 1 AS DOUBLE) / NULLIF(n, 0) AS mean_len
              FROM t),
            q AS (
              SELECT doc_id,
                     COALESCE(0.4 * least(1.0, CAST(n AS DOUBLE) / 50.0)
                     + 0.3 * (1.0 - least(1.0, abs(stopword_ratio - 0.45) * 2.0))
                     + 0.3 * (1.0 - least(1.0, abs(mean_len - 5.0) / 5.0)), 0.0) AS quality
              FROM m),
            r AS (
              SELECT doc_id, quality,
                     row_number() OVER (ORDER BY quality, doc_id) - 1 AS rank,
                     count(*) OVER () AS n
              FROM q)
            SELECT doc_id, quality, CAST(rank AS BIGINT) AS rank,
                   CAST(rank * 10 // n AS BIGINT) AS bin
            FROM r ORDER BY rank"""))

  /** Deterministic k-per-key sampling: keep the 3 "randomly" smallest
    * events per user under an integer scramble both engines compute
    * identically (a Knuth multiplicative hash — production uses xxhash64,
    * same operator). Runs through the bounded [[graft.functions.TopKAgg]]
    * aggregator: O(users·k) shuffle, no per-user window sort.
    */
  private val q71 = GraftQuery(
    "q71_per_key_sample",
    (s, dir) => {
      val topk = graft.functions.TopKAgg.topK(3)
      // reduce mod p BEFORE multiplying: (p-1)·2654435761 ≈ 2.65e18 stays
      // inside Long, whereas event_id·2654435761 overflows past event_id
      // ≈ 3.5e9 — where Spark wraps silently but DuckDB widens/raises,
      // breaking oracle equivalence exactly when the data gets big
      val scramble = -((((col("event_id") % 1000000007L) * 2654435761L) % 1000000007L)
        .cast("double")) // negate: TopKAgg keeps highest = smallest scramble
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), scramble.as("score"))
        .groupBy("user_id")
        .agg(topk(col("score"), col("event_id")).as("top"))
        .select(col("user_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("user_id"),
          col("t.id").as("event_id"),
          (col("pos") + 1).cast("long").as("draw"))
        .orderBy("user_id", "draw")
    },
    Some("""SELECT user_id, event_id, CAST(rn AS BIGINT) AS draw
            FROM (SELECT user_id, event_id,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY -CAST(((event_id % 1000000007) * 2654435761) % 1000000007 AS DOUBLE) DESC,
                                    event_id) AS rn
                  FROM events)
            WHERE rn <= 3 ORDER BY user_id, draw"""))

  /** Weighted source-interleaving schedule (data mixing): documents from
    * each source get a deterministic position key seq/weight, so a reader
    * consuming in key order sees sources at their target ratios from the
    * start (not source-by-source). Per-source sequence is a key-partitioned
    * window; the global order is the final sort — no global window.
    */
  private val q72 = GraftQuery(
    "q72_mixing_schedule",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val weightCol = when(col("source") === "src1", 4.0)
        .when(col("source") === "src2", 2.0).otherwise(1.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("seq_in_source", row_number().over(w).cast("long"))
        .withColumn("mix_key",
          round(col("seq_in_source").cast("double") / weightCol, 6))
        .orderBy("mix_key", "source", "doc_id")
    },
    Some("""SELECT doc_id, source,
                   CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
                     AS seq_in_source,
                   round(CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS DOUBLE)
                     / (CASE source WHEN 'src1' THEN 4.0 WHEN 'src2' THEN 2.0 ELSE 1.0 END), 6)
                     AS mix_key
            FROM documents
            ORDER BY mix_key, source, doc_id"""))

  /** Passage-level dedup across the corpus (Lee et al.-style span dedup,
    * at chunk granularity): non-overlapping 32-token chunks fingerprint
    * with md5, the corpus-wide first occurrence survives (earliest doc,
    * then earliest chunk — one hash-partitioned window, no pair joins),
    * and each document reports how many of its chunks survive vs repeat
    * earlier text. Output is the per-doc retention profile a span-dedup
    * pass acts on.
    */
  private val q73 = GraftQuery(
    "q73_passage_dedup",
    (s, dir) => {
      val stride = 32
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("start",
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(stride))))
        .select(col("doc_id"), expr(s"start div $stride").as("chunk_id"),
          md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(stride))))
            .as("fp"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col("doc_id"), col("chunk_id"))
      chunks
        .withColumn("keep", row_number().over(w) === 1)
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .withColumn("retention",
          round(col("n_kept").cast("double") / col("n_chunks"), 12))
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, len(toks) - 1, 32)) AS start
              FROM norm),
            fp AS (
              SELECT doc_id, start // 32 AS chunk_id,
                     md5(array_to_string(list_slice(toks, start + 1, start + 32), ' ')) AS fp
              FROM c),
            kept AS (
              SELECT doc_id, chunk_id,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) = 1 AS keep
              FROM fp)
            SELECT doc_id, count(*) AS n_chunks,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 12) AS retention
            FROM kept GROUP BY doc_id ORDER BY doc_id"""))

  /** Quality-weighted importance sampling (DSIR-flavored): each document's
    * keep probability is a deterministic function of its quality score
    * (clamped to [0.1, 0.9]), gated by the same integer scramble both
    * engines compute identically — the continuous-rate generalization of
    * q50's per-stratum rates. No shuffle: scan → scalar gate → filter.
    */
  private val q74 = GraftQuery(
    "q74_importance_sample",
    (s, dir) => {
      val quality = TextFunctions.qualityScore(col("text"))
      // filter on RAW doubles (bit-identical across engines: quality is
      // q16-proven, the gate is pure integer arithmetic + one IEEE divide);
      // rounding happens only on the displayed columns — round-then-filter
      // would reopen the half-boundary divergence the gotchas file bans
      val rate = least(lit(0.9), greatest(lit(0.1), quality))
      val gate = (((col("doc_id") % 100003) * 31 + 7) % 10000)
        .cast("double") / lit(10000.0)
      Tables.documents(s, dir)
        .withColumn("rate_raw", rate)
        .withColumn("gate_raw", gate)
        .filter(col("gate_raw") < col("rate_raw"))
        .select(col("doc_id"),
          round(col("rate_raw"), 6).as("rate"),
          round(col("gate_raw"), 6).as("gate"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks,
                     CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0 THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) END AS n,
                     length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS nlen
              FROM documents),
            m AS (
              SELECT doc_id, n,
                     CAST(len(list_filter(toks, x -> x IN
                       ('the','a','an','and','of','in','to','is','it','for','on','with'))) AS DOUBLE)
                       / NULLIF(len(toks), 0) AS stopword_ratio,
                     CAST(nlen - n + 1 AS DOUBLE) / NULLIF(n, 0) AS mean_len
              FROM t),
            q AS (
              SELECT doc_id,
                     COALESCE(0.4 * least(1.0, CAST(n AS DOUBLE) / 50.0)
                     + 0.3 * (1.0 - least(1.0, abs(stopword_ratio - 0.45) * 2.0))
                     + 0.3 * (1.0 - least(1.0, abs(mean_len - 5.0) / 5.0)), 0.0) AS quality
              FROM m),
            g AS (
              SELECT doc_id,
                     least(0.9, greatest(0.1, quality)) AS rate_raw,
                     ((doc_id % 100003) * 31 + 7) % 10000 / 10000.0 AS gate_raw
              FROM q)
            SELECT doc_id, round(rate_raw, 6) AS rate, round(gate_raw, 6) AS gate
            FROM g WHERE gate_raw < rate_raw ORDER BY doc_id"""))

  /** C4-style frequency-threshold boilerplate removal — a chunk seen in
    * ≥2 distinct docs is stripped from ALL of them (vs q73's keep-first
    * dedup). `kept_md5` hash-gates the reconstructed surviving token
    * stream, so the oracle pins the actual filtered text.
    */
  private val q85 = GraftQuery(
    "q85_boilerplate_filter",
    (s, dir) =>
      graft.operators.Curation.boilerplateChunkFilter(
        Tables.documents(s, dir), chunkTokens = 16, minDocs = 2)
        .orderBy("doc_id"),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, greatest(len(toks) - 1, 0), 16)) AS start
              FROM norm),
            ch AS (
              SELECT doc_id, start // 16 AS chunk_id,
                     array_to_string(list_slice(toks, start + 1, start + 16), ' ') AS txt
              FROM c),
            f AS (SELECT doc_id, chunk_id, txt, md5(txt) AS fp FROM ch),
            b AS (SELECT fp FROM f GROUP BY fp HAVING count(DISTINCT doc_id) >= 2)
            SELECT f.doc_id,
                   count(*) AS n_chunks,
                   CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                   round(1.0 - CAST(sum(CASE WHEN b.fp IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 12) AS retention,
                   md5(coalesce(string_agg(f.txt, ' ' ORDER BY f.chunk_id)
                     FILTER (WHERE b.fp IS NULL), '')) AS kept_md5
            FROM f LEFT JOIN b ON f.fp = b.fp
            GROUP BY f.doc_id ORDER BY doc_id"""))

  /** Data-derived per-source cap (FineWeb source balancing): rates are
    * computed FROM the corpus (min(1, cap·total/n_s)) rather than fixed
    * like q50's; the keep gate is the engine-replayable integer scramble.
    * Raw-double rate comparison on both sides, rounding only on display
    * (q74's contract).
    */
  private val q86 = GraftQuery(
    "q86_source_share_cap",
    (s, dir) =>
      graft.operators.Curation.capSourceShare(
        Tables.documents(s, dir), "source", "doc_id", maxShare = 0.03)
        .select(col("doc_id"), col("source"),
          round(col("source_keep_rate"), 6).as("rate"))
        .orderBy("doc_id"),
    Some("""WITH n AS (SELECT source, count(*) AS ns FROM documents GROUP BY source),
            t AS (SELECT count(*) AS total FROM documents),
            -- CAST(0.03 AS DOUBLE): a bare 0.03 is DECIMAL in DuckDB and
            -- multiplies exactly before the divide, diverging from Spark's
            -- double(0.03)*total/ns by an ulp — enough to flip the gate for
            -- a row whose scramble value lands between the two rates
            r AS (SELECT source,
                         least(CAST(1.0 AS DOUBLE), CAST(0.03 AS DOUBLE) * total / ns) AS rate
                  FROM n, t)
            SELECT d.doc_id, d.source, round(r.rate, 6) AS rate
            FROM documents d JOIN r USING (source)
            WHERE ((d.doc_id % 100003) * 53 + 11) % 10000 / 10000.0 < r.rate
            ORDER BY d.doc_id"""))

  /** Exact-N deterministic corpus sample ([[graft.operators.Sampling
    * .sampleExactN]]): the "give me exactly 100 uniform docs" draw every
    * eval/debug/annotation pipeline needs, as the n smallest seeded id
    * scrambles — fixed size (df.sample is fraction-based and fuzzy),
    * engine-replayable membership, and selected through bounded TopKAgg
    * partials instead of a global ORDER BY/LIMIT sort of the corpus.
    */
  private val q90 = GraftQuery(
    "q90_sample_exact_n",
    (s, dir) =>
      graft.operators.Sampling.sampleExactN(
        Tables.documents(s, dir).select("doc_id", "source", "lang"),
        "doc_id", n = 100, seed = 7L)
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang
              FROM documents
              ORDER BY ${graft.operators.Sharding.scrambleSql("doc_id", 7L)}, doc_id
              LIMIT 100)
            ORDER BY doc_id"""))

  /** Sliding token context windows (W=64, stride 32): the chunking shape
    * that feeds long-document training and retrieval indexing — every
    * token covered, adjacent windows overlapping by W−stride. Pure
    * narrow ops (tokens → sequence → explode → slice), no shuffle until
    * the output sort; window text is md5-digested so the oracle compares
    * content without shipping it twice.
    */
  private val q92 = GraftQuery(
    "q92_context_windows",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("len", size(col("toks")))
        .withColumn("k",
          greatest(lit(1), expr("((greatest(0, len - 64) + 31) div 32) + 1")))
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, k - 1)")).as("win"))
        .select(col("doc_id"), col("win"),
          expr("slice(toks, win * 32 + 1, 64)").as("w"))
        .select(col("doc_id"), col("win").cast("int").as("win"),
          size(col("w")).as("win_tokens"),
          md5(concat_ws(" ", col("w"))).as("win_md5"))
        .orderBy("doc_id", "win"),
    Some("""WITH t AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks
              FROM documents),
            g AS (SELECT doc_id, toks, len(toks) AS l,
                         greatest(1, ((greatest(0, len(toks) - 64) + 31) // 32) + 1) AS k
                  FROM t),
            w AS (SELECT doc_id, unnest(generate_series(0, k - 1)) AS win, toks, l FROM g)
            SELECT doc_id, CAST(win AS INT) AS win,
                   CAST(least(win * 32 + 64, l) - win * 32 AS INT) AS win_tokens,
                   md5(array_to_string(toks[win * 32 + 1 : least(win * 32 + 64, l)], ' ')) AS win_md5
            FROM w ORDER BY doc_id, win"""))

  /** Global quality-decile binning ([[graft.operators.Sampling.rankBins]]):
    * each doc's decile under (n_chars, doc_id) order — the bucketing step
    * of curriculum/threshold curation — computed with the two-phase
    * distributed rank (range partition → broadcast offsets), never an
    * unpartitioned ntile window. The oracle affords the single-node sort
    * and replays bin = rank·10 div total exactly.
    */
  private val q94 = GraftQuery(
    "q94_quality_deciles",
    (s, dir) =>
      graft.operators.Sampling.rankBins(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        Seq("n_chars", "doc_id"), nBins = 10)
        .select("doc_id", "n_chars", "bin")
        .orderBy("doc_id"),
    Some("""WITH r AS (
              SELECT doc_id, n_chars,
                     row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank,
                     count(*) OVER () AS total
              FROM documents)
            SELECT doc_id, n_chars, CAST((rank * 10) // total AS INT) AS bin
            FROM r ORDER BY doc_id"""))

  /** Cross-source quantile normalization ([[graft.operators.Sampling
    * .quantileNormalize]]): each doc's n_chars score is replaced by the
    * GLOBAL score at the quantile the doc occupies within its source —
    * the calibration that makes heterogeneous per-source score
    * distributions globally thresholdable. All rank arithmetic is
    * integers (two two-phase prefix scans + broadcast offsets, no
    * per-source window), so DuckDB replays it exactly with its
    * single-node windows.
    */
  private val q96 = GraftQuery(
    "q96_quantile_normalize",
    (s, dir) =>
      graft.operators.Sampling.quantileNormalize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id")
        .select("doc_id", "source", "n_chars", "calibrated")
        .orderBy("doc_id"),
    Some("""WITH r AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS rs,
                     count(*) OVER (PARTITION BY source) AS m,
                     count(*) OVER () AS n
              FROM documents),
            g AS (
              SELECT n_chars AS calibrated,
                     row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rg
              FROM documents)
            SELECT r.doc_id, r.source, r.n_chars, g.calibrated
            FROM r JOIN g ON g.rg = (r.rs * (r.n - 1)) // greatest(r.m - 1, 1)
            ORDER BY r.doc_id"""))

  /** Per-source ranking AUC of a quality signal against a binary label
    * (here: does document length predict lang = 'en') — the
    * Mann–Whitney/Wilcoxon evaluation every learned quality scorer gets
    * before it gates a corpus. Tie-aware closed form over SCORE-LEVEL
    * aggregates:  AUC = Σ_s pos(s)·(2·cumneg(<s) + neg(s)) / (2·P·N),
    * i.e. P(score⁺ > score⁻) + ½·P(=).
    *
    * Scale shape: one hash aggregate collapses rows to (source, score)
    * groups — the cumulative window then runs over the score CARDINALITY
    * per source (bounded by the value domain, not the corpus), and every
    * product rides DECIMAL(38,0) (pos·cumneg reaches n² ≈ 10²⁰ at
    * warehouse scale — past a Long). Degenerate sources (single-class)
    * emit NULL rather than a division artifact.
    */
  def aucBySource(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val g = docs
      .groupBy(col("source"), col("n_chars").as("score"))
      .agg(
        count(when(col("lang") === "en", 1)).as("pos"),
        count(when(col("lang") =!= "en", 1)).as("neg"))
    val w = Window.partitionBy("source").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("cneg", coalesce(sum(col("neg")).over(w), lit(0L)))
      .groupBy("source")
      .agg(
        sum(col("pos")).as("n_pos"),
        sum(col("neg")).as("n_neg"),
        sum(col("pos").cast(DecimalType(38, 0))
          * (lit(2) * col("cneg") + col("neg"))).as("num"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("num").cast("double")
            / (lit(2).cast(DecimalType(38, 0)) * col("n_pos") * col("n_neg"))
              .cast("double"), 12))
          .as("auc"))
      .orderBy("source")
  }

  private val q120 = GraftQuery(
    "q120_auc_by_source",
    (s, dir) => aucBySource(Tables.documents(s, dir)),
    Some("""WITH g AS (
              SELECT source, n_chars AS score,
                     count(CASE WHEN lang = 'en' THEN 1 END) AS pos,
                     count(CASE WHEN lang <> 'en' THEN 1 END) AS neg
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT source, pos, neg,
                     COALESCE(sum(neg) OVER (PARTITION BY source ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
              FROM g)
            SELECT source,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg,
                   CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
                     round(CAST(sum(CAST(pos AS DECIMAL(38,0)) * (2 * cneg + neg)) AS DOUBLE)
                       / CAST(2 * sum(CAST(pos AS DECIMAL(38,0))) * sum(CAST(neg AS DECIMAL(38,0))) AS DOUBLE), 12)
                   END AS auc
            FROM c GROUP BY source ORDER BY source"""))

  /** Weighted sampling without replacement (Efraimidis–Spirakis priorities
    * on seeded per-id uniforms, [[graft.operators.Sampling.sampleWeighted]])
    * — inclusion ∝ n_chars, membership replayable in any engine as an
    * ORDER BY over the same arithmetic. The engine never runs that global
    * sort: selection is bounded TopKAgg partials, and the oracle's
    * sort-limit is exactly the 100 TB shape the operator exists to avoid.
    */
  private val q124 = GraftQuery(
    "q124_weighted_sample",
    (s, dir) =>
      graft.operators.Sampling.sampleWeighted(
        Tables.documents(s, dir).select("doc_id", "source", "lang", "n_chars"),
        "doc_id", "n_chars", n = 100, seed = 11L)
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, source, lang, n_chars FROM (
              SELECT doc_id, source, lang, n_chars
              FROM documents
              WHERE n_chars > 0
              ORDER BY round(ln((${graft.operators.Sharding.scrambleSql("doc_id", 11L)} + 1)
                         / 1000000008.0) / n_chars, 12) DESC, doc_id
              LIMIT 100)
            ORDER BY doc_id"""))

  /** The curation WATERFALL: the whole LLM-data pipeline run end to end
    * as sequential gates, reporting per-source survival at every stage —
    * the one number sheet a data lead actually reads ("source X loses
    * 40% to near-dups, source Y to repetition"). Stages, each the exact
    * semantics of its standalone query:
    *
    *   1. exact dedup      — first-writer-wins per normalized-text
    *                         fingerprint (q18)
    *   2. near-dup dedup   — among survivors, drop the LARGER id of
    *                         every 3-gram-Jaccard ≥ 0.3 pair (q19's
    *                         pair list over the stage-1 corpus)
    *   3. repetition gate  — drop q145-flagged docs (ttr < 0.30 or top
    *                         bigram > 0.20; sub-3-token docs pass)
    *   4. eval holdout     — remove the q146 eval slice (doc_id ≡ 0
    *                         mod 11) from the training corpus
    *   5. decontamination  — drop docs sharing any 8-token shingle with
    *                         that eval slice (q146; sub-8-token docs
    *                         pass)
    *
    * Every stage is the anti-join/aggregate shape its standalone query
    * already carries, applied to the previous stage's survivor set — so
    * the waterfall's cost is the sum of its stages, not a new join
    * pattern, and each stage's scale story is inherited. The oracle
    * replays all five gates in one CTE chain.
    */
  private val q170 = GraftQuery(
    "q170_curation_waterfall",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text")
      // 1. exact dedup
      val s1 = graft.operators.Dedup.firstWriterWins(
        docs.select(col("doc_id"), col("source"), col("text"),
          TextFunctions.fingerprint(col("text")).as("fp")),
        Seq("fp"), Seq(col("doc_id").asc))
        .select("doc_id", "source", "text")
      val s1c = graft.operators.Components.cut(s1)
      // 2. near-dup pairs over stage-1 survivors: drop each pair's larger
      // id. 3-gram Jaccard is a PAIRWISE function — pairs(s1) is exactly
      // pairs(docs) restricted to s1×s1 — so stage 2 reads the shared
      // text-pairs artifact (one Σ df² build per corpus, the q19/q33
      // precedent) and semi-joins both endpoints into the survivor set
      // instead of re-running the inverted-index join per session
      // (round 12; measured ~1.5 s of q170's 4.3 s).
      val s1ids = s1c.select("doc_id")
      val dupB = DedupQueries.textPairsShared(s, dir)
        .join(s1ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(s1ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .select(col("doc_b").as("doc_id")).distinct()
      val s2 = graft.operators.Components.cut(
        s1c.join(dupB, Seq("doc_id"), "left_anti"))
      // 3. repetition gate (docs with < 3 tokens carry no row and pass)
      val rep = TextQueries.repetitionPerDoc(s2).filter(col("flagged") === 1L)
        .select("doc_id")
      val s3 = graft.operators.Components.cut(
        s2.join(rep, Seq("doc_id"), "left_anti"))
      // 4. eval holdout
      val s4 = s3.filter(col("doc_id") % 11 =!= 0)
      // 5. decontamination vs the ORIGINAL corpus's eval slice (q146)
      val sh = docs
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 8)
        .select(col("doc_id"),
          explode(expr(
            "transform(sequence(1, size(t) - 7), i -> md5(concat_ws(' ', slice(t, i, 8))))"))
            .as("sh"))
      val evalSh = sh.filter(col("doc_id") % 11 === 0).select("sh").distinct()
      val contaminated = sh.filter(col("doc_id") % 11 =!= 0)
        .join(evalSh, Seq("sh"), "left_semi").select("doc_id").distinct()
      val s5 = s4.join(contaminated, Seq("doc_id"), "left_anti")
      def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
        df.groupBy("source").agg(count(lit(1)).as(name))
      // Left-join each stage's counts onto the full source list: a stage
      // that eliminates EVERY doc of a source must report that source
      // with 0 (as the oracle's count(*) FILTER does), not drop the row.
      def zeroed(name: String) = coalesce(col(name), lit(0L)).as(name)
      cnt(docs, "n_start")
        .join(cnt(s1c, "n_exact_dedup"), Seq("source"), "left")
        .join(cnt(s2, "n_near_dedup"), Seq("source"), "left")
        .join(cnt(s3, "n_repetition"), Seq("source"), "left")
        .join(cnt(s4, "n_holdout"), Seq("source"), "left")
        .join(cnt(s5, "n_decontaminated"), Seq("source"), "left")
        .select(col("source"), col("n_start"), zeroed("n_exact_dedup"),
          zeroed("n_near_dedup"), zeroed("n_repetition"),
          zeroed("n_holdout"), zeroed("n_decontaminated"))
        .orderBy("source")
    },
    Some("""WITH docs AS (
              SELECT doc_id, source, text,
                     lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            s1 AS MATERIALIZED (
              SELECT doc_id, source, nt FROM (
                SELECT doc_id, source, nt,
                       row_number() OVER (PARTITION BY md5(nt) ORDER BY doc_id) AS rn
                FROM docs)
              WHERE rn = 1),
            t1 AS (SELECT doc_id, source, string_split(nt, ' ') AS t FROM s1),
            sh3 AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM t1 WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
            dupb AS (
              SELECT DISTINCT b.doc_id AS doc_id
              FROM (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
                    FROM sh3 a JOIN sh3 b ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2) p
              JOIN sizes sa ON p.da = sa.doc_id
              JOIN sizes sb ON p.db = sb.doc_id
              JOIN s1 b ON b.doc_id = p.db
              WHERE CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) >= 0.3),
            s2 AS MATERIALIZED (
              SELECT * FROM t1 WHERE doc_id NOT IN (SELECT doc_id FROM dupb)),
            rep AS (
              SELECT f.doc_id FROM (
                SELECT doc_id,
                       round(CAST(len(list_distinct(t)) AS DOUBLE)
                         / CAST(len(t) AS DOUBLE), 9) AS ttr
                FROM s2 WHERE len(t) >= 3) f
              JOIN (
                SELECT doc_id,
                       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 9) AS tbf
                FROM (
                  SELECT doc_id, b, count(*) AS c FROM (
                    SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                           for i in generate_series(1, len(t)-1)]) AS b
                    FROM s2 WHERE len(t) >= 3)
                  GROUP BY 1, 2)
                GROUP BY doc_id) g ON f.doc_id = g.doc_id
              WHERE f.ttr < 0.30 OR g.tbf > 0.20),
            s3 AS MATERIALIZED (
              SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM rep)),
            s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id % 11 <> 0),
            sh8 AS (
              SELECT d.doc_id,
                     unnest([md5(array_to_string(list_slice(t, i, i + 7), ' '))
                             for i in generate_series(1, len(t) - 7)]) AS sh
              FROM (SELECT doc_id, string_split(nt, ' ') AS t FROM docs) d
              WHERE len(t) >= 8),
            ev AS (SELECT DISTINCT sh FROM sh8 WHERE doc_id % 11 = 0),
            cont AS (
              SELECT DISTINCT doc_id FROM sh8
              WHERE doc_id % 11 <> 0 AND sh IN (SELECT sh FROM ev)),
            s5 AS (
              SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM cont))
            SELECT d.source,
                   count(*) AS n_start,
                   count(*) FILTER (d.doc_id IN (SELECT doc_id FROM s1)) AS n_exact_dedup,
                   count(*) FILTER (d.doc_id IN (SELECT doc_id FROM s2)) AS n_near_dedup,
                   count(*) FILTER (d.doc_id IN (SELECT doc_id FROM s3)) AS n_repetition,
                   count(*) FILTER (d.doc_id IN (SELECT doc_id FROM s4)) AS n_holdout,
                   count(*) FILTER (d.doc_id IN (SELECT doc_id FROM s5)) AS n_decontaminated
            FROM docs d GROUP BY d.source ORDER BY d.source"""))

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every pool
    * document by how much more likely its tokens are under a TARGET slice
    * (here: the doc_id % 13 == 0 docs standing in for a curated corpus)
    * than under the pool itself, using HASHED n-gram features — the
    * vocabulary-free trick that makes the estimator one narrow pass at
    * 100 TB. Each token lands in one of 256 buckets via the portable
    * md5 hash (the q139/q169 family); bucket add-one log-ratios
    * ln(p̂_target/p̂_pool) come from two ≤256-row count tables; a doc's
    * weight is Σ n_db·lr_b over its buckets. Plan shape: ONE token-stream
    * shuffle into the (doc, bucket) aggregate; the two bucket tables and
    * both totals derive from that frame (cut so it lands once) and
    * broadcast back onto it — the corpus never shuffles again. Float
    * determinism: the q102 contract (per-bucket ln rounds at 15 dp from
    * one fixed double expression, per-doc contributions round at 15 and
    * sum as DECIMAL(38,15), display weight rounds at 9).
    */
  private val q180 = GraftQuery(
    "q180_dsir_importance",
    (s, dir) => {
      val B = 256
      // widen the 500-row doc scan BEFORE the token explode (round 13,
      // guide §2.5/§2.3): the tokenize + per-token md5/conv stage fused
      // onto the single-file scan ran as ONE task (ProbeQueryJobs: 3.1 s
      // cold / 0.7 s warm, 1 task) — fan the cheap doc rows out, not the
      // exploded token stream
      val occ = graft.Tables.widen(
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"),
          (col("doc_id") % 13 === 0).as("is_t"),
          explode(TextFunctions.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .withColumn("bucket",
          expr("conv(substring(md5(word), 1, 15), 16, 10)").cast("long") % B)
      val dbc = graft.operators.Components.cut(
        occ.groupBy("doc_id", "source", "is_t", "bucket")
          .agg(count(lit(1)).as("n_db")))
      // one ≤256-row bucket table instead of separate target/pool frames
      // (round 13, §1.2): bt/bs/nt/ns each launched their own broadcast
      // job over dbc — the conditional sums land identical values
      // (missing side = 0, exactly the old full_outer + coalesce(·, 0))
      // in ONE aggregate, and both totals ride one more. Rows with a null
      // is_t are neither target nor pool: dropped before the sums, so a
      // bucket holding only such rows gets no row (not a (0, 0) row)
      val bucketTab = dbc.filter(col("is_t").isNotNull).groupBy("bucket").agg(
        sum(when(col("is_t"), col("n_db")).otherwise(0L)).as("ct"),
        sum(when(!col("is_t"), col("n_db")).otherwise(0L)).as("cs"))
      val tot = bucketTab.agg(
        coalesce(sum("ct"), lit(0L)).as("nt"),
        coalesce(sum("cs"), lit(0L)).as("ns"))
      val lr = bucketTab.crossJoin(broadcast(tot))
        .select(col("bucket"),
          round(log(
            ((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0))
              * (col("ns").cast("double") + lit(256.0)))
              / ((coalesce(col("cs"), lit(0L)).cast("double") + lit(1.0))
                * (col("nt").cast("double") + lit(256.0)))), 15).as("lr"))
      dbc.filter(!col("is_t"))
        .join(broadcast(lr), "bucket")
        .groupBy("doc_id", "source")
        .agg(
          sum("n_db").as("n_tokens"),
          round(
            sum(round(col("n_db").cast("double") * col("lr"), 15)
              .cast(org.apache.spark.sql.types.DecimalType(38, 15)))
              .cast("double"), 9).as("weight"))
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(200)
    },
    Some("""WITH occ AS (
              SELECT doc_id, source, doc_id % 13 = 0 AS is_t,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            w AS (
              SELECT doc_id, source, is_t,
                     ('0x' || substr(md5(word), 1, 15))::BIGINT % 256 AS bucket
              FROM occ WHERE length(word) > 0),
            dbc AS (
              SELECT doc_id, source, is_t, bucket, count(*) AS n_db
              FROM w GROUP BY doc_id, source, is_t, bucket),
            bt AS (SELECT bucket, CAST(sum(n_db) AS BIGINT) AS ct
                   FROM dbc WHERE is_t GROUP BY bucket),
            bs AS (SELECT bucket, CAST(sum(n_db) AS BIGINT) AS cs
                   FROM dbc WHERE NOT is_t GROUP BY bucket),
            nt AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS nt FROM bt),
            ns AS (SELECT CAST(coalesce(sum(cs), 0) AS BIGINT) AS ns FROM bs),
            lr AS (
              SELECT bucket,
                     round(ln(((CAST(coalesce(ct, 0) AS DOUBLE) + 1.0)
                                 * (CAST(ns AS DOUBLE) + 256.0))
                              / ((CAST(coalesce(cs, 0) AS DOUBLE) + 1.0)
                                 * (CAST(nt AS DOUBLE) + 256.0))), 15) AS lr
              FROM bt FULL JOIN bs USING (bucket) CROSS JOIN nt CROSS JOIN ns)
            SELECT doc_id, source, CAST(sum(n_db) AS BIGINT) AS n_tokens,
                   round(CAST(sum(CAST(round(CAST(n_db AS DOUBLE) * lr, 15)
                       AS DECIMAL(38,15))) AS DOUBLE), 9) AS weight
            FROM dbc JOIN lr USING (bucket)
            WHERE NOT is_t
            GROUP BY doc_id, source
            ORDER BY weight DESC, doc_id
            LIMIT 200"""))

  /** Per-source sequence-packing PROFILE — the planning rollup over q55's
    * concat-and-chunk contract ([[graft.operators.Packing.packBins]]):
    * each source's token stream is laid in doc_id order and cut every
    * L=512 tokens (GPT-style — documents cross boundaries; the attention
    * mask, not the packer, separates them), and the query reports what a
    * packing job would produce per source: sequence count, tail fill,
    * boundary-crossing docs, max sequences one doc spans, docs-per-
    * sequence density. Where q55 emits the global per-doc bin assignment
    * through the two-phase prefix scan, this partitions the tape BY
    * SOURCE: one narrow token-count scan, ONE shuffle on `source` for the
    * running-offset window, then the per-source hash aggregate on the same
    * partitioning (no second exchange). At 100 TB the per-source window
    * swaps to `Packing.prefixSumBy(source-prefixed order)` unchanged in
    * semantics — sources are the parallel unit either way. All outputs are
    * integer arithmetic except the density, one exact IEEE divide rounded
    * at 6.
    */
  private val q198 = GraftQuery(
    "q198_sequence_packing",
    (s, dir) => {
      val L = 512L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val pos = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("endc", sum("n_tok").over(w))
        .withColumn("first_seq",
          floor((col("endc") - col("n_tok")).cast("double") / lit(L.toDouble)))
        .withColumn("last_seq",
          floor((col("endc") - 1).cast("double") / lit(L.toDouble)))
      pos.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("total_tokens"),
          (floor((sum("n_tok") - 1).cast("double") / lit(L.toDouble)) + 1)
            .cast("long").as("n_seqs"),
          (sum("n_tok") -
            floor((sum("n_tok") - 1).cast("double") / lit(L.toDouble))
              .cast("long") * L).as("tail_fill"),
          sum(when(col("first_seq") =!= col("last_seq"), 1L).otherwise(0L))
            .as("boundary_docs"),
          sum(col("last_seq") - col("first_seq") + 1).as("doc_seq_spans"),
          max(col("last_seq") - col("first_seq") + 1).as("max_span"),
          round(
            sum(col("last_seq") - col("first_seq") + 1).cast("double") /
              (floor((sum("n_tok") - 1).cast("double") / lit(L.toDouble)) + 1),
            6).as("docs_per_seq"))
        .orderBy("source")
    },
    Some("""WITH norm AS (
              SELECT doc_id, source,
                     lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            tok AS (
              SELECT doc_id, source,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tok
              FROM norm),
            pos AS (
              SELECT source, n_tok,
                     sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS endc
              FROM tok WHERE n_tok > 0),
            sp AS (
              SELECT source, n_tok, endc,
                     CAST(floor(CAST(endc - n_tok AS DOUBLE) / 512.0) AS BIGINT) AS first_seq,
                     CAST(floor(CAST(endc - 1 AS DOUBLE) / 512.0) AS BIGINT) AS last_seq
              FROM pos)
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                   CAST(floor(CAST(sum(n_tok) - 1 AS DOUBLE) / 512.0) + 1 AS BIGINT) AS n_seqs,
                   CAST(sum(n_tok)
                        - CAST(floor(CAST(sum(n_tok) - 1 AS DOUBLE) / 512.0) AS BIGINT) * 512
                     AS BIGINT) AS tail_fill,
                   CAST(sum(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END) AS BIGINT) AS boundary_docs,
                   CAST(sum(last_seq - first_seq + 1) AS BIGINT) AS doc_seq_spans,
                   CAST(max(last_seq - first_seq + 1) AS BIGINT) AS max_span,
                   round(CAST(sum(last_seq - first_seq + 1) AS DOUBLE)
                         / (floor(CAST(sum(n_tok) - 1 AS DOUBLE) / 512.0) + 1), 6) AS docs_per_seq
            FROM sp GROUP BY source ORDER BY source"""))

  /** Weighted sampling without replacement — Efraimidis–Spirakis exponential
    * races with hash-derived uniforms, the standard one-pass distributed
    * algorithm (each row's priority −ln(u)/w depends only on the row, so
    * the per-stratum k smallest survive any partitioning; a cluster takes
    * a per-partition top-k then merges). Weight = n_chars (longer docs
    * proportionally likelier), u from the portable md5 family on a strict
    * (0,1) grid. Priorities round at 9 dp BEFORE ranking in both engines,
    * doc_id breaks ties — the selection boundary is grid-exact, never a
    * last-ulp libm race. ONE narrow scan, one shuffle on `source` for the
    * rank window (at scale: TopKAgg per stratum — no global sort).
    */
  private val q199 = GraftQuery(
    "q199_weighted_sample_es",
    (s, dir) => {
      val k = 50
      val u = (expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)")
        .cast("long") % 1000000L + 1L).cast("double") / lit(1000001.0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("pri"), col("doc_id"))
      Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(-log(u) / col("n_chars").cast("double"), 9).as("pri"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select("source", "doc_id", "n_chars", "pri")
        .orderBy("source", "pri", "doc_id")
    },
    Some("""WITH pri AS (
              SELECT source, doc_id, n_chars,
                     round(-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                                  % 1000000 + 1) / 1000001.0)
                           / CAST(n_chars AS DOUBLE), 9) AS pri
              FROM documents WHERE n_chars > 0),
            rk AS (
              SELECT source, doc_id, n_chars, pri,
                     row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rk
              FROM pri)
            SELECT source, doc_id, n_chars, pri
            FROM rk WHERE rk <= 50
            ORDER BY source, pri, doc_id"""))

  /** Temperature-weighted source mixing to a token budget — the
    * multilingual-pretraining rebalancer: source shares ∝ T_i^τ (τ=1/2,
    * so `sqrt` — IEEE-exact in both engines) flatten the natural
    * distribution, per-source keep-rates min(1, B·p_i/T_i) hit a 50 %
    * token budget, and a deterministic md5 gate (salted so it is
    * independent of q199's draw) admits documents. Per-source√ weights
    * round at 6 dp and total as DECIMAL(38,6) — the cross-engine
    * float-sum-order hazard is removed by summing on the decimal grid.
    * Plan: token counts computed ONCE (cut), totals are a ≤|sources|-row
    * broadcast joined back, one final per-source aggregate — two scans of
    * nothing wider than (doc_id, source, n_tok).
    */
  private val q200 = GraftQuery(
    "q200_temperature_mixing",
    (s, dir) => {
      val tok = graft.operators.Components.cut(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
          .filter(col("n_tok") > 0))
      val totals = tok.groupBy("source").agg(sum("n_tok").as("t_tokens"))
        .withColumn("sw", round(sqrt(col("t_tokens").cast("double")), 6))
      val sums = totals.agg(
        sum(col("sw").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double").as("sw_total"),
        floor(sum("t_tokens").cast("double") * 0.5).cast("long").as("budget"))
      val rates = totals.crossJoin(broadcast(sums))
        .select(col("source"), col("t_tokens"),
          round(
            least(lit(1.0),
              col("budget").cast("double") * col("sw") / col("sw_total") /
                col("t_tokens").cast("double")), 6).as("rate"))
      val u = (expr(
        "conv(substring(md5(concat(cast(doc_id as string), '/mix')), 1, 15), 16, 10)")
        .cast("long") % 1000000L).cast("double") / lit(1000000.0)
      tok.withColumn("u", u)
        .join(broadcast(rates), "source")
        .groupBy("source")
        .agg(
          first("t_tokens").as("t_tokens"),
          first("rate").as("rate"),
          sum(when(col("u") < col("rate"), 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("u") < col("rate"), col("n_tok")).otherwise(0L))
            .as("kept_tokens"))
        .orderBy("source")
    },
    Some("""WITH norm AS (
              SELECT doc_id, source,
                     lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            tok AS (
              SELECT doc_id, source,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tok
              FROM norm),
            tk AS (SELECT * FROM tok WHERE n_tok > 0),
            totals AS (
              SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_tokens,
                     round(sqrt(CAST(sum(n_tok) AS DOUBLE)), 6) AS sw
              FROM tk GROUP BY source),
            sums AS (
              SELECT CAST(sum(CAST(sw AS DECIMAL(38,6))) AS DOUBLE) AS sw_total,
                     CAST(floor(CAST(sum(t_tokens) AS DOUBLE) * 0.5) AS BIGINT) AS budget
              FROM totals),
            rates AS (
              SELECT source, t_tokens,
                     round(least(1.0,
                       CAST(budget AS DOUBLE) * sw / sw_total
                         / CAST(t_tokens AS DOUBLE)), 6) AS rate
              FROM totals CROSS JOIN sums),
            gated AS (
              SELECT tk.source, tk.n_tok, rates.t_tokens, rates.rate,
                     (('0x' || substr(md5(CAST(tk.doc_id AS VARCHAR) || '/mix'), 1, 15))::BIGINT
                        % 1000000) / 1000000.0 AS u
              FROM tk JOIN rates USING (source))
            SELECT source,
                   any_value(t_tokens) AS t_tokens,
                   any_value(rate) AS rate,
                   CAST(sum(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
                   CAST(sum(CASE WHEN u < rate THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
            FROM gated GROUP BY source ORDER BY source"""))

  /** Sliding-window chunking for retrieval / context assembly (C = 64
    * tokens, stride S = 48 ⇒ 16-token overlap): the RAG-prep sibling of
    * q55's pack-to-the-boundary. Chunk count is closed-form
    * (1 if n ≤ C else ⌊(n−C+S−1)/S⌋+1 — integer arithmetic, no float
    * ceil), chunk k starts at 1+kS and takes min(C, n−start+1) tokens,
    * and each chunk carries the md5 of its space-joined tokens so the
    * oracle hash-gates CONTENT, not just geometry. Entirely array-side:
    * one corpus scan, a codegen'd transform per doc, no shuffle before
    * the display ORDER BY.
    */
  private val q206 = GraftQuery(
    "q206_rag_chunking",
    (s, dir) => {
      val C = 64
      val S = 48
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        TextFunctions.tokens(col("text")).as("t"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n"))
      val nch = when(col("n") === 0, lit(0L))
        .when(col("n") <= C, lit(1L))
        .otherwise((col("n") - C + (S - 1)) / S + 1)
      toks
        .filter(col("n") > 0) // sequence(0, -1) would DESCEND for empty docs
        .select(col("doc_id"), col("n"), posexplode(
          transform(sequence(lit(0), (nch - 1).cast("int")),
            k => {
              val start = k.cast("long") * S + 1
              val len = least(lit(C.toLong), col("n") - start + 1)
              struct(start.as("start_tok"), len.as("n_chunk_tokens"),
                md5(concat_ws(" ", slice(col("t"), start.cast("int"), len.cast("int"))))
                  .as("chunk_md5"))
            })))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
          col("col.start_tok"), col("col.n_chunk_tokens"), col("col.chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH norm AS (
              SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            toks AS (
              SELECT doc_id, string_split(nt, ' ') AS t,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n
              FROM norm),
            sized AS (
              SELECT doc_id, t, n,
                     CASE WHEN n = 0 THEN 0
                          WHEN n <= 64 THEN 1
                          ELSE (n - 64 + 47) // 48 + 1 END AS nch
              FROM toks),
            ch AS (
              SELECT doc_id, unnest(
                [{'chunk_idx': CAST(k AS BIGINT),
                  'start_tok': CAST(k * 48 + 1 AS BIGINT),
                  'n_chunk_tokens': CAST(least(64, n - (k * 48 + 1) + 1) AS BIGINT),
                  'chunk_md5': md5(array_to_string(
                    t[(k * 48 + 1):(k * 48 + least(64, n - (k * 48 + 1) + 1))], ' '))}
                 for k in generate_series(0, CAST(nch - 1 AS BIGINT))],
                recursive := true)
              FROM sized WHERE n > 0)
            SELECT doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_md5
            FROM ch ORDER BY doc_id, chunk_idx"""))

  /** Leakage-free (group-aware) train/val/test split: the standard
    * hash-split — md5(doc) mod 10 → 8/1/1 — leaks near-duplicates across
    * the boundary, contaminating eval; the fix is to split by NEAR-DUP
    * CLUSTER: assign every document its cluster representative (q33's
    * 3-gram Jaccard ≥ 0.3 components; singletons are their own rep) and
    * hash the REP, so a whole near-dup family lands on one side. Emits
    * the per-split census plus the leakage audit both engines recompute:
    * `leaked_pairs` = near-dup pairs crossing splits, 0 by construction.
    * At scale: the components build is the dedup pass the pipeline
    * already runs; the split itself is one scan + a portable md5 mod.
    */
  private val q224 = GraftQuery(
    "q224_leakage_free_split",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = DedupQueries.textPairsShared(s, dir)
        .select("doc_a", "doc_b")
      val clusters = graft.operators.Components.neardupClustersContracted(
        DedupQueries.textPairsShared(s, dir))
        .select(col("doc_id"), col("cluster_id"))
      val withSplit = docs.join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("rep"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
        .withColumn("b",
          conv(substring(md5(col("rep").cast("string")), 1, 15), 16, 10)
            .cast("long") % 10)
        .withColumn("split",
          when(col("b") < 8, "train").when(col("b") === 8, "val")
            .otherwise("test"))
      val perSplit = withSplit.groupBy("split").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("rep")).as("n_clusters"),
        sum(col("n_toks")).as("n_tokens"))
      val leak = pairs
        .join(withSplit.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(withSplit.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .agg(count(when(col("sa") =!= col("sb"), lit(1))).as("leaked_pairs"))
      perSplit.crossJoin(broadcast(leak)).orderBy("split")
    },
    Some("""WITH RECURSIVE norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t,
                     lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM norm WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM common
              JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
              WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            crep AS (SELECT src AS doc_id, least(src, min(dst)) AS rep
                     FROM reach GROUP BY src),
            ws AS (
              SELECT n.doc_id, coalesce(c.rep, n.doc_id) AS rep,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_toks,
                     ('0x' || substr(md5(CAST(coalesce(c.rep, n.doc_id) AS VARCHAR)), 1, 15))::BIGINT
                       % 10 AS b
              FROM norm n LEFT JOIN crep c USING (doc_id)),
            ws2 AS (
              SELECT *, CASE WHEN b < 8 THEN 'train'
                             WHEN b = 8 THEN 'val' ELSE 'test' END AS split
              FROM ws),
            per AS (
              SELECT split, count(*) AS n_docs,
                     count(DISTINCT rep) AS n_clusters,
                     CAST(sum(n_toks) AS BIGINT) AS n_tokens
              FROM ws2 GROUP BY 1),
            leak AS (
              SELECT count(*) FILTER (WHERE sa.split <> sb.split) AS leaked_pairs
              FROM pairs
              JOIN ws2 sa ON sa.doc_id = pairs.doc_a
              JOIN ws2 sb ON sb.doc_id = pairs.doc_b)
            SELECT per.split, per.n_docs, per.n_clusters, per.n_tokens,
                   leak.leaked_pairs
            FROM per CROSS JOIN leak ORDER BY split"""))

  /** Calibration reliability table + expected calibration error (ECE) —
    * the q120 classifier-eval companion: the min-max-normalized score
    * (n_chars as the quality proxy, lang='en' as the label — q120's
    * setup) binned into 10 equal-width confidence bins; per bin the mean
    * confidence vs the observed positive rate, and the weighted gap sum.
    * Equal-WIDTH bins (not quantile) keep binning a pure per-row closed
    * form — no tie-break ambiguity, no sort. Determinism: mean confidence
    * is computed from the exact BIGINT score sum ((Σs/n − min)/(max−min)),
    * never an order-dependent double avg; ECE terms round onto the
    * DECIMAL(38,15) grid before the order-free sum.
    */
  private val q235 = GraftQuery(
    "q235_calibration_bins",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val mm = docs.agg(min(col("n_chars")).cast("double").as("mn"),
        max(col("n_chars")).cast("double").as("mx"))
      val b = docs.crossJoin(broadcast(mm))
        .select(
          least(lit(9), floor((col("n_chars").cast("double") - col("mn"))
            / (col("mx") - col("mn")) * lit(10.0)).cast("int")).as("bin"),
          col("n_chars"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val g = b.groupBy("bin").agg(
        count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("n_chars")).as("sum_score"))
      val tot = g.agg(sum(col("n")).as("nn"))
      val c = g.crossJoin(broadcast(mm))
        .withColumn("conf_raw",
          (col("sum_score").cast("double") / col("n").cast("double") - col("mn"))
            / (col("mx") - col("mn")))
        .withColumn("pos_raw", col("n_pos").cast("double") / col("n").cast("double"))
      val t = c.crossJoin(broadcast(tot))
        .withColumn("term", round(col("n").cast("double") / col("nn").cast("double")
          * abs(col("pos_raw") - col("conf_raw")), 15).cast(DecimalType(38, 15)))
      val e = t.agg(round(sum(col("term")).cast("double"), 12).as("ece"))
      t.crossJoin(broadcast(e))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("conf_raw"), 12).as("mean_conf"),
          round(col("pos_raw"), 12).as("pos_rate"),
          round(abs(col("pos_raw") - col("conf_raw")), 12).as("gap"),
          col("ece"))
        .orderBy("bin")
    },
    Some("""WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS mn,
                               CAST(max(n_chars) AS DOUBLE) AS mx FROM documents),
            b AS (SELECT least(9, CAST(floor((CAST(n_chars AS DOUBLE) - mn)
                           / (mx - mn) * 10.0) AS INT)) AS bin,
                         n_chars,
                         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
                  FROM documents CROSS JOIN mm),
            g AS (SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
                         CAST(sum(n_chars) AS BIGINT) AS sum_score
                  FROM b GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM g),
            c AS (SELECT bin, n, n_pos,
                         (CAST(sum_score AS DOUBLE) / CAST(n AS DOUBLE) - mn)
                           / (mx - mn) AS conf_raw,
                         CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_raw
                  FROM g CROSS JOIN mm),
            t AS (SELECT *, CAST(round(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)
                           * abs(pos_raw - conf_raw), 15) AS DECIMAL(38,15)) AS term
                  FROM c CROSS JOIN tot),
            e AS (SELECT round(CAST(sum(term) AS DOUBLE), 12) AS ece FROM t)
            SELECT bin, n, n_pos, round(conf_raw, 12) AS mean_conf,
                   round(pos_raw, 12) AS pos_rate,
                   round(abs(pos_raw - conf_raw), 12) AS gap, ece
            FROM t CROSS JOIN e ORDER BY bin"""))

  /** Neyman-allocation stratified sampling (Neyman 1934) — the
    * variance-optimal budget split q50's fixed-rate stratification can't
    * give: a 100-doc budget is allocated across sources ∝ Nₕ·σₕ (stratum
    * size × stratum stddev of n_chars), so high-variance sources get
    * proportionally more sample — the survey-sampling optimum for
    * estimating the corpus mean under a fixed labeling/inspection budget.
    *
    * Determinism: σₕ comes from exact integer moment sums (Σx, Σx² in
    * DECIMAL(38,0) — the q217 contract); the weights Nₕσₕ round onto a
    * 6 dp decimal grid BEFORE the cross-stratum total (order-free sum),
    * and the allocation floor runs on a 9 dp-rounded share so both
    * engines floor the same value (the q216 round-before-argmax
    * contract). The realized sample is the allocation-smallest portable
    * md5(doc_id) per stratum — one window per stratum partition, never a
    * global sort; the hash order is engine-portable so DuckDB replays
    * the exact same document choice.
    */
  private val NeymanBudget = 100
  private val q246 = GraftQuery(
    "q246_neyman_allocation",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dec0 = DecimalType(38, 0)
      val docs = Tables.documents(s, dir).select(col("source"), col("doc_id"), col("n_chars"))
      val mom = docs.groupBy("source").agg(
        count(lit(1)).as("n_h"),
        sum(col("n_chars").cast(dec0)).as("sx"),
        sum((col("n_chars").cast(dec0) * col("n_chars").cast(dec0)).cast(dec0)).as("sxx"))
      // n_h = 1 makes the closed form 0/0; define single-document strata
      // as sigma 0 so w_h stays well-typed on both engines (DuckDB's
      // DECIMAL cast of NaN raises where Spark would yield NULL).
      val sigma = mom.withColumn("sigma_h",
        when(col("n_h") > 1,
          sqrt((col("n_h").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n_h").cast("double") * (col("n_h").cast("double") - 1.0))))
          .otherwise(lit(0.0)))
      val weighted = sigma.withColumn("w_h",
        round(col("n_h").cast("double") * col("sigma_h"), 6).cast(DecimalType(38, 6)))
      val tot = weighted.agg(sum(col("w_h")).as("w_tot"))
      val alloc = weighted.crossJoin(broadcast(tot))
        .withColumn("share", round(col("w_h").cast("double") / col("w_tot").cast("double"), 9))
        .withColumn("alloc", floor(round(lit(NeymanBudget) * col("share"), 9)).cast("long"))
      val ranked = docs.withColumn("rn",
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
      val sampled = ranked.join(alloc.select("source", "alloc"), "source")
        .filter(col("rn") <= col("alloc"))
      val sampleStats = sampled.groupBy("source").agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars").cast(dec0)).as("s_sx"))
      alloc.join(sampleStats, Seq("source"), "left")
        .select(col("source"), col("n_h").as("n_docs"),
          round(col("sigma_h"), 6).as("sigma"),
          col("alloc"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          when(col("n_sampled") > 0,
            round(col("s_sx").cast("double") / col("n_sampled").cast("double"), 9))
            .as("sample_mean_chars"))
        .orderBy("source")
    },
    Some(s"""WITH mom AS (
              SELECT source, count(*) AS n_h,
                     sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
                     sum(CAST(CAST(n_chars AS DECIMAL(38,0))
                         * CAST(n_chars AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS sxx
              FROM documents GROUP BY 1),
            sig AS (
              SELECT *, CASE WHEN n_h > 1 THEN
                       sqrt((CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       / (CAST(n_h AS DOUBLE) * (CAST(n_h AS DOUBLE) - 1.0)))
                       ELSE 0.0 END AS sigma_h
              FROM mom),
            wtd AS (
              SELECT *, CAST(round(CAST(n_h AS DOUBLE) * sigma_h, 6) AS DECIMAL(38,6)) AS w_h
              FROM sig),
            tot AS (SELECT sum(w_h) AS w_tot FROM wtd),
            alloc AS (
              SELECT source, n_h, sigma_h, w_h,
                     CAST(floor(round($NeymanBudget
                       * round(CAST(w_h AS DOUBLE) / CAST(w_tot AS DOUBLE), 9), 9))
                       AS BIGINT) AS alloc
              FROM wtd CROSS JOIN tot),
            ranked AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents),
            sampled AS (
              SELECT r.source, r.n_chars
              FROM ranked r JOIN alloc a ON r.source = a.source
              WHERE r.rn <= a.alloc),
            ss AS (
              SELECT source, count(*) AS n_sampled,
                     sum(CAST(n_chars AS DECIMAL(38,0))) AS s_sx
              FROM sampled GROUP BY 1)
            SELECT a.source, a.n_h AS n_docs,
                   round(a.sigma_h, 6) AS sigma,
                   a.alloc,
                   coalesce(ss.n_sampled, 0) AS n_sampled,
                   CASE WHEN ss.n_sampled > 0
                     THEN round(CAST(ss.s_sx AS DOUBLE) / CAST(ss.n_sampled AS DOUBLE), 9)
                   END AS sample_mean_chars
            FROM alloc a LEFT JOIN ss ON a.source = ss.source
            ORDER BY a.source"""))

  /** Isotonic calibration (pool-adjacent-violators fit) of q235's
    * reliability table — the monotone-regression step a production
    * calibrator runs after measuring the bins: the isotonic fit is the
    * L2-optimal non-decreasing curve through the per-bin positive rates
    * (Zadrozny & Elkan 2002). With 10 bins the PAV solution comes from
    * its minimax CLOSED FORM — ŷᵢ = max_{j≤i} min_{k≥i} wavg(rate,
    * bins j..k) — so no sequential pooling loop exists on either engine:
    * the 55 (j,k) interval means are one triple join over the 10-row bin
    * frame (every side broadcast — bounded by the bin count, the q226
    * scalar-fold contract), then two bounded aggregates take the
    * min-over-k and max-over-j. Interval means round at 12 dp BEFORE the
    * min/max (q216 contract). Output: each bin's raw vs isotonic rate.
    */
  private val q255 = GraftQuery(
    "q255_isotonic_calibration",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val mm = docs.agg(min(col("n_chars")).cast("double").as("mn"),
        max(col("n_chars")).cast("double").as("mx"))
      val g = docs.crossJoin(broadcast(mm))
        .select(
          least(lit(9), floor((col("n_chars").cast("double") - col("mn"))
            / (col("mx") - col("mn")) * lit(10.0)).cast("int")).as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
      val jj = g.select(col("bin").as("j"))
      val kk = g.select(col("bin").as("k"))
      val mBins = g.select(col("bin").as("m"), col("n").as("nm"), col("n_pos").as("pm"))
      val ivals = jj
        .join(broadcast(kk), col("j") <= col("k"))
        .join(broadcast(mBins), col("m") >= col("j") && col("m") <= col("k"))
        .groupBy("j", "k")
        .agg(sum(col("nm")).as("w"), sum(col("pm")).as("p"))
        .select(col("j"), col("k"),
          round(col("p").cast("double") / col("w").cast("double"), 12).as("a"))
      val m1 = g.select(col("bin").as("i"))
        .join(broadcast(ivals), col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j")
        .agg(min(col("a")).as("mn"))
      val iso = m1.groupBy("i").agg(max(col("mn")).as("iso_rate"))
      g.join(iso, g("bin") === iso("i"))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 12).as("raw_rate"),
          col("iso_rate"))
        .orderBy("bin")
    },
    Some("""WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS mn,
                               CAST(max(n_chars) AS DOUBLE) AS mx FROM documents),
            g AS (SELECT least(9, CAST(floor((CAST(n_chars AS DOUBLE) - mn)
                           / (mx - mn) * 10.0) AS INT)) AS bin,
                         count(*) AS n,
                         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_pos
                  FROM documents CROSS JOIN mm GROUP BY 1),
            iv AS (SELECT j.bin AS j, k.bin AS k,
                          round(CAST(sum(m.n_pos) AS DOUBLE)
                            / CAST(sum(m.n) AS DOUBLE), 12) AS a
                   FROM g j JOIN g k ON j.bin <= k.bin
                   JOIN g m ON m.bin BETWEEN j.bin AND k.bin
                   GROUP BY 1, 2),
            m1 AS (SELECT i.bin AS i, iv.j, min(iv.a) AS mn
                   FROM g i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
                   GROUP BY 1, 2),
            iso AS (SELECT i, max(mn) AS iso_rate FROM m1 GROUP BY 1)
            SELECT g.bin, g.n, g.n_pos,
                   round(CAST(g.n_pos AS DOUBLE) / CAST(g.n AS DOUBLE), 12) AS raw_rate,
                   iso.iso_rate
            FROM g JOIN iso ON g.bin = iso.i
            ORDER BY g.bin"""))

  /** Cohen's kappa (Cohen 1960) between two independent keep/drop
    * labelers — the inter-annotator-agreement operator a curation
    * pipeline runs before trusting any single quality gate: raw
    * agreement alone flatters gates that both say "keep" to everything,
    * kappa subtracts the agreement expected from the marginals alone.
    * Labeler A is the length gate (n_chars ≥ 300), labeler B the token
    * gate (whitespace tokens ≥ 60) — deterministic heuristics over the
    * same construct ("is this document substantial"), so their kappa is
    * a meaningful calibration diagnostic, not noise.
    *
    * Scale: ONE hash aggregate builds the per-source 2×2 census (four
    * conditional counts — no shuffle beyond the groupBy); everything
    * after is closed-form arithmetic on the census row. Determinism:
    * counts are integers, po/pe are correctly-rounded IEEE divisions
    * written in the same association order on both engines, and kappa
    * computes from the 12 dp-ROUNDED po/pe (round-before-derive, the
    * q216 contract) with a pe = 1 degenerate guard (single-cell census
    * ⇒ kappa undefined ⇒ NULL, never 0/0).
    */
  private val q269 = GraftQuery(
    "q269_cohens_kappa",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val lab = docs.select(
        col("source"),
        (col("n_chars") >= 300).as("ka"),
        (TextFunctions.tokenCount(col("text")) >= 60).as("kb"))
      val cen = lab.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("ka") && col("kb"), 1L).otherwise(0L)).as("a"),
        sum(when(col("ka") && !col("kb"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("ka") && col("kb"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("ka") && !col("kb"), 1L).otherwise(0L)).as("d"))
      val nD = col("n").cast("double")
      val po = round((col("a") + col("d")).cast("double") / nD, 12)
      val pe = round(
        ((col("a") + col("b")).cast("double") / nD)
          * ((col("a") + col("c")).cast("double") / nD)
          + ((col("c") + col("d")).cast("double") / nD)
          * ((col("b") + col("d")).cast("double") / nD), 12)
      cen.select(col("source"), col("n"),
          col("a").as("both_keep"), col("b").as("only_a"),
          col("c").as("only_b"), col("d").as("both_drop"),
          po.as("po"), pe.as("pe"))
        .withColumn("kappa",
          when(col("pe") < 1.0,
            round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 12)))
        .orderBy("source")
    },
    Some("""WITH lab AS (
              SELECT source,
                     n_chars >= 300 AS ka,
                     CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0
                          THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' '))
                     END >= 60 AS kb
              FROM documents),
            cen AS (
              SELECT source, count(*) AS n,
                     sum(CASE WHEN ka AND kb THEN 1 ELSE 0 END) AS a,
                     sum(CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END) AS b,
                     sum(CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END) AS c,
                     sum(CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END) AS d
              FROM lab GROUP BY 1),
            m AS (
              SELECT source, CAST(n AS BIGINT) AS n,
                     CAST(a AS BIGINT) AS both_keep, CAST(b AS BIGINT) AS only_a,
                     CAST(c AS BIGINT) AS only_b, CAST(d AS BIGINT) AS both_drop,
                     round(CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE), 12) AS po,
                     round((CAST(a + b AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(a + c AS DOUBLE) / CAST(n AS DOUBLE))
                         + (CAST(c + d AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(b + d AS DOUBLE) / CAST(n AS DOUBLE)), 12) AS pe
              FROM cen)
            SELECT source, n, both_keep, only_a, only_b, both_drop, po, pe,
                   CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 12) END AS kappa
            FROM m ORDER BY source"""))

  /** Average precision (area under the uninterpolated PR curve) per
    * source — the PR-side twin of q120's AUC-ROC, on the identical
    * score/label frame (score = n_chars, positive = lang 'en'): AP =
    * (1/P) Σ_{positives at pos k} precision@k under a DETERMINISTIC
    * ranking (score DESC, doc_id ASC — ties must break identically on
    * both engines or precision@k itself is ambiguous). AUC-ROC is
    * prevalence-blind; AP is the metric that moves when the positive
    * class is rare — the curation-filter planning number when "keep"
    * is the minority outcome.
    *
    * Scale: one per-source window sort (q120's exact shape) and one
    * aggregate — no pairwise work. Determinism: ranks and cumulative
    * positive counts are integers; each precision@k is one integer
    * divide; the per-source sum of precision terms rides the order-free
    * fixed-point sum at 15; sources with zero positives report NULL ap.
    */
  private val q279 = GraftQuery(
    "q279_average_precision",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val lab = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars").as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      val w = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").asc)
      val ranked = lab
        .withColumn("k", row_number().over(w))
        .withColumn("cum_pos", sum(col("pos")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val prec = when(col("pos") === 1L,
        col("cum_pos").cast("double") / col("k").cast("double"))
        .otherwise(lit(0.0))
      ranked
        .groupBy("source")
        .agg(
          count(lit(1)).as("n"),
          sum(col("pos")).as("n_pos"),
          graft.functions.Exact.sumFx(prec, 15).as("sum_prec"))
        .select(col("source"), col("n"), col("n_pos"),
          when(col("n_pos") > 0,
            round(col("sum_prec") / col("n_pos").cast("double"), 12)).as("ap"))
        .orderBy("source")
    },
    Some(s"""WITH lab AS (
              SELECT source, doc_id, n_chars AS score,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
              FROM documents),
            ranked AS (
              SELECT source, pos,
                     row_number() OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id) AS k,
                     sum(pos) OVER (PARTITION BY source
                       ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_pos
              FROM lab),
            terms AS (
              SELECT source,
                     CASE WHEN pos = 1
                       THEN CAST(cum_pos AS DOUBLE) / CAST(k AS DOUBLE)
                       ELSE 0.0 END AS prec,
                     pos
              FROM ranked),
            agg AS (
              SELECT source, count(*) AS n,
                     CAST(sum(pos) AS BIGINT) AS n_pos,
                     ${graft.functions.Exact.sumFxSql("prec", 15)} AS sum_prec
              FROM terms GROUP BY 1)
            SELECT source, n, n_pos,
                   CASE WHEN n_pos > 0
                     THEN round(sum_prec / CAST(n_pos AS DOUBLE), 12) END AS ap
            FROM agg ORDER BY source"""))

  val all: Seq[GraftQuery] =
    Seq(q50, q51, q52, q53, q55, q58, q64, q71, q72, q73, q74, q85, q86,
      q90, q92, q94, q96, q120, q124, q170, q180, q198, q199, q200, q206,
      q224, q235, q246, q255, q269, q279)
}
