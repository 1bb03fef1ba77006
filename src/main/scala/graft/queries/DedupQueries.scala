package graft.queries

import graft.{GraftQuery, Tables}
import graft.functions.TextFunctions
import graft.operators.{Dedup, NearDup}
import org.apache.spark.sql.functions._

/** Deduplication surface over `documents` (driver north star §2b): exact
  * (fingerprint hash-group), n-gram Jaccard (exact, inverted index),
  * MinHash+LSH and SimHash (sketch-based scale paths).
  */
object DedupQueries {

  /** The shared 3-gram Jaccard ≥ 0.3 pair set over the full documents
    * table — built ONCE per input content and cached across sessions
    * as an [[Artifacts]] entry (the embedding twin is `routed-pairs`):
    * seven registry queries consume this exact pair list (q19 orders it,
    * q33/q77/q224/q281 close it into clusters, q218 drives ROUGE overlap
    * from it, q220 sweeps thresholds over it), and before this landed
    * each NEW session (Verify, Bench, every scale probe) re-ran the full
    * Σ df(shingle)² inverted-index join per consumer chain. The build is
    * exact and deterministic given the input parquet (no seeds, no
    * sketches), so a cached artifact is indistinguishable from a rebuilt
    * one. Read-back uses an explicit schema so a zero-pair corpus (only
    * _SUCCESS in the dir) still reads as an empty frame.
    */
  private val TextPairsSchema = "doc_a LONG, doc_b LONG, jaccard DOUBLE"

  private[queries] def textPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val path = Artifacts.cached("text-pairs", "n3-t0.3-v1", Seq(s"$dir/documents.parquet")) { p =>
      NearDup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)
        .write.mode("overwrite").parquet(p)
    }
    s.read.schema(TextPairsSchema).parquet(path)
  }

  /** Exact dedup: one survivor per normalized-text fingerprint (smallest
    * doc_id wins — deterministic). The LLM-pipeline "exact dedup" stage.
    */
  private val q18 = GraftQuery(
    "q18_exact_dedup",
    (s, dir) =>
      Dedup.firstWriterWins(
        Tables.documents(s, dir)
          .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp")),
        Seq("fp"), Seq(col("doc_id").asc))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, fp FROM (
              SELECT doc_id, md5(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS fp,
                     row_number() OVER (PARTITION BY
                       md5(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))))
                       ORDER BY doc_id) AS rn
              FROM documents)
            WHERE rn = 1 ORDER BY doc_id"""))

  /** Exact 3-gram Jaccard near-dup pairs at τ = 0.3 via inverted-index join
    * (no O(n²) pair space; cost is Σ df(shingle)²).
    */
  private val q19 = GraftQuery(
    "q19_ngram_jaccard_pairs",
    (s, dir) => textPairsShared(s, dir).orderBy("doc_a", "doc_b"),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
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
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
            ORDER BY doc_a, doc_b"""))

  /** MinHash(64 perms)+LSH(16 bands) candidates, verified with exact
    * Jaccard at τ = 0.3. Emits only the verified (doc_a, doc_b, jaccard)
    * triples, so whenever LSH recall = 1.0 (asserted against q19 in
    * NearDupSpec) the output EQUALS the exact q19 answer — which makes
    * q19's oracle valid here too. A future recall dip would surface as a
    * hash mismatch, which is exactly the signal we want.
    */
  private val q20 = GraftQuery(
    "q20_minhash_lsh_pairs",
    (s, dir) =>
      NearDup.minhashLshPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b"),
    q19.oracle)

  // q21 lands its SimHash candidate pairs (via Landed: per-process +
  // per-scale-dir path, recorded for the post-run oracle dump) so the
  // oracle can replay the exact verification over the same list (the
  // sketch itself is xxhash64-seeded and has no DuckDB twin). def, not
  // val, so the oracle SQL embeds the recorded path at dump time.

  /** SimHash(64-bit) near-dup pairs within Hamming distance 3 (complete
    * 4×16-bit blocking), VERIFIED with the exact 3-gram Jaccard. The
    * sketch stays the candidate generator; the emitted pair list is
    * written to parquet and DuckDB recomputes the exact jaccard for
    * exactly those pairs — so the verification math (shingling, exact
    * set overlap, the ratio) is hash-gated even though the candidate
    * predicate is sketch-specific. Candidate recall vs the exact q19
    * pairs is bounded in NearDupSpec.
    */
  private def q21 = GraftQuery(
    "q21_simhash_pairs",
    (s, dir) => {
      val path = Landed.land("q21_simhash_pairs", dir)
      NearDup.simhashPairs(Tables.documents(s, dir), maxHamming = 3)
        // one part file: a zero-pair result still lands a schema-bearing
        // parquet (zero partitions would write only _SUCCESS and break
        // both the read-back and the oracle's glob); candidate lists are
        // small by construction
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      NearDup.verifyPairsJaccard(
          Tables.documents(s, dir), Tables.parquet(s, path), n = 3)
        .select("doc_a", "doc_b", "hamming", "jaccard")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM norm WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT doc_a, doc_b, hamming
              FROM read_parquet('${Landed.oraclePath("q21_simhash_pairs")}/*.parquet')),
            cnt AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT p.doc_a, p.doc_b, p.hamming,
                   CAST(COALESCE(cnt.c, 0) AS DOUBLE)
                     / (sa.n + sb.n - COALESCE(cnt.c, 0)) AS jaccard
            FROM pairs p
            LEFT JOIN cnt ON p.doc_a = cnt.doc_a AND p.doc_b = cnt.doc_b
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
            ORDER BY p.doc_a, p.doc_b"""))

  /** Near-dup pairs → dedup clusters (connected components, min-label
    * propagation) + survivor flag. Oracle: recursive-CTE transitive closure
    * over the same exact-Jaccard edges (tractable at sf0.01; the Spark side
    * is the one that scales).
    */
  private val q33 = GraftQuery(
    "q33_neardup_clusters",
    (s, dir) =>
      graft.operators.Components.neardupClustersContracted(textPairsShared(s, dir))
        .orderBy("doc_id"),
    Some("""WITH RECURSIVE norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
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
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS doc_id,
                   least(src, min(dst)) AS cluster_id,
                   least(src, min(dst)) = src AS is_survivor
            FROM reach GROUP BY src ORDER BY doc_id"""))

  /** Winnowing (rolling-hash) fingerprint overlap pairs — containment
    * detection — VERIFIED with the exact 3-gram containment
    * |A∩B|/min(|A|,|B|). The fingerprint sketch (engine-specific rolling
    * hash) generates candidates; the emitted list is parquet-landed and
    * DuckDB recomputes the exact containment for those pairs, hash-gating
    * the verification math. AdvancedOpsSpec plants a copied paragraph and
    * asserts the pair + bounds recall.
    */
  private def q35 = GraftQuery(
    "q35_winnow_overlap_pairs",
    (s, dir) => {
      val path = Landed.land("q35_winnow_overlap_pairs", dir)
      NearDup.winnowingPairs(Tables.documents(s, dir))
        .repartition(1) // see q21: empty-safe single part file
        .write.mode("overwrite").parquet(path)
      NearDup.verifyPairsContainment(
          Tables.documents(s, dir), Tables.parquet(s, path), n = 3)
        .select("doc_a", "doc_b", "n_shared", "containment")
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM norm WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT doc_a, doc_b, n_shared
              FROM read_parquet('${Landed.oraclePath("q35_winnow_overlap_pairs")}/*.parquet')),
            cnt AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT p.doc_a, p.doc_b, p.n_shared,
                   CAST(COALESCE(cnt.c, 0) AS DOUBLE) / least(sa.n, sb.n) AS containment
            FROM pairs p
            LEFT JOIN cnt ON p.doc_a = cnt.doc_a AND p.doc_b = cnt.doc_b
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
            ORDER BY p.doc_a, p.doc_b"""))

  /** q33's pipeline with driver replays switched off — the distributed
    * min-label-propagation closure forced end-to-end under the SAME
    * recursive-CTE oracle, so the scale path (the one a 100 TB corpus
    * would actually take) is hash-gated too, not just spec-differenced
    * against the driver union-find.
    */
  private val q77 = GraftQuery(
    "q77_neardup_clusters_distributed",
    (s, dir) => {
      val pairs = textPairsShared(s, dir)
      graft.operators.DriverReplay.distributedOnly(s) {
        graft.operators.Components.neardupClustersContracted(pairs)
      }.orderBy("doc_id")
    },
    q33.oracle)

  /** Canonical-document selection — the step AFTER near-dup clustering:
    * every document lands in a cluster (q33's transitive closure;
    * singletons form their own), and each cluster keeps its best-quality
    * member (ties → lowest doc_id, via a max-struct on (quality, −doc_id)
    * so the argmax is a plain hash aggregate, not a window sort). This is
    * the actual dedup DELETE list a training pipeline executes.
    */
  private val q65 = GraftQuery(
    "q65_canonical_docs",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      val clusters = graft.operators.Components.neardupClustersContracted(
        textPairsShared(s, dir))
        .select("doc_id", "cluster_id")
      val assigned = docs.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val best = assigned.groupBy("cluster_id")
        .agg(max(struct(col("quality"), (-col("doc_id")).as("nd"))).as("b"))
        .select(col("cluster_id"), (-col("b.nd")).as("canonical_id"))
      // no broadcast hint: cluster count ≈ doc count on a clean corpus, so
      // the canonical map can be fact-sized — AQE picks the strategy
      assigned.join(best, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
          (col("doc_id") === col("canonical_id")).as("keep"), col("quality"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
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
            cmap AS (
              SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src),
            tq AS (
              SELECT doc_id, text,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS toks,
                     CASE WHEN length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) = 0 THEN 0
                          ELSE len(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) END AS n,
                     length(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g')))) AS nlen
              FROM documents),
            mq AS (
              SELECT doc_id, n,
                     CAST(len(list_filter(toks, x -> x IN
                       ('the','a','an','and','of','in','to','is','it','for','on','with'))) AS DOUBLE)
                       / NULLIF(len(toks), 0) AS stopword_ratio,
                     CAST(nlen - n + 1 AS DOUBLE) / NULLIF(n, 0) AS mean_len
              FROM tq),
            q AS (
              SELECT doc_id,
                     COALESCE(0.4 * least(1.0, CAST(n AS DOUBLE) / 50.0)
                     + 0.3 * (1.0 - least(1.0, abs(stopword_ratio - 0.45) * 2.0))
                     + 0.3 * (1.0 - least(1.0, abs(mean_len - 5.0) / 5.0)), 0.0) AS quality
              FROM mq),
            assigned AS (
              SELECT q.doc_id, COALESCE(cmap.cluster_id, q.doc_id) AS cluster_id, quality
              FROM q LEFT JOIN cmap ON q.doc_id = cmap.doc_id),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY cluster_id
                          ORDER BY quality DESC, doc_id ASC) AS rn
              FROM assigned),
            canon AS (SELECT cluster_id, doc_id AS canonical_id FROM ranked WHERE rn = 1)
            SELECT a.doc_id, a.cluster_id, c.canonical_id,
                   (a.doc_id = c.canonical_id) AS keep, a.quality
            FROM assigned a JOIN canon c ON a.cluster_id = c.cluster_id
            ORDER BY a.doc_id"""))

  /** Exact 3-gram Jaccard pairs at τ = 0.5 via PREFIX FILTERING
    * ([[graft.operators.SetSimJoin.prefixJaccardJoin]]) — same answer
    * family as q19's full inverted index, but candidates are generated
    * only from each document's rarest (df-ascending) shingle prefix, the
    * AllPairs/PPJoin bound that survives template-heavy corpora. The
    * oracle is the brute-force pair arithmetic: the exactness claim of
    * prefix filtering (no false negatives) is precisely what the hash
    * compare certifies.
    */
  private val q118 = GraftQuery(
    "q118_setsim_prefix_join",
    (s, dir) =>
      graft.operators.SetSimJoin
        .prefixJaccardJoin(Tables.documents(s, dir), n = 3, threshold = 0.5)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
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
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, c AS n_common,
                   round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 12) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
            ORDER BY doc_a, doc_b"""))

  /** Blocked exact edit-distance pairs: candidates share their first 32
    * characters (blocks capped at 64 members — the skew guard is part of
    * the contract and the oracle applies it identically), verified with
    * full-text Levenshtein. The char-level high-precision near-dup stage.
    */
  private val q119 = GraftQuery(
    "q119_blocked_edit_distance",
    (s, dir) =>
      graft.operators.SetSimJoin
        .blockedEditDistancePairs(Tables.documents(s, dir), blockPrefix = 32, maxBlock = 64)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH keyed AS (
              SELECT doc_id, text, substr(text, 1, 32) AS k FROM documents),
            small AS (
              SELECT k FROM keyed GROUP BY k
              HAVING count(*) > 1 AND count(*) <= 64),
            b AS (SELECT keyed.* FROM keyed JOIN small USING (k))
            SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
                   CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist,
                   round(1.0 - CAST(levenshtein(a.text, c.text) AS DOUBLE)
                     / greatest(length(a.text), length(c.text)), 12) AS sim
            FROM b a JOIN b c ON a.k = c.k AND a.doc_id < c.doc_id
            ORDER BY doc_a, doc_b"""))

  // def, not val: q21/q35 rebuild their oracle SQL from the recorded
  // landing path on every access (see the Landed note above)
  /** Sparse TF-IDF cosine near-dup pairs at τ = 0.6 over a df ≤ ⌈0.15·D⌉
    * capped vocabulary ([[NearDup.tfidfCosinePairs]]) — the lexical-vector
    * twin of q23's embedding cosine: same inverted-index candidate scheme
    * as q19, tf·ln(D/df) weights (the q115 fragment), decimal-exact dots
    * and norms (the q22 cosSql discipline), so the oracle replays the
    * whole pipeline from raw text.
    */
  private val q143 = GraftQuery(
    "q143_tfidf_cosine_pairs",
    (s, dir) =>
      NearDup.tfidfCosinePairs(Tables.documents(s, dir), threshold = 0.6, maxDocFreqFrac = 0.15)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH occ AS (
              SELECT doc_id,
                     unnest(string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ')) AS word
              FROM documents),
            tf AS (SELECT doc_id, word, count(*) AS tf FROM occ GROUP BY 1, 2),
            d AS (SELECT count(*) AS d_total FROM documents),
            dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1
                      HAVING count(*) <= (SELECT ceil(0.15 * d_total) FROM d)),
            wts AS (
              SELECT doc_id, word,
                     round(CAST(tf AS DOUBLE)
                       * ln(CAST(d_total AS DOUBLE) / CAST(df AS DOUBLE)), 12) AS w
              FROM tf JOIN dfreq USING (word) CROSS JOIN d),
            norms AS (
              SELECT doc_id,
                     sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,20))) AS DOUBLE)) AS nrm
              FROM wts GROUP BY 1),
            dots AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(sum(CAST(a.w * b.w AS DECIMAL(38,20))) AS DOUBLE) AS dot
              FROM wts a JOIN wts b ON a.word = b.word AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 12) AS cos
            FROM dots
            JOIN norms na ON doc_a = na.doc_id
            JOIN norms nb ON doc_b = nb.doc_id
            WHERE dot / (na.nrm * nb.nrm) >= 0.6
            ORDER BY doc_a, doc_b"""))

  /** Benchmark-contamination REPORT: per-source counts and rates of
    * training documents sharing any k-token shingle with a held-out
    * evaluation set — the standard n-gram-overlap test-set-leak check
    * (GPT-3 §B ran 13-gram overlap; k = 8 here because the synthetic
    * docs are short). q51 (`Curation.decontaminate`, 3-gram, ≥3 shared)
    * is the FILTER that drops offenders from the corpus; this is the
    * audit view that quantifies leak pressure per source under a
    * stricter long-n-gram/any-overlap contract. The eval set is a
    * deterministic slice (doc_id ≡ 0 mod 11) so both engines derive it
    * identically; real pipelines substitute the benchmark corpus.
    *
    * Plan shape: one token pass builds md5 shingles for BOTH sides, the
    * eval side collapses to a distinct shingle set, and contamination is
    * a LEFT SEMI join on the shingle hash — the inverted-index shape, no
    * doc×doc comparison anywhere. At 100 TB the eval side is tiny and
    * broadcastable by AQE; if the eval set ever outgrows broadcast, the
    * semi join is the same one-shuffle-each-side hash join every dedup
    * query here rides, and [[graft.operators.BloomSemiJoin]] slots in as
    * the ≤fpp-overcount prefilter.
    */
  def contaminationReport(docs: org.apache.spark.sql.DataFrame,
      k: Int = 8, evalMod: Int = 11): org.apache.spark.sql.DataFrame = {
    val sh = docs
      .select(col("doc_id"), col("source"), TextFunctions.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"transform(sequence(1, size(t) - ${k - 1}), i -> md5(concat_ws(' ', slice(t, i, $k))))"))
          .as("sh"))
    val evalSh = sh.filter(col("doc_id") % evalMod === 0).select("sh").distinct()
    val contaminated = sh.filter(col("doc_id") % evalMod =!= 0)
      .join(evalSh, Seq("sh"), "left_semi")
      .select("doc_id", "source").distinct()
    val train = docs.filter(col("doc_id") % evalMod =!= 0)
      .groupBy("source").agg(count(lit(1)).as("n_train"))
    contaminated.groupBy("source").agg(count(lit(1)).as("n_contaminated"))
      .join(train, Seq("source"), "right")
      .select(col("source"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(coalesce(col("n_contaminated"), lit(0L)).cast("double")
          / col("n_train").cast("double"), 9).as("contamination_rate"))
      .orderBy("source")
  }

  private val q146 = GraftQuery(
    "q146_decontamination",
    (s, dir) => contaminationReport(Tables.documents(s, dir)),
    Some("""WITH norm AS (
              SELECT doc_id, source,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, source,
                     unnest([md5(array_to_string(list_slice(t, i, i + 7), ' '))
                             for i in generate_series(1, len(t) - 7)]) AS sh
              FROM norm WHERE len(t) >= 8),
            ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 11 = 0),
            cont AS (
              SELECT DISTINCT doc_id, source FROM sh
              WHERE doc_id % 11 <> 0 AND sh IN (SELECT sh FROM ev)),
            train AS (
              SELECT source, count(*) AS n_train FROM documents
              WHERE doc_id % 11 <> 0 GROUP BY source),
            c AS (SELECT source, count(*) AS n_contaminated FROM cont GROUP BY source)
            SELECT t.source, t.n_train,
                   CAST(coalesce(c.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   round(CAST(coalesce(c.n_contaminated, 0) AS DOUBLE)
                     / CAST(t.n_train AS DOUBLE), 9) AS contamination_rate
            FROM train t LEFT JOIN c ON t.source = c.source
            ORDER BY t.source"""))

  /** Duplicate-paragraph-fraction filter (the Dolma/RefinedWeb doc-level
    * rule): a document is dropped when MORE THAN 30 % of its 8-token
    * passages also appear in at least one OTHER document — the doc-level
    * verdict derived from passage-level duplication stats. Distinct from
    * q73 (which keeps the first occurrence of each passage) and q85 (which
    * strips frequent passages from every doc): here the passage stats
    * decide the fate of the WHOLE document. Plan shape: one explode into
    * non-overlapping 8-token chunk fingerprints, ONE shuffle on the
    * fingerprint for the distinct-doc count, a co-partitioned join back,
    * and a per-doc then per-source aggregate — no self-join, no window.
    * Determinism: the fraction is one integer-ratio IEEE division and the
    * report mean follows the q102 decimal-sum contract.
    */
  private val q181 = GraftQuery(
    "q181_dup_paragraph_filter",
    (s, dir) => {
      // materialized (not just a shared subplan) so the fingerprint join
      // back is ONE scan by construction — Catalyst exchange reuse would
      // otherwise be the only thing standing between this plan and a
      // double tokenize+explode of the corpus
      val ch = graft.operators.Components.cut(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            TextFunctions.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 8)
          .select(col("doc_id"), col("source"),
            explode(expr(
              "transform(sequence(1, size(t) - 7, 8), i -> md5(concat_ws(' ', slice(t, i, 8))))"))
              .as("fp")))
      val fpDocs = ch.groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("nd"))
      val perDoc = ch.join(fpDocs, "fp")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .withColumn("frac",
          col("n_dup").cast("double") / col("n_chunks").cast("double"))
      perDoc.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("frac") <= 0.3, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("frac") > 0.3, 1L).otherwise(0L)).as("n_dropped"),
          round(
            sum(round(col("frac"), 15)
              .cast(org.apache.spark.sql.types.DecimalType(38, 15)))
              .cast("double") / count(lit(1)).cast("double"), 9)
            .as("mean_dup_frac"))
        .orderBy("source")
    },
    Some("""WITH d AS (
              SELECT doc_id, source,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            ch AS (
              SELECT doc_id, source,
                     unnest([md5(array_to_string(list_slice(t, i, i + 7), ' '))
                             for i in generate_series(1, len(t) - 7, 8)]) AS fp
              FROM d WHERE len(t) >= 8),
            fd AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM ch GROUP BY fp),
            pd AS (
              SELECT doc_id, source, count(*) AS n_chunks,
                     CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              FROM ch JOIN fd USING (fp)
              GROUP BY doc_id, source),
            f AS (
              SELECT doc_id, source,
                     CAST(n_dup AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS frac
              FROM pd)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(CASE WHEN frac <= CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN frac > CAST(0.3 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                   round(CAST(sum(CAST(round(frac, 15) AS DECIMAL(38,15))) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE), 9) AS mean_dup_frac
            FROM f GROUP BY source ORDER BY source"""))

  /** Blocked fuzzy entity resolution over part names — the classic
    * record-linkage pipeline (blocking → bounded pairwise edit distance →
    * transitive closure → canonical survivor) that near-dup text dedup
    * doesn't cover: "cold anvil" and "old anvil" are one entity typed two
    * ways, invisible to shingle Jaccard at these lengths. Stages:
    *
    *  1. CANONICALIZE-FIRST: distinct names only (the round-8 clone
    *     canonicalization applied to ER — every comparison happens once
    *     per name VALUE, never per row, so a billion rows of the same
    *     misspelling cost one node).
    *  2. BLOCK on the last token: candidate pairs form only within a
    *     block, the standard recall-for-scale trade (documented part of
    *     the operator contract — both engines implement the same block,
    *     so the oracle grades the contract, not an ideal).
    *  3. MATCH at Levenshtein ≤ 2 (Spark's and DuckDB's levenshtein are
    *     both the classic unit-cost insert/delete/substitute distance).
    *  4. Connected components ([[graft.operators.Components]], min-name
    *     canonical) expand matches transitively, then every part row
    *     joins back to its canonical name.
    *
    * Scale: pairwise work is |block|² over DISTINCT names per block —
    * name vocabulary, not corpus size; the expansion back to rows is one
    * broadcast-size hash join (a name dictionary is always tiny relative
    * to the fact table carrying it).
    */
  private val q186 = GraftQuery(
    "q186_fuzzy_name_components",
    (s, dir) => {
      val parts = Tables.part(s, dir)
      val dict = Dedup.fuzzyNameClusters(parts, "p_name",
        element_at(split(col("p_name"), " "), -1), maxDistance = 2)
      parts.join(dict, Seq("p_name"))
        .groupBy("canonical")
        .agg(
          countDistinct(col("p_name")).as("n_variants"),
          count(lit(1)).as("n_parts"),
          graft.functions.Exact.sumD(col("p_retailprice"), 4).as("retail_value"))
        .orderBy("canonical")
    },
    Some("""WITH RECURSIVE names AS (
              SELECT DISTINCT p_name,
                     list_extract(string_split(p_name, ' '), -1) AS blk
              FROM part),
            cand AS (
              SELECT a.p_name AS s, b.p_name AS d
              FROM names a JOIN names b
                ON a.blk = b.blk AND a.p_name < b.p_name
              WHERE levenshtein(a.p_name, b.p_name) <= 2),
            edges AS (SELECT s, d FROM cand UNION SELECT d, s FROM cand),
            reach(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
            canon AS (
              SELECT s AS p_name, least(s, min(d)) AS canonical
              FROM reach GROUP BY s)
            SELECT coalesce(c.canonical, p.p_name) AS canonical,
                   count(DISTINCT p.p_name) AS n_variants,
                   count(*) AS n_parts,
                   CAST(sum(CAST(p_retailprice AS DECIMAL(30,4))) AS DOUBLE)
                     AS retail_value
            FROM part p LEFT JOIN canon c USING (p_name)
            GROUP BY 1 ORDER BY 1"""))

  /** Cross-document exact-substring repeat profile — phase one of
    * exact-substring training-data dedup (Lee et al. 2021, arXiv
    * 2107.06499): hash every 8-token window, flag hashes occurring in
    * >= 2 DISTINCT documents, and report per-document covered-token
    * counts via an interval merge over sorted window starts. There is no
    * pair join anywhere, so the operator is clone-LINEAR (a boilerplate
    * block shared by g documents costs g flagged rows, not g^2) — the
    * scale-defining property vs the pair-emitting q19/q20 family. The
    * DuckDB oracle rebuilds the identical windows as chr(1)-joined
    * STRINGS, so both engines flag the same window sets (xxhash64
    * collisions aside, P ~ windows^2/2^64).
    */
  private val q201 = GraftQuery(
    "q201_crossdoc_substring_dedup",
    (s, dir) =>
      Dedup.crossDocRepeatProfile(Tables.documents(s, dir), w = 8)
        .orderBy("doc_id"),
    Some("""WITH norm AS (
              SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            toks AS (
              SELECT doc_id, string_split(nt, ' ') AS t,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens
              FROM norm),
            g AS (
              SELECT doc_id, unnest([{'p': i, 'gr': array_to_string(t[i:i+7], chr(1))}
                       for i in generate_series(1, len(t) - 7)], recursive := true)
              FROM toks WHERE n_tokens >= 8),
            d AS (SELECT gr FROM g GROUP BY gr HAVING count(DISTINCT doc_id) >= 2),
            f AS (SELECT doc_id, p FROM g JOIN d USING (gr)),
            cov AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN nxt IS NULL OR nxt - p >= 8 THEN 8
                              ELSE nxt - p END) AS BIGINT) AS dup_tokens
              FROM (SELECT doc_id, p,
                           lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
                    FROM f)
              GROUP BY doc_id)
            SELECT t.doc_id, t.n_tokens,
                   COALESCE(cov.dup_tokens, 0) AS dup_tokens,
                   round(CASE WHEN t.n_tokens = 0 THEN 0.0
                         ELSE CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE)
                              / t.n_tokens END, 12) AS dup_frac
            FROM toks t LEFT JOIN cov USING (doc_id)
            ORDER BY t.doc_id"""))

  /** Exact-substring REMOVAL (Lee et al. 2021 phase 2), completing q201's
    * profile-only pass: tokens covered by a ≥2-doc repeated 8-token
    * window are cut via [[Dedup.exactSubstringRemove]]'s merged-interval
    * coverage, the survivors reassemble into the cleaned training text,
    * and `clean_md5` hash-gates the RECONSTRUCTED stream (the q85
    * contract) — so the oracle pins the actual emitted text, not just
    * the counts. The DuckDB side rebuilds the identical windows as
    * chr(1)-joined strings (q201's convention), expands flagged starts
    * to covered positions, and anti-joins the token positions.
    */
  private val q284 = GraftQuery(
    "q284_exact_substring_removal",
    (s, dir) =>
      Dedup.exactSubstringRemove(Tables.documents(s, dir), w = 8)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          col("kept_tokens"), md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id"),
    Some("""WITH norm AS (
              SELECT doc_id, lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS nt
              FROM documents),
            toks AS (
              SELECT doc_id, string_split(nt, ' ') AS t,
                     CAST(CASE WHEN length(nt) = 0 THEN 0
                          ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens
              FROM norm),
            g AS (
              SELECT doc_id, unnest([{'p': i, 'gr': array_to_string(t[i:i+7], chr(1))}
                       for i in generate_series(1, len(t) - 7)], recursive := true)
              FROM toks WHERE n_tokens >= 8),
            d AS (SELECT gr FROM g GROUP BY gr HAVING count(DISTINCT doc_id) >= 2),
            f AS (SELECT doc_id, p FROM g JOIN d USING (gr)),
            covp AS (
              SELECT DISTINCT doc_id, unnest(generate_series(p, p + 7)) AS i FROM f),
            pos AS (
              SELECT doc_id, u.i, t[u.i] AS tok
              FROM toks, UNNEST(generate_series(1, CAST(n_tokens AS INT))) AS u(i)),
            kept AS (
              SELECT p.doc_id, p.i, p.tok
              FROM pos p LEFT JOIN covp c ON p.doc_id = c.doc_id AND p.i = c.i
              WHERE c.i IS NULL),
            agg AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
                     md5(string_agg(tok, ' ' ORDER BY i)) AS clean_md5
              FROM kept GROUP BY doc_id)
            SELECT t.doc_id, t.n_tokens,
                   CAST(t.n_tokens - COALESCE(a.kept_tokens, 0) AS BIGINT) AS dup_tokens,
                   CAST(COALESCE(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                   COALESCE(a.clean_md5, md5('')) AS clean_md5
            FROM toks t LEFT JOIN agg a USING (doc_id)
            ORDER BY t.doc_id"""))

  /** Incremental near-dup maintenance — q19's exact pairs restricted to
    * those touching a "new batch" (the synthetic daily crawl: doc_id % 10
    * = 7), computed by driving the inverted-index join from the batch's
    * postings only ([[NearDup.ngramJaccardPairsIncremental]]): per-shingle
    * cost df_new·df_all, linear in the increment, where a nightly full
    * recompute would pay the corpus quadratic again. The oracle computes
    * the FULL exact pair set and filters by batch membership — so the
    * incremental path is gated against the ground truth it claims to
    * maintain, not against itself.
    */
  private val q205 = GraftQuery(
    "q205_incremental_jaccard_pairs",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      NearDup.ngramJaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7), n = 3, threshold = 0.3)
        .orderBy("doc_a", "doc_b")
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
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
            FROM common
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
              AND (doc_a % 10 = 7 OR doc_b % 10 = 7)
            ORDER BY doc_a, doc_b"""))

  /** Shared oracle CTE prefix: normalized token arrays + the exact
    * 3-gram Jaccard pair set at `threshold` — q33's pair pipeline,
    * factored for the q218/q220 consumers (jaccard carried through).
    */
  private def pairCtes(threshold: Double): String =
    s"""norm AS (
         SELECT doc_id,
                string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
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
         SELECT doc_a, doc_b,
                CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
         FROM common
         JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= $threshold)"""

  /** ROUGE-1/2 scores for each near-dup pair (doc_a the reference, doc_b
    * the candidate — the pair orientation is already canonical a < b):
    * clipped-count n-gram overlap, the summarization-eval arithmetic
    * reused as a dedup diagnostic — "how much of the kept doc does the
    * dropped doc actually reproduce", which whole-set Jaccard (the pair
    * filter) deliberately blurs. Counts are MULTISET (clipped by
    * least(count_a, count_b)), unlike the distinct-shingle Jaccard.
    *
    * Scale shape: gram counting runs ONLY over docs that appear in a pair
    * (left-semi prune, the verifyPairsJaccard discipline), per-pair
    * overlaps are two inverted joins on (gram) — Σ df_pairdocs(gram)²
    * bounded by the pair list, never the corpus — and every score is a
    * ratio of exact integer sums, so both engines emit identical doubles.
    */
  private val q218 = GraftQuery(
    "q218_rouge_pair_overlap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = textPairsShared(s, dir).select("doc_a", "doc_b")
      val ids = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val toks = graft.operators.Components.cut(
        docs.join(ids, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("t")))
      def gramCounts(n: Int) = {
        val grams =
          if (n == 1) toks.select(col("doc_id"), explode(col("t")).as("g"))
          else toks.filter(size(col("t")) >= n)
            .select(col("doc_id"), explode(expr(
              "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
              .as("g"))
        grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      }
      val gc1 = graft.operators.Components.cut(gramCounts(1))
      val gc2 = graft.operators.Components.cut(gramCounts(2))
      def scores(gc: org.apache.spark.sql.DataFrame, tag: String) = {
        val tot = gc.groupBy("doc_id").agg(sum(col("c")).as("tot"))
        // pairs DRIVE the overlap join (never gram x gram across the
        // whole pair-doc set): pairs join a-grams on doc_a, then an equi
        // join on (doc_b, gram) - work bounded by per-pair gram counts
        val ov = pairs
          .join(gc.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")),
            Seq("doc_a"))
          .join(gc.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")),
            Seq("doc_b", "g"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(least(col("ca"), col("cb"))).as("ov"))
        pairs
          .join(ov, Seq("doc_a", "doc_b"), "left")
          .join(tot.select(col("doc_id").as("doc_a"), col("tot").as("ta")),
            Seq("doc_a"), "left")
          .join(tot.select(col("doc_id").as("doc_b"), col("tot").as("tb")),
            Seq("doc_b"), "left")
          .select(col("doc_a"), col("doc_b"),
            coalesce(col("ov"), lit(0L)).as("ov"),
            coalesce(col("ta"), lit(0L)).as("ta"),
            coalesce(col("tb"), lit(0L)).as("tb"))
          .withColumn(s"r${tag}_recall",
            when(col("ta") === 0, lit(0.0))
              .otherwise(round(col("ov").cast("double") / col("ta").cast("double"), 9)))
          .withColumn(s"r${tag}_precision",
            when(col("tb") === 0, lit(0.0))
              .otherwise(round(col("ov").cast("double") / col("tb").cast("double"), 9)))
          .withColumn(s"r${tag}_f1",
            when(col("ov") === 0, lit(0.0))
              .otherwise(round(
                lit(2.0) * (col("ov").cast("double") / col("ta").cast("double"))
                  * (col("ov").cast("double") / col("tb").cast("double"))
                  / (col("ov").cast("double") / col("ta").cast("double")
                    + col("ov").cast("double") / col("tb").cast("double")), 9)))
          .select(col("doc_a"), col("doc_b"),
            col(s"r${tag}_precision"), col(s"r${tag}_recall"), col(s"r${tag}_f1"))
      }
      scores(gc1, "1")
        .join(scores(gc2, "2"), Seq("doc_a", "doc_b"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH ${pairCtes(0.3)},
            pids AS (SELECT doc_a AS doc_id FROM pairs
                     UNION SELECT doc_b FROM pairs),
            g1 AS (SELECT n.doc_id, unnest(n.t) AS g
                   FROM norm n JOIN pids USING (doc_id)),
            gc1 AS (SELECT doc_id, g, count(*) AS c FROM g1 GROUP BY 1, 2),
            g2 AS (SELECT n.doc_id,
                          unnest([n.t[i] || ' ' || n.t[i+1]
                                  for i in generate_series(1, len(n.t)-1)]) AS g
                   FROM norm n JOIN pids USING (doc_id)
                   WHERE len(n.t) >= 2),
            gc2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
            t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM gc1 GROUP BY 1),
            t2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tot FROM gc2 GROUP BY 1),
            o1 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
                   FROM gc1 a JOIN gc1 b ON a.g = b.g
                   JOIN pairs p ON p.doc_a = a.doc_id AND p.doc_b = b.doc_id
                   GROUP BY 1, 2),
            o2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          CAST(sum(least(a.c, b.c)) AS BIGINT) AS ov
                   FROM gc2 a JOIN gc2 b ON a.g = b.g
                   JOIN pairs p ON p.doc_a = a.doc_id AND p.doc_b = b.doc_id
                   GROUP BY 1, 2),
            sc AS (
              SELECT p.doc_a, p.doc_b,
                     coalesce(o1.ov, 0) AS ov1, coalesce(ta1.tot, 0) AS ta1,
                     coalesce(tb1.tot, 0) AS tb1,
                     coalesce(o2.ov, 0) AS ov2, coalesce(ta2.tot, 0) AS ta2,
                     coalesce(tb2.tot, 0) AS tb2
              FROM pairs p
              LEFT JOIN o1 ON o1.doc_a = p.doc_a AND o1.doc_b = p.doc_b
              LEFT JOIN o2 ON o2.doc_a = p.doc_a AND o2.doc_b = p.doc_b
              LEFT JOIN t1 ta1 ON ta1.doc_id = p.doc_a
              LEFT JOIN t1 tb1 ON tb1.doc_id = p.doc_b
              LEFT JOIN t2 ta2 ON ta2.doc_id = p.doc_a
              LEFT JOIN t2 tb2 ON tb2.doc_id = p.doc_b)
            SELECT doc_a, doc_b,
                   CASE WHEN tb1 = 0 THEN 0.0
                        ELSE round(CAST(ov1 AS DOUBLE) / CAST(tb1 AS DOUBLE), 9)
                   END AS r1_precision,
                   CASE WHEN ta1 = 0 THEN 0.0
                        ELSE round(CAST(ov1 AS DOUBLE) / CAST(ta1 AS DOUBLE), 9)
                   END AS r1_recall,
                   CASE WHEN ov1 = 0 THEN 0.0
                        ELSE round(2.0 * (CAST(ov1 AS DOUBLE) / CAST(ta1 AS DOUBLE))
                               * (CAST(ov1 AS DOUBLE) / CAST(tb1 AS DOUBLE))
                               / (CAST(ov1 AS DOUBLE) / CAST(ta1 AS DOUBLE)
                                  + CAST(ov1 AS DOUBLE) / CAST(tb1 AS DOUBLE)), 9)
                   END AS r1_f1,
                   CASE WHEN tb2 = 0 THEN 0.0
                        ELSE round(CAST(ov2 AS DOUBLE) / CAST(tb2 AS DOUBLE), 9)
                   END AS r2_precision,
                   CASE WHEN ta2 = 0 THEN 0.0
                        ELSE round(CAST(ov2 AS DOUBLE) / CAST(ta2 AS DOUBLE), 9)
                   END AS r2_recall,
                   CASE WHEN ov2 = 0 THEN 0.0
                        ELSE round(2.0 * (CAST(ov2 AS DOUBLE) / CAST(ta2 AS DOUBLE))
                               * (CAST(ov2 AS DOUBLE) / CAST(tb2 AS DOUBLE))
                               / (CAST(ov2 AS DOUBLE) / CAST(ta2 AS DOUBLE)
                                  + CAST(ov2 AS DOUBLE) / CAST(tb2 AS DOUBLE)), 9)
                   END AS r2_f1
            FROM sc ORDER BY doc_a, doc_b"""))

  /** Per-document 8-gram novelty: the fraction of a document's distinct
    * 8-gram shingles that appear in NO other document — the diversity /
    * near-memorization probe a curation run reads next to the dedup
    * family (a low-novelty doc is assembled from corpus boilerplate even
    * when no single pair crosses a dedup threshold). One shingle explode
    * + one df aggregate + one per-doc rollup: Σ postings, linear in the
    * corpus; df is shuffle-keyed on the shingle hash like q19's index.
    * Documents shorter than 8 tokens have no shingles and are absent, the
    * q33 shingle-CTE convention.
    */
  private val q219 = GraftQuery(
    "q219_ngram_novelty",
    (s, dir) => {
      val sh = graft.operators.Components.cut(
        graft.Tables.widen(
            Tables.documents(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            graft.functions.Sketches.wordShingles(col("text"), 8).as("shingles"))
          .filter(size(col("shingles")) > 0)
          .select(col("doc_id"), explode(col("shingles")).as("s")))
      val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
      sh.join(df, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 9))
        .orderBy("doc_id")
    },
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                          || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
                          || ' ' || t[i+7]
                        for i in generate_series(1, len(t)-7)])) AS s
              FROM norm WHERE len(t) >= 8),
            df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
            SELECT doc_id, count(*) AS n_shingles,
                   CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                   round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS novelty
            FROM sh JOIN df USING (s)
            GROUP BY doc_id ORDER BY doc_id"""))

  private val SweepThresholds = Seq(0.3, 0.5, 0.7, 0.9)

  /** Dedup threshold sensitivity sweep: pair count, touched-document
    * count, and mean Jaccard at each candidate threshold, from ONE exact
    * pair computation at the loosest setting — the diagnostic a curation
    * owner reads before committing a dedup threshold (how sharply does
    * the prune grow as the bar drops). The sweep reuses the single
    * Σ df² inverted-index join; each threshold row is a filter + two
    * bounded aggregates over the pair list, so the sweep costs one q19
    * regardless of how many thresholds it reports.
    */
  private val q220 = GraftQuery(
    "q220_dedup_threshold_sweep",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      // SweepThresholds.min == the artifact's 0.3 bar, so the sweep's one
      // exact pair computation IS the shared landed set
      val pairs = textPairsShared(s, dir)
      SweepThresholds.map { t =>
        val p = pairs.filter(col("jaccard") >= t)
        val nDocs = p.select(col("doc_a").as("d"))
          .union(p.select(col("doc_b").as("d")))
          .agg(countDistinct(col("d")).as("n_docs"))
        p.agg(
            count(lit(1)).as("n_pairs"),
            sum(round(col("jaccard"), 15).cast(DecimalType(38, 15))).as("jsum"))
          .crossJoin(nDocs)
          .select(lit(t).as("threshold"), col("n_pairs"), col("n_docs"),
            when(col("n_pairs") === 0, lit(0.0))
              .otherwise(round(col("jsum").cast("double")
                / col("n_pairs").cast("double"), 9)).as("mean_jaccard"))
      }.reduce(_ unionByName _)
        .orderBy("threshold")
    },
    Some {
      val perT = SweepThresholds.map { t =>
        s"""SELECT $t AS threshold,
               count(*) AS n_pairs,
               (SELECT count(DISTINCT d) FROM (
                  SELECT doc_a AS d FROM pairs WHERE jaccard >= $t
                  UNION ALL SELECT doc_b FROM pairs WHERE jaccard >= $t)) AS n_docs,
               CASE WHEN count(*) = 0 THEN 0.0
                    ELSE round(CAST(sum(CAST(round(jaccard, 15) AS DECIMAL(38,15)))
                           AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
               END AS mean_jaccard
            FROM pairs WHERE jaccard >= $t"""
      }.mkString("\n            UNION ALL\n            ")
      s"""WITH ${pairCtes(SweepThresholds.min)}
          SELECT threshold, n_pairs, n_docs, mean_jaccard
          FROM ($perT) ORDER BY threshold"""
    })

  /** MinHash estimator-error census: for every verified q20 pair, the
    * signature-estimated Jaccard vs the exact one, with the binomial
    * 3σ acceptance band (σ = √(j(1−j)/k), k = 64 permutations) — the
    * measurement that justifies trusting the sketch as a candidate
    * generator at scale. The landed-pair gate (q21/q35 scheme): the
    * xxhash-seeded signature has no SQL twin, so the emitted
    * (pair, est) list lands to parquet and DuckDB recomputes the exact
    * Jaccard and the band verdict for exactly those pairs — the error
    * math is hash-gated even though the estimator itself is
    * engine-specific.
    */
  private def q233 = GraftQuery(
    "q233_minhash_error_census",
    (s, dir) => {
      val path = Landed.land("q233_minhash_error_census", dir)
      NearDup.minhashLshPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)
        .repartition(1) // see q21: empty-safe single part file
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .select(col("doc_a"), col("doc_b"),
          round(col("est_jaccard"), 12).as("est_jaccard"),
          col("jaccard"),
          round(abs(col("est_jaccard") - col("jaccard")), 12).as("abs_err"),
          (abs(col("est_jaccard") - col("jaccard")) <=
            lit(3.0) * sqrt(col("jaccard") * (lit(1.0) - col("jaccard"))
              / lit(64.0))).as("within_3sigma"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH lp AS (
              SELECT doc_a, doc_b, est_jaccard
              FROM read_parquet('${Landed.oraclePath("q233_minhash_error_census")}/*.parquet')),
            norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                        for i in generate_series(1, len(t)-2)])) AS s
              FROM norm WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            cc AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            ex AS (
              SELECT lp.doc_a, lp.doc_b, lp.est_jaccard,
                     CAST(cc.c AS DOUBLE) / (sa.n + sb.n - cc.c) AS jaccard
              FROM lp
              JOIN cc ON cc.da = lp.doc_a AND cc.db = lp.doc_b
              JOIN sizes sa ON lp.doc_a = sa.doc_id
              JOIN sizes sb ON lp.doc_b = sb.doc_id)
            SELECT doc_a, doc_b, round(est_jaccard, 12) AS est_jaccard, jaccard,
                   round(abs(est_jaccard - jaccard), 12) AS abs_err,
                   abs(est_jaccard - jaccard)
                     <= 3.0 * sqrt(jaccard * (1.0 - jaccard) / 64.0)
                     AS within_3sigma
            FROM ex ORDER BY doc_a, doc_b"""))

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) over the
    * part catalog — the SCORED upgrade of q186's boolean fuzzy matching:
    * each blocked candidate pair accumulates per-field log-likelihood
    * weights log₂(m/u) on agreement and log₂((1−m)/(1−u)) on
    * disagreement (m = P(agree | match), u = P(agree | non-match)), and
    * the summed score classifies match / possible per the decision
    * thresholds. The m/u parameters are fixed literals (in practice EM
    * estimates); both engines inline the SAME double literals, so scores
    * replay bit-for-bit.
    *
    * Blocking contract: candidates share (last name token, p_brand) — the
    * q186 last-token block tightened by brand, so pairwise work is
    * Σ|block|² over a (noun × brand)-partitioned catalog, never
    * |parts|². Σ|block|² still grows quadratically when blocks scale
    * with the corpus (the ×10 probe measured 29× for 10× rows), so a
    * hub-block cap (the q143 maxDocFreqFrac discipline) bounds it: blocks
    * larger than 200 records are excluded from pairing — at production
    * scale an oversized block means the blocking key is too coarse and
    * needs another field, not more compute. Fields compared: name edit
    * distance ≤ 1 (codegen'd levenshtein on both engines), type
    * equality, size equality.
    */
  private val FsMaxBlock = 200
  private val q243 = GraftQuery(
    "q243_fellegi_sunter",
    (s, dir) => {
      // (m, u) per field; weights as exact double literals shared with the oracle
      def w2(m: Double, u: Double) = (log2(m / u), log2((1 - m) / (1 - u)))
      def log2(x: Double) = math.log(x) / math.log(2.0)
      val (wNameA, wNameD) = w2(0.9, 0.02)
      val (wTypeA, wTypeD) = w2(0.9, 0.2)
      val (wSizeA, wSizeD) = w2(0.85, 0.02)
      val p0 = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"),
          element_at(split(col("p_name"), " "), -1).as("blk"))
      // materialized once (round 13, §1.2): both renamed join sides below
      // derive from p — uncut, each replayed the scan + block-size
      // aggregate + join (ProbeQueryJobs: two of the six jobs)
      val p = graft.operators.Components.cut(
        p0.join(
          p0.groupBy("blk", "p_brand").agg(count(lit(1)).as("bsz")),
          Seq("blk", "p_brand"))
          .filter(col("bsz") <= FsMaxBlock)
          .drop("bsz"))
      // the block join's per-pair Levenshtein is compute-dense on slim
      // bytes — AQE's byte-based coalescing lands every pair on one task
      // (measured: a 2.4 s single-task job). Pin both sides to the base
      // shuffle width on the block keys (same key, same width → the join
      // reuses these exchanges; the q118 verify-stage precedent).
      val width = s.sessionState.conf.defaultNumShufflePartitions
      val a = p.columns.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"a_$c"))
        .repartition(width, col("a_blk"), col("a_p_brand"))
      val b = p.columns.foldLeft(p)((d, c) => d.withColumnRenamed(c, s"b_$c"))
        .repartition(width, col("b_blk"), col("b_p_brand"))
      val pairs = a.join(b,
        col("a_blk") === col("b_blk") && col("a_p_brand") === col("b_p_brand") &&
          col("a_p_partkey") < col("b_p_partkey"))
      def fieldScore(agree: org.apache.spark.sql.Column, wA: Double, wD: Double) =
        when(agree, lit(wA)).otherwise(lit(wD))
      val scored = pairs
        .withColumn("agree_name",
          (levenshtein(col("a_p_name"), col("b_p_name")) <= 1).cast("int"))
        .withColumn("agree_type", (col("a_p_type") === col("b_p_type")).cast("int"))
        .withColumn("agree_size", (col("a_p_size") === col("b_p_size")).cast("int"))
        .withColumn("score", round(
          fieldScore(col("agree_name") === 1, wNameA, wNameD) +
            fieldScore(col("agree_type") === 1, wTypeA, wTypeD) +
            fieldScore(col("agree_size") === 1, wSizeA, wSizeD), 9))
        .withColumn("verdict",
          when(col("score") >= 7.0, lit("match")).otherwise(lit("possible")))
      scored.filter(col("score") >= 0.0)
        .select(col("a_p_partkey").as("key_a"), col("b_p_partkey").as("key_b"),
          col("a_p_name").as("name_a"), col("b_p_name").as("name_b"),
          col("agree_name"), col("agree_type"), col("agree_size"),
          col("score"), col("verdict"))
        .orderBy(col("score").desc, col("key_a"), col("key_b"))
        .limit(50)
    },
    Some {
      def log2(x: Double) = math.log(x) / math.log(2.0)
      def w2(m: Double, u: Double) = (log2(m / u), log2((1 - m) / (1 - u)))
      val (wNameA, wNameD) = w2(0.9, 0.02)
      val (wTypeA, wTypeD) = w2(0.9, 0.2)
      val (wSizeA, wSizeD) = w2(0.85, 0.02)
      s"""WITH p0 AS (
            SELECT p_partkey, p_name, p_brand, p_type, p_size,
                   list_extract(string_split(p_name, ' '), -1) AS blk
            FROM part),
          p AS (
            SELECT p0.* FROM p0
            JOIN (SELECT blk, p_brand, count(*) AS bsz
                  FROM p0 GROUP BY 1, 2) s
              USING (blk, p_brand)
            WHERE s.bsz <= $FsMaxBlock),
          pairs AS (
            SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
                   a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) <= 1 AS INT) AS agree_name,
                   CAST(a.p_type = b.p_type AS INT) AS agree_type,
                   CAST(a.p_size = b.p_size AS INT) AS agree_size
            FROM p a JOIN p b
              ON a.blk = b.blk AND a.p_brand = b.p_brand
             AND a.p_partkey < b.p_partkey),
          scored AS (
            SELECT *,
                   round(
                     (CASE WHEN agree_name = 1 THEN $wNameA ELSE $wNameD END)
                     + (CASE WHEN agree_type = 1 THEN $wTypeA ELSE $wTypeD END)
                     + (CASE WHEN agree_size = 1 THEN $wSizeA ELSE $wSizeD END), 9)
                     AS score
            FROM pairs)
          SELECT key_a, key_b, name_a, name_b,
                 agree_name, agree_type, agree_size, score,
                 CASE WHEN score >= 7.0 THEN 'match' ELSE 'possible' END AS verdict
          FROM scored
          WHERE score >= 0.0
          ORDER BY score DESC, key_a, key_b
          LIMIT 50"""
    })

  /** Jaro–Winkler name linkage — the continuous-score companion to q186's
    * boolean levenshtein matching and q243's discrete Fellegi–Sunter
    * weights, powered by the native codegen'd
    * [[graft.expressions.StringSimExprs.JaroWinkler]] expression (Spark
    * has no built-in JW; DuckDB does, and the expression's semantics are
    * pinned to it, so the oracle grades every score value-for-value —
    * the strongest possible check a custom expression can get).
    * Candidates pair DISTINCT names within last-token blocks (vocabulary-
    * bounded, the q186 contract); scores round at 12 dp BEFORE the ≥ 0.87
    * gate and the rank (q216 round-before-argmax).
    */
  private val q264 = GraftQuery(
    "q264_jaro_winkler_linkage",
    (s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", element_at(split(col("p_name"), " "), -1))
      val a = names.select(col("p_name").as("name_a"), col("n_parts").as("parts_a"),
        col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("n_parts").as("parts_b"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .withColumn("jw", round(
          graft.functions.TextFunctions.jaroWinkler(col("name_a"), col("name_b")), 12))
        .filter(col("jw") >= 0.87)
        .select("name_a", "name_b", "parts_a", "parts_b", "jw")
        .orderBy(col("jw").desc, col("name_a"), col("name_b"))
        .limit(50)
    },
    Some("""WITH names AS (
              SELECT p_name, count(*) AS n_parts,
                     list_extract(string_split(p_name, ' '), -1) AS blk
              FROM part GROUP BY 1),
            pairs AS (
              SELECT a.p_name AS name_a, b.p_name AS name_b,
                     a.n_parts AS parts_a, b.n_parts AS parts_b,
                     round(jaro_winkler_similarity(a.p_name, b.p_name), 12) AS jw
              FROM names a JOIN names b
                ON a.blk = b.blk AND a.p_name < b.p_name)
            SELECT name_a, name_b, parts_a, parts_b, jw
            FROM pairs WHERE jw >= 0.87
            ORDER BY jw DESC, name_a, name_b
            LIMIT 50"""))

  /** MinHash-LSH parameter planning as a QUERY: for a 64-permutation
    * budget and target threshold 0.5, score every (bands, rows) split by
    * the S-curve's integrated deviation from the ideal step —
    * ∫|1−(1−sʳ)ᵇ − 1[s ≥ t]| ds on a 101-point grid — and mark the
    * argmin. The planning math is exposed through the registry so the
    * choice q20/q205 run with is itself oracle-audited:
    * both engines evaluate the same 7×101 closed-form grid (terms round
    * at 12 dp onto the decimal grid before the order-free mean — pow is
    * libm on both sides, the q103 rounding contract), and the argmin
    * rides (error, bands) — total order.
    */
  private val q267 = GraftQuery(
    "q267_lsh_tuning_curve",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val dec = org.apache.spark.sql.types.DecimalType(38, 12)
      val splits = Seq((1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1))
        .toDF("bands", "rows")
      val grid = (0 to 100).map(_.toLong).toDF("i")
        .select((col("i").cast("double") / 100.0).as("sx"))
      val scored = splits.crossJoin(broadcast(grid))
        .withColumn("p",
          lit(1.0) - pow(lit(1.0) - pow(col("sx"), col("rows").cast("double")),
            col("bands").cast("double")))
        .withColumn("ideal", when(col("sx") >= 0.5, 1.0).otherwise(0.0))
        .withColumn("term", round(abs(col("p") - col("ideal")), 12).cast(dec))
        .groupBy("bands", "rows")
        .agg(round(sum(col("term")).cast("double") / lit(101.0), 9).as("est_error"))
      scored.withColumn("rk", row_number().over(
          Window.orderBy(col("est_error"), col("bands"))))
        .select(col("bands"), col("rows"), col("est_error"),
          when(col("rk") === 1, lit("selected")).otherwise(lit("-")).as("choice"))
        .orderBy("bands")
    },
    Some("""WITH splits(bands, rows) AS (
              VALUES (1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1)),
            grid AS (SELECT CAST(unnest(range(0, 101)) AS DOUBLE) / 100.0 AS sx),
            scored AS (
              SELECT bands, rows,
                     round(CAST(sum(CAST(round(abs(
                         (1.0 - pow(1.0 - pow(sx, CAST(rows AS DOUBLE)),
                            CAST(bands AS DOUBLE)))
                         - (CASE WHEN sx >= 0.5 THEN 1.0 ELSE 0.0 END)), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) / 101.0, 9) AS est_error
              FROM splits CROSS JOIN grid
              GROUP BY 1, 2),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY est_error, bands) AS rk
              FROM scored)
            SELECT bands, rows, est_error,
                   CASE WHEN rk = 1 THEN 'selected' ELSE '-' END AS choice
            FROM ranked ORDER BY bands"""))

  /** Directed 5-gram containment pairs at τ = 0.6
    * ([[NearDup.ngramContainmentPairs]]) — the asymmetric dedup measure
    * q19's Jaccard cannot express: a short document quoted verbatim
    * INSIDE a long one has near-zero Jaccard (the union is the long
    * doc) but containment 1.0 from the short side, and quote-inclusion
    * is exactly the duplication mode license-sensitive corpus curation
    * must catch. Same Σdf² inverted-index bound and clone
    * canonicalization as q19, with direction preserved through the
    * representative expansion. Containment values are exact integer
    * divisions (identical cross-engine, no rounding needed — the q19
    * contract); the oracle replays from first principles with no
    * representative logic.
    */
  private val q273 = GraftQuery(
    "q273_containment_pairs",
    (s, dir) =>
      NearDup.ngramContainmentPairs(Tables.documents(s, dir), n = 5, threshold = 0.6)
        .orderBy("doc_a", "doc_b"),
    Some("""WITH norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT doc_id, unnest(list_distinct(
                       [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
                        for i in generate_series(1, len(t)-4)])) AS s
              FROM norm WHERE len(t) >= 5),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            directed AS (
              SELECT da AS doc_a, db AS doc_b, sa.n AS n_a, c AS n_common,
                     CAST(c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
              FROM common JOIN sizes sa ON da = sa.doc_id
              UNION ALL
              SELECT db, da, sb.n, c,
                     CAST(c AS DOUBLE) / CAST(sb.n AS DOUBLE)
              FROM common JOIN sizes sb ON db = sb.doc_id)
            SELECT doc_a, doc_b, CAST(n_a AS INTEGER) AS n_a,
                   CAST(n_common AS BIGINT) AS n_common, containment
            FROM directed
            WHERE containment >= 0.6
            ORDER BY doc_a, doc_b"""))

  private val KmvSetK = 64

  /** KMV set-operation estimates between per-source 3-gram shingle sets:
    * each source keeps only its K = 64 smallest shingle hashes (a
    * Bar-Yossef/Beyer KMV sketch — MERGEABLE: the union sketch is the K
    * smallest of the concatenation, so cross-source and cross-partition
    * estimates need only K-sized arrays), and every source pair reports
    * estimated union cardinality plus estimated Jaccard (the fraction of
    * the union's K minima present in both sides) next to the EXACT union
    * and Jaccard — the estimator-error census, q233's MinHash twin for
    * set OPERATIONS (KMV gives |A∪B| where MinHash only gives J).
    *
    * Scale: one distinct (source, shingle-hash) shuffle; the K-minimum
    * selection is vocab-bounded per source; all pair arithmetic runs on
    * K-sized arrays (|sources|²/2 pairs regardless of corpus size). The
    * exact columns are the census's ground truth — at production scale
    * they are the expensive audit lane you run on a sample, while the
    * sketch lane is the one that ships. Determinism: the portable-md5
    * 60-bit hash is identical on both engines; a merged set smaller than
    * K degrades to the exact count (the KMV small-set rule); zero-union
    * pairs report NULL Jaccard.
    */
  private val q278 = GraftQuery(
    "q278_kmv_setops",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pow60 = math.pow(2.0, 60.0)
      val sh = graft.Tables.widen(
          Tables.documents(s, dir).select(col("source"), col("text")))
        .select(col("source"), TextFunctions.tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(1, size(t) - 2), i -> t[i-1] || ' ' || t[i] || ' ' || t[i+1])"))
          .as("sg"))
        .distinct()
      val hs = sh.select(col("source"),
        expr("conv(substring(md5(sg), 1, 15), 16, 10)").cast("long").as("h"))
        .distinct()
      val sizes = hs.groupBy("source").agg(count(lit(1)).as("nv"))
      val kmv = hs
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy("h")))
        .filter(col("rk") <= KmvSetK)
        .groupBy("source").agg(sort_array(collect_list(col("h"))).as("ks"))
        .join(sizes, "source")
      val a = kmv.select(col("source").as("sa"), col("ks").as("ka"),
        col("nv").as("na"))
      val b = kmv.select(col("source").as("sb"), col("ks").as("kb"),
        col("nv").as("nb"))
      val common = hs.as("x").join(hs.as("y"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("c"))
      a.join(broadcast(b), col("sa") < col("sb"))
        .join(common, Seq("sa", "sb"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
        .withColumn("mg", array_sort(array_union(col("ka"), col("kb"))))
        .withColumn("m", size(col("mg")).cast("long"))
        .withColumn("topu",
          when(col("m") >= KmvSetK, slice(col("mg"), 1, KmvSetK))
            .otherwise(col("mg")))
        .withColumn("inter", size(array_intersect(col("topu"),
          array_intersect(col("ka"), col("kb")))).cast("long"))
        .withColumn("est_union",
          when(col("m") >= KmvSetK,
            round(lit((KmvSetK - 1).toDouble)
              / (element_at(col("mg"), KmvSetK).cast("double") / lit(pow60)), 6))
            .otherwise(col("m").cast("double")))
        .withColumn("est_jaccard",
          round(col("inter").cast("double")
            / least(col("m"), lit(KmvSetK.toLong)).cast("double"), 12))
        .withColumn("exact_union", col("na") + col("nb") - col("c"))
        .withColumn("exact_jaccard",
          when(col("exact_union") > 0,
            round(col("c").cast("double") / col("exact_union").cast("double"),
              12)))
        .select(col("sa"), col("sb"), col("na"), col("nb"),
          col("exact_union"), col("exact_jaccard"),
          col("est_union"), col("est_jaccard"),
          when(col("exact_jaccard").isNotNull,
            round(abs(col("est_jaccard") - col("exact_jaccard")), 12))
            .as("jaccard_abs_err"))
        .orderBy("sa", "sb")
    },
    Some(s"""WITH norm AS (
              SELECT source,
                     string_split(lower(trim(regexp_replace(text,
                       '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
              FROM documents),
            sh AS (
              SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
              FROM norm, unnest(range(1, len(t) - 1)) AS u(i)),
            hs AS (
              SELECT DISTINCT source,
                     ('0x' || substr(md5(sg), 1, 15))::BIGINT AS h
              FROM sh),
            sizes AS (SELECT source, count(*) AS nv FROM hs GROUP BY 1),
            kmv AS (
              SELECT source, list(h ORDER BY h) AS ks FROM (
                SELECT source, h, row_number() OVER (PARTITION BY source
                  ORDER BY h) AS rk FROM hs)
              WHERE rk <= $KmvSetK GROUP BY 1),
            common AS (
              SELECT x.source AS sa, y.source AS sb, count(*) AS c
              FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
              GROUP BY 1, 2),
            p AS (
              SELECT a.source AS sa, b.source AS sb, a.ks AS ka, b.ks AS kb,
                     za.nv AS na, zb.nv AS nb, COALESCE(c.c, 0) AS c,
                     list_sort(list_distinct(a.ks || b.ks)) AS mg
              FROM kmv a JOIN kmv b ON a.source < b.source
              JOIN sizes za ON za.source = a.source
              JOIN sizes zb ON zb.source = b.source
              LEFT JOIN common c ON c.sa = a.source AND c.sb = b.source),
            e AS (
              SELECT sa, sb, na, nb, c, ka, kb, mg, len(mg) AS m,
                     CASE WHEN len(mg) >= $KmvSetK THEN mg[1:$KmvSetK]
                          ELSE mg END AS topu
              FROM p),
            r AS (
              SELECT sa, sb, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
                     CAST(na + nb - c AS BIGINT) AS exact_union,
                     CASE WHEN na + nb - c > 0 THEN
                       round(CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE), 12)
                     END AS exact_jaccard,
                     CASE WHEN m >= $KmvSetK THEN
                       round(${(KmvSetK - 1).toDouble}
                         / (CAST(mg[$KmvSetK] AS DOUBLE) / ${math.pow(2.0, 60.0)}), 6)
                       ELSE CAST(m AS DOUBLE) END AS est_union,
                     round(CAST(len(list_intersect(topu,
                         list_intersect(ka, kb))) AS DOUBLE)
                       / CAST(least(m, $KmvSetK) AS DOUBLE), 12) AS est_jaccard
              FROM e)
            SELECT sa, sb, na, nb, exact_union, exact_jaccard,
                   est_union, est_jaccard,
                   CASE WHEN exact_jaccard IS NOT NULL THEN
                     round(abs(est_jaccard - exact_jaccard), 12)
                   END AS jaccard_abs_err
            FROM r ORDER BY sa, sb"""))

  /** SoftDeDup cluster reweighting: instead of DROPPING near-duplicate
    * documents (q33's survivor flag), every member of a near-dup cluster
    * keeps weight 1/|cluster| so the cluster contributes ONE document's
    * worth of training mass however many times it was crawled (the soft
    * variant of dedup used when hard removal loses rare-domain coverage;
    * cf. SlimPajama-DC's reweighting discussion). Per source: raw count,
    * clustered count, effective size Σ weights, and the keep ratio.
    *
    * Scale: rides q33's bucketed pair machinery + component closure
    * verbatim (no new quadratic); the reweighting itself is one join
    * against cluster sizes and one per-source aggregate. Determinism:
    * weights are exact reciprocals of small integers; the per-source sum
    * rides the order-free fixed-point sum at 15; singletons (docs in no
    * pair) take weight 1 via the left join.
    */
  private val q281 = GraftQuery(
    "q281_softdedup_weights",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = graft.operators.Components.neardupClustersContracted(
        textPairsShared(s, dir))
      val csize = clusters.groupBy("cluster_id").agg(count(lit(1)).as("cs"))
      val w = clusters.join(csize, "cluster_id").select(col("doc_id"), col("cs"))
      docs.select(col("doc_id"), col("source"))
        .join(w, Seq("doc_id"), "left")
        .withColumn("cs", coalesce(col("cs"), lit(1L)))
        .withColumn("weight", lit(1.0) / col("cs").cast("double"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("cs") > 1, 1L).otherwise(0L)).as("n_clustered"),
          round(graft.functions.Exact.sumFx(col("weight"), 15), 12)
            .as("eff_size"))
        .withColumn("keep_ratio",
          round(col("eff_size") / col("n_docs").cast("double"), 12))
        .orderBy("source")
    },
    Some(s"""WITH RECURSIVE norm AS (
              SELECT doc_id,
                     string_split(lower(trim(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))), ' ') AS t
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
            cl AS (
              SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src),
            cs AS (SELECT cluster_id, count(*) AS cs FROM cl GROUP BY 1),
            wt AS (
              SELECT d.doc_id, d.source,
                     COALESCE(cs.cs, 1) AS cs,
                     1.0::DOUBLE / CAST(COALESCE(cs.cs, 1) AS DOUBLE) AS weight
              FROM documents d
              LEFT JOIN cl ON d.doc_id = cl.doc_id
              LEFT JOIN cs ON cl.cluster_id = cs.cluster_id)
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN cs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_clustered,
                   round(${graft.functions.Exact.sumFxSql("weight", 15)}, 12)
                     AS eff_size,
                   round(round(${graft.functions.Exact.sumFxSql("weight", 15)}, 12)
                     / CAST(count(*) AS DOUBLE), 12) AS keep_ratio
            FROM wt GROUP BY source ORDER BY source"""))

  def all: Seq[GraftQuery] =
    Seq(q18, q19, q20, q21, q33, q35, q65, q77, q118, q119, q143, q146, q181,
      q186, q201, q205, q218, q219, q220, q233, q243, q264, q267, q273,
      q278, q281, q284)
}
