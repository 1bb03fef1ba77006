package graft.queries

import graft.{GraftQuery, Tables}
import graft.operators.NearDup
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (array<float>, dim 64).
  * The decimal-accumulated cosine (graft.functions.Similarity) makes the
  * scores bit-identical to the DuckDB oracle's.
  */
object SimilarityQueries {

  /** Shared oracle fragment: exact cosine between embeddings a and b
    * (package-visible: the knn-graph oracles in [[GraphQueries]] reuse it).
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |  p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) AS DECIMAL(38,20)))) AS DOUBLE)
       |/ (sqrt(CAST(list_sum(list_transform($a,
       |     x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,20)))) AS DOUBLE))
       |   * sqrt(CAST(list_sum(list_transform($b,
       |     x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,20)))) AS DOUBLE)))"""
      .stripMargin.replaceAll("\n", " ")

  /** Brute-force top-5 cosine neighbors for the first 20 vectors (broadcast
    * query side; the correctness baseline for ANN).
    */
  private val q22 = GraftQuery(
    "q22_knn_cosine_top5",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      NearDup.knnBruteForce(emb.filter(col("vec_id") < 20), emb, k = 5)
        // rank on the raw cosine; emit rounded so a 1-ulp sqrt/divide
        // difference vs the oracle's libm can't break the hash compare
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 20),
             scored AS (
               SELECT q_id, b.vec_id AS n_id, ${cosSql("qe", "b.embedding")} AS cos
               FROM q, embeddings b WHERE b.vec_id <> q_id)
             SELECT q_id, n_id, round(cos, 12) AS cos, CAST(rank AS INT) AS rank FROM (
               SELECT q_id, n_id, cos,
                      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
               FROM scored)
             WHERE rank <= 5 ORDER BY q_id, rank"""))

  /** The q23/q78 routed pair set — built ONCE per input content as an
    * [[Artifacts]] entry (the knn-graph/kmeans contract):
    * q23 orders it, q78 closes it into clusters, and q24 reuses it
    * verbatim when the corpus routes above the exact-path bound (where
    * its scaled-knob LSH is the identical computation). Read-back uses
    * an explicit schema so a zero-pair corpus (only _SUCCESS in the dir)
    * still reads as an empty frame instead of failing inference.
    */
  private val PairsSchema = "vec_a LONG, vec_b LONG, cos DOUBLE"

  private def routedPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val path = Artifacts.cached("routed-pairs", "t0.4-v1", Seq(s"$dir/embeddings.parquet")) { p =>
      NearDup.embeddingNearDupPairsAuto(Tables.embeddings(s, dir), threshold = 0.4)
        .write.mode("overwrite").parquet(p)
    }
    s.read.schema(PairsSchema).parquet(path)
  }

  /** Embedding near-dup pairs at cosine ≥ 0.4, adaptively routed
    * ([[NearDup.embeddingNearDupPairsAuto]]): at or below 10k vectors the
    * exact O(n²) join runs — the oracle-checkable baseline, and what the
    * driver's verification scales (≤ 2000 vectors) always take — while a
    * larger corpus routes through the size-scaled LSH path
    * ([[NearDup.scaledPairLshKnobs]]) whose candidate volume follows
    * bucket occupancy instead of n². The routing is pinned by
    * NearDupSpec (forced-LSH recall against the exact set).
    */
  private val q23 = GraftQuery(
    "q23_embedding_neardup_pairs",
    (s, dir) =>
      routedPairsShared(s, dir)
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("vec_a", "vec_b"),
    Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                    round(${cosSql("a.embedding", "b.embedding")}, 12) AS cos
             FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
             ORDER BY vec_a, vec_b"""))

  // q24/q32/q70 land their emitted pairs (via Landed, per-process +
  // per-scale-dir paths) so DuckDB can replay the exact-cosine
  // verification — and, for top-k, the ranking — over the same lists:
  // the q21/q35 verified-pairs scheme applied to embeddings. The
  // bucketing/probing sketch stays engine-specific; the scoring math it
  // feeds is hash-gated. These queries are defs (and `all` is a def) so
  // the oracle SQL is re-built when Verify dumps it AFTER the run,
  // embedding the recorded landing path of THIS process/scale-dir.

  /** Random-hyperplane LSH ANN pairs at cosine ≥ 0.4 — the bucketed scale
    * path (8 tables × 4 bits; per-table hit prob (1−θ/π)^4 ≈ 0.16 at the
    * threshold, ≈ 0.75 over all tables). The emitted pair list is
    * parquet-landed and the oracle recomputes the exact cosine for those
    * pairs; recall vs q23 is asserted in NearDupSpec.
    */
  private def q24 = GraftQuery(
    "q24_embedding_ann_lsh",
    (s, dir) => {
      val path = Landed.land("q24_embedding_ann_lsh", dir)
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      if (n <= 10000L)
        // verification scales: the hash-stable (4, 8) LSH engine path,
        // single part file (a zero-pair result still lands a
        // schema-bearing parquet — zero part files would break the
        // oracle's glob)
        NearDup.embeddingNearDupLsh(emb, threshold = 0.4)
          .repartition(1)
          .write.mode("overwrite").parquet(path)
      else
        // above the exact-path bound the scaled-knob LSH is exactly what
        // routedPairsShared already built for q23/q78 — copy it to the
        // oracle-visible landing instead of re-bucketing the corpus (the
        // q142 land-once contract), keeping natural partitioning (the
        // pair set is output-sized here)
        routedPairsShared(s, dir)
          .write.mode("overwrite").parquet(path)
      s.read.schema(PairsSchema).parquet(path)
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH pairs AS (
               SELECT vec_a, vec_b FROM read_parquet('${Landed.oraclePath("q24_embedding_ann_lsh")}/*.parquet'))
             SELECT p.vec_a, p.vec_b,
                    round(${cosSql("a.embedding", "b.embedding")}, 12) AS cos
             FROM pairs p
             JOIN embeddings a ON a.vec_id = p.vec_a
             JOIN embeddings b ON b.vec_id = p.vec_b
             ORDER BY p.vec_a, p.vec_b"""))

  /** Shared oracle for landed top-k output (q32/q70): recompute the exact
    * cosine for every emitted (q_id, n_id) pair and RE-DERIVE the ranks by
    * windowing over the recomputed scores — so a ranking inconsistent with
    * the scores, or any cosine arithmetic drift, hash-mismatches even
    * though the candidate probe itself is sketch-specific.
    */
  private def topKReplayOracle(path: String): String =
    s"""WITH pairs AS (
          SELECT q_id, n_id FROM read_parquet('$path/*.parquet')),
        scored AS (
          SELECT p.q_id, p.n_id, ${cosSql("a.embedding", "b.embedding")} AS cos
          FROM pairs p
          JOIN embeddings a ON a.vec_id = p.q_id
          JOIN embeddings b ON b.vec_id = p.n_id)
        SELECT q_id, n_id, round(cos, 12) AS cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rank
        FROM scored ORDER BY q_id, rank"""

  /** IVF (cluster-then-probe) top-5 ANN for the first 20 vectors — the
    * scale path for [[q22]]'s brute force (scores nprobe/nlist of the
    * corpus per query). Output is landed and the oracle replays exact
    * cosine + rank over it; AnnSpec bounds recall@5 against brute force.
    */
  /** Cross-session persistence for the trained IVF centroids (verdict
    * round-10 item 4): content-keyed on the embeddings parquet + the
    * training knobs the operator reports in `ver`, so q32 and q70's
    * internal coarse quantizer (same knobs → same version string) share
    * ONE trained artifact across Verify/Bench/scale-probe sessions.
    */
  private def centroidStore(dir: String): graft.operators.Ann.CentroidStore =
    (ver, build) => Artifacts.cachedTensor2(
      "ivf-centroids", s"$ver-v1", Seq(s"$dir/embeddings.parquet"))(build())

  private def q32 = GraftQuery(
    "q32_ivf_topk",
    (s, dir) => {
      val path = Landed.land("q32_ivf_topk", dir)
      val emb = Tables.embeddings(s, dir)
      graft.operators.Ann.ivfTopK(s, emb.filter(col("vec_id") < 20), emb, k = 5,
          centroidStore = centroidStore(dir))
        .repartition(1) // see q24: empty-safe single part file
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("q_id", "rank")
    },
    Some(topKReplayOracle(Landed.oraclePath("q32_ivf_topk"))))

  /** FULL-CORPUS approximate knn graph via hyperplane-LSH candidates +
    * exact re-rank ([[NearDup.knnTopKLsh]]) — the bucketed constructor the
    * graph quartet (q126/q127/q135/q136) switches to at scale, where the
    * all-pairs brute-force builder's O(n²) collapses (100× corpus =
    * 10,000× work). Graded by the q32/q70 landed-top-k scheme: the oracle
    * recomputes the exact cosine of every emitted edge and re-derives the
    * ranks; AnnSpec pins recall ≥ 0.95 against the brute-force edge set.
    */
  private def q142 = GraftQuery(
    "q142_lsh_knn_graph",
    (s, dir) => {
      // the builder runs once per input content (Artifacts); repeat
      // invocations (bench best-of-N) copy the cached frame to the
      // oracle-visible landing instead of re-bucketing
      val built = Artifacts.cached("lsh-knn-graph", "k5-scaled-v1",
          Seq(s"$dir/embeddings.parquet")) { p =>
        val emb = Tables.embeddings(s, dir)
        // verification scales keep the default knobs (hash-stable edges);
        // larger corpora take the size-scaled bits the probe measured
        val (bits, tables) = NearDup.scaledLshKnobs(emb.count())
        NearDup.knnTopKLsh(emb, k = 5, bits = bits, tables = tables)
          .coalesce(1)
          .write.mode("overwrite").parquet(p)
      }
      val path = Landed.land("q142_lsh_knn_graph", dir)
      Tables.parquet(s, built)
        .repartition(1) // see q24: empty-safe single part file
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("q_id", "rank")
    },
    Some(topKReplayOracle(Landed.oraclePath("q142_lsh_knn_graph"))))

  /** Semantic (embedding-space) dedup clusters — the composition a
    * training pipeline actually runs: exact cosine near-dup pairs at
    * τ = 0.4 ([[q23]]'s oracle-proven edge set) closed into clusters
    * (transitive closure, min-id label, lowest id survives). The text
    * twin is q33; this is the embedding twin, against the same
    * recursive-CTE oracle shape over cosine edges.
    */
  private val q78 = GraftQuery(
    "q78_embedding_dedup_clusters",
    (s, dir) =>
      graft.operators.Components.neardupClusters(
        // q23's adaptive routing (the shared landed pair set): exact
        // pairs at verification scales, size-scaled LSH above 10k
        // vectors — components only need edge CONNECTIVITY, so the LSH
        // path's per-pair recall compounds favorably here (a cluster is
        // lost only if every edge into it is missed)
        routedPairsShared(s, dir)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"), col("is_survivor"))
        .orderBy("vec_id"),
    Some(s"""WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS va, b.vec_id AS vb
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4),
            edges AS (
              SELECT va AS src, vb AS dst FROM pairs
              UNION SELECT vb, va FROM pairs),
            reach(src, dst) AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
            SELECT src AS vec_id,
                   least(src, min(dst)) AS cluster_id,
                   least(src, min(dst)) = src AS is_survivor
            FROM reach GROUP BY src ORDER BY vec_id"""))

  /** Per-label centroid vectors in long form (label, dim, mean, n) — the
    * primitive behind IVF coarse quantizers, class prototypes, and
    * diversity-aware mixing. posexplode inflates rows 64× only INSIDE the
    * map task: the hash aggregate's map-side partials collapse each
    * partition to ≤ labels×64 rows before the exchange, so the shuffle is
    * O(labels·dim) at any corpus size. Decimal accumulation keeps the sum
    * partition-order independent (bit-identical to the serial oracle);
    * means round to 12 dp on both sides.
    */
  private val q57 = GraftQuery(
    "q57_label_centroids",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(
          round((sum(col("v").cast("double").cast(DecimalType(38, 20)))
            .cast("double") / count(lit(1))).cast("double"), 12).as("mean_v"),
          count(lit(1)).as("n"))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy("label", "dim")
    },
    Some("""WITH e AS (
              SELECT label,
                     unnest(embedding) AS v,
                     unnest(generate_series(0, len(embedding) - 1)) AS dim
              FROM embeddings)
            SELECT label, dim,
                   round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE)
                     / count(*), 12) AS mean_v,
                   count(*) AS n
            FROM e GROUP BY label, dim ORDER BY label, dim"""))

  /** IVF-PQ top-k ([[graft.operators.Pq]]): 8-byte codes + table-lookup
    * scoring routed through IVF cells (equi-join, no corpus cross join)
    * with exact re-rank — the third ANN scale path next to LSH (q24) and
    * IVF (q32). Output is landed and the oracle replays exact cosine +
    * rank over it; AnnSpec bounds recall against the exact q22 baseline
    * and pins the no-cross-join plan.
    */
  private def q70 = GraftQuery(
    "q70_pq_adc_topk",
    (s, dir) => {
      val path = Landed.land("q70_pq_adc_topk", dir)
      val emb = Tables.embeddings(s, dir)
      graft.operators.Pq.pqTopK(s, emb.filter(col("vec_id") < 20), emb, k = 5,
          codebookStore = (ver, build) => Artifacts.cachedTensor3(
            "pq-codebooks", s"$ver-v1", Seq(s"$dir/embeddings.parquet"))(build()),
          centroidStore = centroidStore(dir))
        .repartition(1) // see q24: empty-safe single part file
        .write.mode("overwrite").parquet(path)
      Tables.parquet(s, path)
        .withColumn("cos", round(col("cos"), 12))
        .orderBy("q_id", "rank")
    },
    Some(topKReplayOracle(Landed.oraclePath("q70_pq_adc_topk"))))

  /** Int8 scalar quantization of embeddings (per-dimension min-max): the
    * standard 4× compression before ANN serving / shipping a corpus —
    * codes = floor((v − min_d)·255/(max_d − min_d)) clamped to [0,255].
    * The per-dim stats aggregate collapses map-side (64 rows per
    * partition) and broadcasts back, so the corpus never shuffles.
    * floor (not round) keeps the integer codes bit-identical across
    * engines — round's half-up vs half-even would diverge on exact .5
    * boundaries.
    */
  private val q79 = GraftQuery(
    "q79_int8_quantize",
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("v", col("v").cast("double"))
      val stats = e.groupBy("dim").agg(min("v").as("lo"), max("v").as("hi"))
      e.join(broadcast(stats), "dim")
        .withColumn("code", when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(255L),
            floor((col("v") - col("lo")) * 255.0 / (col("hi") - col("lo"))))))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("code"))
        .orderBy("vec_id", "dim")
    },
    Some("""WITH e AS (
              SELECT vec_id,
                     unnest(embedding) AS v,
                     unnest(generate_series(0, len(embedding) - 1)) AS dim
              FROM embeddings),
            ed AS (SELECT vec_id, dim, CAST(v AS DOUBLE) AS v FROM e),
            stats AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM ed GROUP BY dim)
            SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                   CASE WHEN hi = lo THEN 0
                        ELSE least(255, CAST(floor((v - lo) * 255.0 / (hi - lo)) AS BIGINT))
                   END AS code
            FROM ed JOIN stats USING (dim)
            ORDER BY vec_id, dim"""))

  /** Reciprocal-rank fusion of two retrieval lists (the standard hybrid-
    * search merge): top-100 exact-cosine neighbor lists for two query
    * vectors, fused as Σ 1/(60 + rank). Each list rides
    * [[NearDup.knnBruteForce]]'s bounded TopKAgg (no corpus-wide window);
    * fusion itself is a tiny groupBy over ≤ 200 shortlist rows. At most
    * two addends per candidate, so the double sum is order-independent
    * (binary FP addition is commutative) and DuckDB replays it exactly
    * after the shared 12-dp rounding.
    */
  private val q93 = GraftQuery(
    "q93_rrf_fusion",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      NearDup.knnBruteForce(emb.filter(col("vec_id").isin(0L, 1L)), emb, k = 100)
        .groupBy("n_id")
        .agg(count(lit(1)).as("n_lists"),
          round(sum(lit(1.0) / (lit(60) + col("rank"))), 12).as("rrf"))
        .orderBy(col("rrf").desc, col("n_id"))
        .limit(20)
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                        WHERE vec_id IN (0, 1)),
            scored AS (
              SELECT q_id, b.vec_id AS n_id, ${cosSql("qe", "b.embedding")} AS cos
              FROM q, embeddings b WHERE b.vec_id <> q_id),
            ranked AS (
              SELECT q_id, n_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS r
              FROM scored),
            rrf AS (
              SELECT n_id, count(*) AS n_lists,
                     round(sum(CAST(1.0 AS DOUBLE) / (60 + r)), 12) AS rrf
              FROM ranked WHERE r <= 100 GROUP BY n_id)
            SELECT n_id, n_lists, rrf FROM rrf
            ORDER BY rrf DESC, n_id LIMIT 20"""))

  /** Pairwise cosine similarity between the q57 label centroids — the
    * class-confusability matrix (which labels' embedding neighborhoods
    * collide) that guides relabeling and hard-negative mining. Centroid
    * means follow the q57 decimal contract and round at 12 dp BEFORE the
    * cosine, so both engines run the pair arithmetic on identical inputs;
    * per-dimension products round at 15 dp into DECIMAL(38,15) sums, and
    * sqrt/divide are single fixed double steps. |labels|² pairs of
    * |dims|-length vectors — trivially bounded however large the
    * embedding table is, because everything heavy happened in the ONE
    * centroid aggregate.
    */
  def centroidCosineMatrix(embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.types.DecimalType
      // (labels × dims)-sized cut, read by both pair-join sides and the
      // norm aggregate — uncut, the corpus-sized posexplode aggregate
      // would run three times
      val cent = graft.operators.Components.cut(embeddings
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round((sum(col("v").cast("double").cast(DecimalType(38, 20)))
          .cast("double") / count(lit(1))).cast("double"), 12).as("m")))
      val a = cent.select(col("label").as("label_a"), col("dim"), col("m").as("ma"))
      val b = cent.select(col("label").as("label_b"), col("dim"), col("m").as("mb"))
      val prods = a.join(b, "dim")
        .filter(col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(round(col("ma") * col("mb"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("dot"))
      val norms = cent.groupBy("label")
        .agg(sum(round(col("m") * col("m"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("nsq"))
      prods
        .join(broadcast(norms.select(col("label").as("label_a"), col("nsq").as("na"))),
          "label_a")
        .join(broadcast(norms.select(col("label").as("label_b"), col("nsq").as("nb"))),
          "label_b")
        .select(col("label_a"), col("label_b"),
          round(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))), 12).as("cosine"))
        .orderBy("label_a", "label_b")
  }

  private val q117 = GraftQuery(
    "q117_centroid_cosine_matrix",
    (s, dir) => centroidCosineMatrix(Tables.embeddings(s, dir)),
    Some("""WITH e AS (
              SELECT label,
                     unnest(embedding) AS v,
                     unnest(generate_series(0, len(embedding) - 1)) AS dim
              FROM embeddings),
            cent AS MATERIALIZED (
              SELECT label, dim,
                     round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(38,20))) AS DOUBLE)
                       / count(*), 12) AS m
              FROM e GROUP BY label, dim),
            prods AS (
              SELECT a.label AS label_a, b.label AS label_b,
                     CAST(sum(CAST(round(a.m * b.m, 15) AS DECIMAL(38,15))) AS DOUBLE) AS dot
              FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
              GROUP BY 1, 2),
            norms AS (
              SELECT label,
                     CAST(sum(CAST(round(m * m, 15) AS DECIMAL(38,15))) AS DOUBLE) AS nsq
              FROM cent GROUP BY 1)
            SELECT label_a, label_b,
                   round(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 12) AS cosine
            FROM prods
            JOIN norms na ON label_a = na.label
            JOIN norms nb ON label_b = nb.label
            ORDER BY label_a, label_b"""))

  /** Shared oracle fragment: decimal-accumulated dot product (the exact
    * arithmetic of [[graft.functions.Similarity.dotExact]]).
    */
  private def dotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |  p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) AS DECIMAL(38,20)))) AS DOUBLE)"""
      .stripMargin.replaceAll("\n", " ")

  private val KmK = 8
  private val KmIters = 3
  private val KmSeed = 5L

  /** Serial replay of [[graft.operators.KMeans.run]]: the same seeded
    * init, rounded distance/argmin, and decimal-mean recurrence unrolled
    * as chained CTEs — one (assign, mean, centroid) triple per Lloyd
    * round, distances and means rounded exactly where the operator
    * rounds, centroids cast back to REAL exactly where the operator
    * stores FLOAT.
    */
  private def kmeansOracle: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH xx AS MATERIALIZED (
         SELECT vec_id, embedding,
                round(${dotSql("embedding", "embedding")}, 12) AS xx
         FROM embeddings),
       c0 AS MATERIALIZED (
         SELECT vec_id AS cid, embedding AS ce FROM embeddings
         ORDER BY ${graft.operators.Sharding.scrambleSql("vec_id", KmSeed)}, vec_id
         LIMIT $KmK),
       cw0 AS MATERIALIZED (
         SELECT cid, ce, round(${dotSql("ce", "ce")}, 12) AS cc FROM c0)""")
    for (i <- 1 to KmIters) {
      val p = i - 1
      sb.append(s""",
       a$i AS (SELECT x.vec_id, x.embedding, c.cid,
                      round(x.xx + c.cc - 2.0 * ${dotSql("x.embedding", "c.ce")}, 12) AS d2
               FROM xx x CROSS JOIN cw$p c),
       s$i AS MATERIALIZED (
         SELECT vec_id, embedding, cid FROM (
           SELECT vec_id, embedding, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           FROM a$i) WHERE rn = 1),
       m$i AS (SELECT cid, dim,
                      round(CAST(sum(CAST(round(CAST(v AS DOUBLE), 15)
                          AS DECIMAL(38,15))) AS DOUBLE) / count(*), 12) AS mean
               FROM (SELECT cid, unnest(embedding) AS v,
                            unnest(generate_series(0, len(embedding) - 1)) AS dim
                     FROM s$i)
               GROUP BY cid, dim),
       mb$i AS (SELECT cid, list(CAST(mean AS REAL) ORDER BY dim) AS nce
                FROM m$i GROUP BY cid),
       c$i AS MATERIALIZED (
         SELECT p.cid, COALESCE(b.nce, p.ce) AS ce
         FROM c$p p LEFT JOIN mb$i b USING (cid)),
       cw$i AS MATERIALIZED (
         SELECT cid, ce, round(${dotSql("ce", "ce")}, 12) AS cc FROM c$i)""")
    }
    sb.append(s""",
       af AS (SELECT x.vec_id, c.cid,
                     round(x.xx + c.cc - 2.0 * ${dotSql("x.embedding", "c.ce")}, 12) AS d2
              FROM xx x CROSS JOIN cw$KmIters c)
       SELECT vec_id, cid AS cluster, d2 FROM (
         SELECT vec_id, cid, d2,
                row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         FROM af) WHERE rn = 1 ORDER BY vec_id""")
    sb.toString
  }

  /** Deterministic Lloyd's k-means over the embeddings
    * ([[graft.operators.KMeans.run]], k = 8, 3 rounds, seeded init) —
    * graded by a serially-unrolled CTE replay of the identical rounded
    * recurrence, the q108/q112 differential scheme applied to clustering.
    */
  /** The q128/q130 clustering, run ONCE per input content as an
    * [[Artifacts]] entry — q130 previously re-ran the full Lloyd recurrence
    * that q128 had just produced (the r06 graph-quartet lesson applied
    * here). q128 stays hash-gated against the serial CTE replay; q130
    * copies the same rows to its own oracle-visible landing.
    */
  private def kmeansShared(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val path = Artifacts.cached("kmeans-assign", s"k$KmK-i$KmIters-s$KmSeed-v1",
        Seq(s"$dir/embeddings.parquet")) { p =>
      graft.operators.KMeans.run(
          Tables.embeddings(s, dir), k = KmK, iterations = KmIters, seed = KmSeed)
        .coalesce(1)
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  private val q128 = GraftQuery(
    "q128_kmeans_embeddings",
    (s, dir) => kmeansShared(s, dir).orderBy("vec_id"),
    Some(kmeansOracle))

  /** Cluster-quality evaluation of the q128 clustering against the
    * embeddings' ground-truth labels: per-cluster majority label, purity,
    * and label entropy. The ASSIGNMENT is parquet-landed (the q21/q66
    * scheme — the clustering itself is already hash-gated by q128) and
    * the oracle replays the evaluation arithmetic over the same rows:
    * majority by (count DESC, label ASC), purity an exact ratio, entropy
    * terms 15 dp-rounded into DECIMAL(38,15). One (cluster, label)
    * aggregate + a k-row rollup — evaluation is never heavier than the
    * clustering it grades.
    */
  private def q130 = GraftQuery(
    "q130_cluster_purity",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val path = Landed.land("q130_cluster_purity", dir)
      kmeansShared(s, dir)
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      val byLabel = Tables.parquet(s, path)
        .join(Tables.embeddings(s, dir).select("vec_id", "label"), "vec_id")
        .groupBy(col("cluster"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      byLabel
        .withColumn("p",
          col("cnt").cast("double")
            / sum(col("cnt")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("cluster"))
              .cast("double"))
        .groupBy("cluster")
        .agg(
          sum(col("cnt")).as("n_members"),
          max(struct(col("cnt").as("c"), (-col("label")).as("nl"))).as("mx"),
          sum(round(col("p") * log(col("p")), 15).cast(DecimalType(38, 15)))
            .cast("double").as("negent"))
        .select(col("cluster"), col("n_members"),
          (-col("mx.nl")).cast("int").as("majority_label"),
          col("mx.c").as("majority_count"),
          round(col("mx.c").cast("double") / col("n_members").cast("double"), 12)
            .as("purity"),
          round(-col("negent"), 12).as("label_entropy"))
        .orderBy("cluster")
    },
    Some(s"""WITH a AS (
              SELECT vec_id, cluster
              FROM read_parquet('${Landed.oraclePath("q130_cluster_purity")}/*.parquet')),
            bl AS (
              SELECT cluster, label, count(*) AS cnt
              FROM a JOIN embeddings USING (vec_id)
              GROUP BY 1, 2),
            p AS (
              SELECT cluster, label, cnt,
                     CAST(cnt AS DOUBLE)
                       / CAST(sum(cnt) OVER (PARTITION BY cluster) AS DOUBLE) AS p
              FROM bl),
            mj AS (
              SELECT cluster, label AS majority_label, cnt AS majority_count
              FROM (SELECT cluster, label, cnt,
                           row_number() OVER (PARTITION BY cluster
                             ORDER BY cnt DESC, label ASC) AS rn
                    FROM bl) WHERE rn = 1)
            SELECT p.cluster,
                   CAST(sum(p.cnt) AS BIGINT) AS n_members,
                   CAST(mj.majority_label AS INT) AS majority_label,
                   CAST(mj.majority_count AS BIGINT) AS majority_count,
                   round(CAST(mj.majority_count AS DOUBLE)
                     / CAST(sum(p.cnt) AS DOUBLE), 12) AS purity,
                   round(-CAST(sum(CAST(round(p.p * ln(p.p), 15) AS DECIMAL(38,15)))
                     AS DOUBLE), 12) AS label_entropy
            FROM p JOIN mj ON p.cluster = mj.cluster
            GROUP BY p.cluster, mj.majority_label, mj.majority_count
            ORDER BY p.cluster"""))

  /** Per-dimension z-score standardization of the embeddings — the
    * feature-scaling pass upstream of any distance-based model (k-means,
    * knn): each dimension centered on its corpus mean and scaled by its
    * population σ. One narrow explode, ONE d-row aggregate broadcast back
    * onto the stream — no shuffle of the vectors themselves. Values round
    * at 6 dp before the decimal sums (and on output), so both engines run
    * the identical (vr − s/n)/σ IEEE sequence.
    */
  private val q137 = GraftQuery(
    "q137_standardize_dims",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val ex = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim"),
          round(col("v").cast("double"), 6).as("vr"))
      val stats = ex.groupBy("dim").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("vr").cast(DecimalType(38, 6))).cast("double").as("s"),
        sum(round(col("vr") * col("vr"), 9).cast(DecimalType(38, 9)))
          .cast("double").as("ss"))
      ex.join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          round((col("vr") - col("s") / col("n")) /
            sqrt(col("ss") / col("n") - (col("s") / col("n")) * (col("s") / col("n"))), 6)
            .as("z"))
        .orderBy("vec_id", "dim")
    },
    Some("""WITH ex AS (
              SELECT vec_id, dim,
                     round(CAST(v AS DOUBLE), 6) AS vr
              FROM (SELECT vec_id, unnest(embedding) AS v,
                           unnest(generate_series(0, len(embedding) - 1)) AS dim
                    FROM embeddings)),
            st AS (
              SELECT dim,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(CAST(vr AS DECIMAL(38,6))) AS DOUBLE) AS s,
                     CAST(sum(CAST(round(vr * vr, 9) AS DECIMAL(38,9))) AS DOUBLE) AS ss
              FROM ex GROUP BY 1)
            SELECT vec_id, CAST(dim AS INT) AS dim,
                   round((vr - s / n)
                     / sqrt(ss / n - (s / n) * (s / n)), 6) AS z
            FROM ex JOIN st USING (dim)
            ORDER BY vec_id, dim"""))

  /** Top principal component of the embeddings
    * ([[graft.operators.Pca]]): covariance from one narrow decimal-exact
    * pass, eigenvector by driver-side power iteration over the bounded d²
    * matrix. Graded end-to-end: the eigenvector is parquet-landed (the
    * q130 scheme) and BOTH engines independently recompute the covariance
    * from the raw embeddings and multiply it against the landed vector
    * with 15-dp decimal term sums — so the hash pins the covariance
    * arithmetic, the vector transport, and the C·v/λ evaluation. (That a
    * landed vector is in fact the dominant eigenvector — C·v ≈ λv — is
    * pinned by PcaSpec, where a tolerance assert belongs; a differential
    * hash is the wrong tool for a convergence bound.)
    */
  private def q138 = GraftQuery(
    "q138_pca_top_component",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val emb = Tables.embeddings(s, dir)
      val cov = graft.operators.Pca.covariance(emb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val v = graft.operators.Pca.topComponent(cov)
      val path = Landed.land("q138_pca_top_component", dir)
      val vDf = s.createDataFrame(v.zipWithIndex.map { case (x, i) => (i, x) }.toSeq)
        .toDF("dim", "loading")
      vDf.repartition(1).write.mode("overwrite").parquet(path)
      val vBack = Tables.parquet(s, path)
      val cv = cov
        .join(broadcast(vBack.select(col("dim").as("j"), col("loading").as("vj"))), "j")
        .groupBy("i")
        .agg(sum(round(col("c") * col("vj"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("cv"))
      val lam = cv
        .join(broadcast(vBack.select(col("dim").as("i"), col("loading").as("vi"))), "i")
        .agg(sum(round(col("vi") * col("cv"), 15).cast(DecimalType(38, 15)))
          .cast("double").as("lambda"))
      val out = cv
        .join(broadcast(vBack.select(col("dim").as("i"), col("loading"))), "i")
        .crossJoin(broadcast(lam))
        .select(col("i").cast("int").as("dim"), col("loading"),
          round(col("cv"), 6).as("cv"), round(col("lambda"), 6).as("lambda"))
        .orderBy("dim")
      cov.unpersist()
      out
    },
    Some(s"""WITH ex AS (
              SELECT vec_id, dim, CAST(v AS DOUBLE) AS x
              FROM (SELECT vec_id, unnest(embedding) AS v,
                           unnest(generate_series(0, len(embedding) - 1)) AS dim
                    FROM embeddings)),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
            mu AS (
              SELECT dim,
                     CAST(sum(CAST(round(x, 15) AS DECIMAL(38,15))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
              FROM ex GROUP BY 1),
            cells AS (
              SELECT a.dim AS i, b.dim AS j,
                     ${graft.functions.Exact.sumFxSql("a.x * b.x", 15)} AS s
              FROM ex a JOIN ex b USING (vec_id)
              GROUP BY 1, 2),
            cc AS (
              SELECT i, j, round(s / nn.n - mi.m * mj.m, 12) AS c
              FROM cells CROSS JOIN nn
              JOIN mu mi ON mi.dim = i
              JOIN mu mj ON mj.dim = j),
            vv AS (
              SELECT dim, loading
              FROM read_parquet('${Landed.oraclePath("q138_pca_top_component")}/*.parquet')),
            cv AS (
              SELECT cc.i,
                     CAST(sum(CAST(round(cc.c * v.loading, 15) AS DECIMAL(38,15)))
                       AS DOUBLE) AS cv
              FROM cc JOIN vv v ON v.dim = cc.j
              GROUP BY 1),
            lam AS (
              SELECT CAST(sum(CAST(round(v.loading * cv.cv, 15) AS DECIMAL(38,15)))
                       AS DOUBLE) AS lambda
              FROM cv JOIN vv v ON v.dim = cv.i)
            SELECT CAST(cv.i AS INT) AS dim, v.loading,
                   round(cv.cv, 6) AS cv, round(lam.lambda, 6) AS lambda
            FROM cv JOIN vv v ON v.dim = cv.i CROSS JOIN lam
            ORDER BY dim"""))

  /** Nearest-centroid classification with per-label evaluation: every
    * embedding is assigned the label of its most cosine-similar q57
    * centroid, and the confusion rolls up to per-label precision /
    * recall / F1 — the standard "are these labels linearly separable in
    * embedding space" probe, and the supervised complement to q130's
    * unsupervised cluster purity.
    *
    * Plan shape: centroids follow the q57 decimal contract (means
    * rounded 12 BEFORE any cosine, the q117 rule) and broadcast — the
    * scoring join fans each vector's long form out by |labels| on the
    * `dim` key, so the work is rows·d·|labels| map-side products into
    * per-(vec, label) decimal sums; argmax is a |labels|-row window per
    * vector under the (cos DESC, label) total order, ties to the
    * smaller label on both engines. F1's 0/0 (a label never predicted
    * and never correct) scores 0, not NaN.
    */
  private val q159 = GraftQuery(
    "q159_nearest_centroid_eval",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round((sum(col("v").cast("double").cast(DecimalType(38, 20)))
          .cast("double") / count(lit(1))).cast("double"), 12).as("m"))
      // dots and norms ride the fixed-point accumulator: the long-form
      // scoring join is rows·d·|labels| products, and the decimal-sum
      // form was most of the query's bench time (4.3 s at sf0.1)
      val cnorm = cent.groupBy("label")
        .agg(sqrt(graft.functions.Exact.sumFx(col("m") * col("m"), 15)).as("nc"))
      val ex = emb.select(col("vec_id"), col("label").as("true_label"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("v", col("v").cast("double"))
      val vnorm = ex.groupBy("vec_id")
        .agg(sqrt(graft.functions.Exact.sumFx(col("v") * col("v"), 15)).as("nv"))
      val dots = ex.join(broadcast(cent), "dim")
        .groupBy("vec_id", "true_label", "label")
        .agg(graft.functions.Exact.sumFx(col("v") * col("m"), 15).as("dot"))
      val scored = dots
        .join(vnorm, "vec_id").join(broadcast(cnorm), "label")
        .withColumn("cos", round(col("dot") / (col("nv") * col("nc")), 12))
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("label").asc)
      val pred = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("true_label"), col("label").as("pred_label"))
      val byTrue = pred.groupBy(col("true_label").as("label"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
      val byPred = pred.groupBy(col("pred_label").as("label"))
        .agg(count(lit(1)).as("n_pred"))
      val p = col("n_correct").cast("double") / col("n_pred").cast("double")
      val r = col("n_correct").cast("double") / col("n_true").cast("double")
      byTrue.join(byPred, Seq("label"), "left")
        .select(col("label"), col("n_true"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"), col("n_correct"))
        .withColumn("precision",
          when(col("n_pred") === 0, lit(0.0)).otherwise(round(p, 9)))
        .withColumn("recall", round(r, 9))
        .withColumn("f1",
          when(col("n_pred") === 0 || col("n_correct") === 0, lit(0.0))
            .otherwise(round(lit(2.0) * p * r / (p + r), 9)))
        .orderBy("label")
    },
    Some("""WITH ex AS (
              SELECT vec_id, label AS true_label, dim, CAST(v AS DOUBLE) AS v
              FROM (SELECT vec_id, label, unnest(embedding) AS v,
                           unnest(generate_series(0, len(embedding) - 1)) AS dim
                    FROM embeddings)),
            cent AS (
              SELECT true_label AS label, dim,
                     round(CAST(sum(CAST(v AS DECIMAL(38,20))) AS DOUBLE)
                       / count(*), 12) AS m
              FROM ex GROUP BY 1, 2),
            cnorm AS (
              SELECT label,
                     sqrt((CAST(sum(CAST(CASE WHEN (m * m) * 1e15 >= 0 THEN floor((m * m) * 1e15 + 0.5) ELSE ceil((m * m) * 1e15 - 0.5) END AS HUGEINT)) AS DOUBLE) / 1e15)) AS nc
              FROM cent GROUP BY 1),
            vnorm AS (
              SELECT vec_id,
                     sqrt((CAST(sum(CAST(CASE WHEN (v * v) * 1e15 >= 0 THEN floor((v * v) * 1e15 + 0.5) ELSE ceil((v * v) * 1e15 - 0.5) END AS HUGEINT)) AS DOUBLE) / 1e15)) AS nv
              FROM ex GROUP BY 1),
            dots AS (
              SELECT e.vec_id, e.true_label, c.label,
                     (CAST(sum(CAST(CASE WHEN (e.v * c.m) * 1e15 >= 0 THEN floor((e.v * c.m) * 1e15 + 0.5) ELSE ceil((e.v * c.m) * 1e15 - 0.5) END AS HUGEINT)) AS DOUBLE) / 1e15) AS dot
              FROM ex e JOIN cent c USING (dim)
              GROUP BY 1, 2, 3),
            scored AS (
              SELECT d.vec_id, d.true_label, d.label,
                     round(d.dot / (v.nv * c.nc), 12) AS cos
              FROM dots d JOIN vnorm v USING (vec_id) JOIN cnorm c USING (label)),
            pred AS (
              SELECT vec_id, true_label, label AS pred_label FROM (
                SELECT vec_id, true_label, label,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, label) AS rn
                FROM scored)
              WHERE rn = 1),
            bt AS (
              SELECT true_label AS label, count(*) AS n_true,
                     CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_correct
              FROM pred GROUP BY 1),
            bp AS (SELECT pred_label AS label, count(*) AS n_pred FROM pred GROUP BY 1)
            SELECT bt.label, bt.n_true,
                   CAST(coalesce(bp.n_pred, 0) AS BIGINT) AS n_pred, bt.n_correct,
                   CASE WHEN coalesce(bp.n_pred, 0) = 0 THEN 0.0
                        ELSE round(CAST(bt.n_correct AS DOUBLE) / CAST(bp.n_pred AS DOUBLE), 9)
                   END AS precision,
                   round(CAST(bt.n_correct AS DOUBLE) / CAST(bt.n_true AS DOUBLE), 9) AS recall,
                   CASE WHEN coalesce(bp.n_pred, 0) = 0 OR bt.n_correct = 0 THEN 0.0
                        ELSE round(2.0 * (CAST(bt.n_correct AS DOUBLE) / CAST(bp.n_pred AS DOUBLE))
                               * (CAST(bt.n_correct AS DOUBLE) / CAST(bt.n_true AS DOUBLE))
                               / ((CAST(bt.n_correct AS DOUBLE) / CAST(bp.n_pred AS DOUBLE))
                                  + (CAST(bt.n_correct AS DOUBLE) / CAST(bt.n_true AS DOUBLE))), 9)
                   END AS f1
            FROM bt LEFT JOIN bp USING (label)
            ORDER BY label"""))

  private val MmrLambda = 0.7
  private val MmrShortlist = 12
  private val MmrK = 5

  /** Serial replay of the q163 MMR selection: the exact-cosine top-12
    * shortlist and its pairwise sims (both rounded 12 BEFORE any MMR
    * arithmetic), then the greedy rounds unrolled — each picks the
    * argmax of round(λ·rel − (1−λ)·maxSim, 12) under an (mmr DESC,
    * n_id) total order. `(1 - 0.7)` is written as the expression, not
    * 0.3: Spark computes the coefficient the same way and the binary
    * doubles must match.
    */
  private def mmrOracle: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       scored AS (
         SELECT q_id, b.vec_id AS n_id, ${cosSql("qe", "b.embedding")} AS cos
         FROM q, embeddings b WHERE b.vec_id <> q_id),
       short AS MATERIALIZED (
         SELECT q_id, n_id, round(cos, 12) AS rel FROM (
           SELECT q_id, n_id, cos,
                  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
           FROM scored) WHERE rk <= $MmrShortlist),
       sims AS MATERIALIZED (
         SELECT s1.q_id, s1.n_id, s2.n_id AS m_id,
                round(${cosSql("a.embedding", "b.embedding")}, 12) AS sim
         FROM short s1 JOIN short s2 ON s1.q_id = s2.q_id AND s1.n_id <> s2.n_id
         JOIN embeddings a ON a.vec_id = s1.n_id
         JOIN embeddings b ON b.vec_id = s2.n_id),
       selall1 AS MATERIALIZED (
         SELECT q_id, n_id, rel, round($MmrLambda * rel, 12) AS mmr, 1 AS step FROM (
           SELECT q_id, n_id, rel,
                  row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rk
           FROM short) WHERE rk = 1)""")
    for (i <- 2 to MmrK) {
      val p = s"selall${i - 1}"
      sb.append(s""",
       pen$i AS (
         SELECT s.q_id, s.n_id, s.rel, max(m.sim) AS pen
         FROM short s
         JOIN sims m ON m.q_id = s.q_id AND m.n_id = s.n_id
         JOIN $p x ON x.q_id = m.q_id AND x.n_id = m.m_id
         WHERE NOT EXISTS (SELECT 1 FROM $p y
                           WHERE y.q_id = s.q_id AND y.n_id = s.n_id)
         GROUP BY 1, 2, 3),
       sel$i AS (
         SELECT q_id, n_id, rel, mmr, $i AS step FROM (
           SELECT q_id, n_id, rel,
                  round($MmrLambda * rel - (1 - $MmrLambda) * pen, 12) AS mmr,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY round($MmrLambda * rel - (1 - $MmrLambda) * pen, 12) DESC,
                             n_id) AS rk
           FROM pen$i) WHERE rk = 1),
       selall$i AS MATERIALIZED (
         SELECT * FROM $p UNION ALL SELECT q_id, n_id, rel, mmr, step FROM sel$i)""")
    }
    sb.append(s"""
       SELECT q_id, step, n_id, rel, mmr FROM selall$MmrK ORDER BY q_id, step""")
    sb.toString
  }

  /** MMR-diversified top-k retrieval (maximal marginal relevance,
    * Carbonell & Goldstein 1998): per query, greedily select k docs
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected —
    * the rerank that stops a result page being five near-duplicates,
    * sitting directly downstream of this file's ANN shortlists.
    *
    * Scale contract: the greedy loop is inherently sequential in k, but
    * every step is data-parallel ACROSS queries and all state is
    * shortlist-bounded — top-12 candidates per query (the exact
    * [[NearDup.knnBruteForce]] baseline; the LSH/IVF paths slot in at
    * corpus scale) and ≤ 12² pairwise sims per query, so the k unrolled
    * steps each cost one anti join + one bounded max-aggregate + one
    * per-query argmax window, independent of corpus size. All cosines
    * round at 12 BEFORE selection so both engines pick identical
    * argmaxes.
    */
  private val q163 = GraftQuery(
    "q163_mmr_diversified_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val short = graft.operators.Components.cut(
        graft.operators.NearDup.knnBruteForce(
          emb.filter(col("vec_id") < 10), emb, k = MmrShortlist)
          .select(col("q_id"), col("n_id"), round(col("cos"), 12).as("rel")))
      val sims = graft.operators.Components.cut(
        short.select(col("q_id"), col("n_id"))
          .join(short.select(col("q_id"), col("n_id").as("m_id")), "q_id")
          .filter(col("n_id") =!= col("m_id"))
          .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ea")), "n_id")
          .join(emb.select(col("vec_id").as("m_id"), col("embedding").as("eb")), "m_id")
          .select(col("q_id"), col("n_id"), col("m_id"),
            round(graft.functions.Similarity.cosine(col("ea"), col("eb")), 12).as("sim")))
      graft.operators.Mmr.select(short, sims, MmrLambda, MmrK)
        .orderBy("q_id", "step")
    },
    Some(mmrOracle))

  /** SemDeDup (Abbas et al. 2023): semantic deduplication that bounds the
    * pairwise-cosine quadratic by PARTITIONING through k-means cells —
    * candidate pairs form only inside a cell, survivors are the min
    * vec_id of each within-cell near-dup component, and the report is the
    * per-cell keep/drop census a curation run reads before committing the
    * prune. The contrast with q78 (global brute-force pairs + components)
    * is the entire point: q78's candidate set is O(n²) in the corpus,
    * SemDeDup's is O(Σ|cell|²) — with cells sized n/k it is n²/k, and at
    * 100 TB k grows with the corpus (the paper runs 50k clusters on
    * LAION) so per-cell work stays constant while cross-cell pairs are
    * consciously forfeited (the documented recall trade, same contract
    * structure as q186's blocking).
    *
    * Reuses the q128 clustering (one Lloyd run per JVM × scale dir) and
    * lands the assignment for the oracle, which replays pair generation,
    * transitive closure, and the census over the same rows — the
    * clustering itself stays hash-gated by q128. Threshold 0.4 suits this
    * synthetic corpus's geometry (max pairwise cosine ≈ 0.51; production
    * corpora with true semantic dups run ≥ 0.95); the cosine is the exact
    * decimal-accumulated dot (q22's scheme), so both engines make the
    * identical keep/drop decision at the threshold.
    */
  /** SemDeDup's cell count must GROW with the corpus or the within-cell
    * quadratic comes back: at the ×10 probe (20k vectors) the fixed
    * KmK = 8 kmeans cells were 2500 vectors each — 25M candidate pairs,
    * 21.5 s (vs 1.1 s at sf0.1) — and re-running Lloyd with k = n/250
    * was WORSE (102 s: the n·k assignment dots dominate). Above
    * [[graft.queries.GraphQueries.KnnBruteForceMaxVectors]]' bound the
    * partitioner switches to [[NearDup.lshCells]] — one sign-signature
    * scan, 2^bits ≈ n/250 cells, no iterations (measured: 10.8 s for the
    * full q187 at 20k — linear in the ×10 data); below it the shared q128
    * clustering is reused so the verification-scale result stays pinned
    * to the hash-gated Lloyd run. The oracle replays from the LANDED
    * assignment either way — the census math is graded at any scale, the
    * partitioner is the documented knob (the q126/q142 routing contract).
    */
  private def semdedupAssign(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val emb = Tables.embeddings(s, dir)
    val n = emb.count()
    if (n <= GraphQueries.KnnBruteForceMaxVectors) kmeansShared(s, dir)
    else {
      val bits = math.max(3,
        (math.log(n / 250.0) / math.log(2.0)).round.toInt)
      NearDup.lshCells(emb, bits)
    }
  }

  private def q187 = GraftQuery(
    "q187_semdedup",
    (s, dir) => {
      val path = Landed.land("q187_semdedup", dir)
      semdedupAssign(s, dir)
        .repartition(1)
        .write.mode("overwrite").parquet(path)
      val assign = Tables.parquet(s, path).select("vec_id", "cluster")
      val pairs = NearDup
        .semDedupPairs(Tables.embeddings(s, dir), assign, threshold = 0.4)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val surv = graft.operators.Components.neardupClusters(pairs)
        .select(col("doc_id").as("vec_id"), col("is_survivor"))
      assign.join(surv, Seq("vec_id"), "left")
        .withColumn("kept", coalesce(col("is_survivor"), lit(true)))
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n_members"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
        .orderBy("cluster")
    },
    Some(s"""WITH RECURSIVE asn AS (
              SELECT vec_id, cluster
              FROM read_parquet('${Landed.oraclePath("q187_semdedup")}/*.parquet')),
            em AS (
              SELECT asn.vec_id, asn.cluster, b.embedding
              FROM asn JOIN embeddings b USING (vec_id)),
            pairs AS (
              SELECT x.vec_id AS va, y.vec_id AS vb
              FROM em x JOIN em y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.4),
            edges AS (
              SELECT va AS s, vb AS d FROM pairs
              UNION SELECT vb, va FROM pairs),
            reach(s, d) AS (
              SELECT s, d FROM edges
              UNION
              SELECT r.s, e2.d FROM reach r JOIN edges e2 ON r.d = e2.s),
            surv AS (
              SELECT s AS vec_id, least(s, min(d)) = s AS kept
              FROM reach GROUP BY s)
            SELECT asn.cluster, count(*) AS n_members,
                   CAST(sum(CASE WHEN coalesce(surv.kept, TRUE) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(sum(CASE WHEN coalesce(surv.kept, TRUE) THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
            FROM asn LEFT JOIN surv USING (vec_id)
            GROUP BY asn.cluster ORDER BY asn.cluster"""))

  private val MrlDims = Seq(8, 16, 32)
  private val MrlK = 5
  private val MrlQueries = 20

  /** Matryoshka-truncation retrieval recall (Kusupati et al. 2022): how
    * much of the FULL-dimension exact top-5 survives when queries rank by
    * only the first d dims (d ∈ 8/16/32) — the eval a pipeline runs
    * before shipping truncated embeddings to a cheaper ANN tier. Emits
    * one row per (d_trunc, query): the overlap@5 against the full-dim
    * baseline.
    *
    * Scale contract: each d is one [[NearDup.knnBruteForce]] pass over
    * the broadcast query side (bounded TopKAgg, no corpus window); the
    * truncation itself is a zero-shuffle `slice` projection. |dims|+1
    * passes over the corpus, each O(|Q|·n) dots — the same budget as the
    * q22 baseline it extends, and at real scale the sliced pass plugs
    * into the LSH/IVF candidate paths unchanged (truncation commutes
    * with bucketing).
    */
  private val q213 = GraftQuery(
    "q213_matryoshka_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      def topIds(df: org.apache.spark.sql.DataFrame) =
        NearDup.knnBruteForce(
          df.filter(col("vec_id") < MrlQueries), df, k = MrlK)
          .select(col("q_id"), col("n_id"))
      val full = topIds(emb)
      val perD = MrlDims.map { d =>
        val sliced = emb.select(col("vec_id"),
          slice(col("embedding"), 1, d).as("embedding"))
        topIds(sliced)
          .join(full.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
          .select(lit(d).as("d_trunc"), col("q_id"), col("n_overlap"))
      }
      perD.reduce(_ unionByName _)
        .withColumn("recall_at_k",
          round(col("n_overlap").cast("double") / MrlK, 9))
        .orderBy("d_trunc", "q_id")
    },
    Some {
      val perD = MrlDims.map { d =>
        s"""SELECT $d AS d_trunc, t.q_id,
               CAST(sum(CASE WHEN f.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_overlap
            FROM (SELECT q_id, n_id FROM (
                    SELECT q.q_id, b.vec_id AS n_id,
                           row_number() OVER (PARTITION BY q.q_id ORDER BY
                             ${cosSql(s"q.qe[1:$d]", s"b.embedding[1:$d]")} DESC,
                             b.vec_id) AS rk
                    FROM (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                          WHERE vec_id < $MrlQueries) q,
                         embeddings b WHERE b.vec_id <> q.q_id)
                  WHERE rk <= $MrlK) t
            LEFT JOIN (SELECT q_id, n_id FROM (
                    SELECT q.q_id, b.vec_id AS n_id,
                           row_number() OVER (PARTITION BY q.q_id ORDER BY
                             ${cosSql("q.qe", "b.embedding")} DESC, b.vec_id) AS rk
                    FROM (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                          WHERE vec_id < $MrlQueries) q,
                         embeddings b WHERE b.vec_id <> q.q_id)
                  WHERE rk <= $MrlK) f
              ON f.q_id = t.q_id AND f.n_id = t.n_id
            GROUP BY t.q_id"""
      }.mkString("\n            UNION ALL\n            ")
      s"""SELECT d_trunc, q_id, n_overlap,
                 round(CAST(n_overlap AS DOUBLE) / $MrlK, 9) AS recall_at_k
          FROM ($perD) ORDER BY d_trunc, q_id"""
    })

  /** Hard-negative mining for contrastive training: per anchor (the
    * first 20 vectors), the 3 most-cosine-similar vectors with a
    * DIFFERENT label — the "confusable but wrong" examples a contrastive
    * batch wants next to each positive. Two-phase like
    * [[NearDup.knnBruteForce]]: codegen'd double dots feed a bounded
    * per-anchor TopKAgg (map-side partials carry ≤ k+margin rows, no
    * corpus-wide window), then only survivors pay the decimal-exact
    * cosine that the oracle hash-compares.
    */
  private val q214 = GraftQuery(
    "q214_hard_negative_mining",
    (s, dir) => {
      import graft.functions.Similarity
      val emb = Tables.embeddings(s, dir)
      val v = emb.select(col("vec_id"), col("embedding"),
        Similarity.normExact(col("embedding")).as("nrm"), col("label"))
      val q = broadcast(v.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("label").as("anchor_label")))
      val c = v.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
        col("nrm").as("nn"), col("label").as("neg_label"))
      val k = 3
      val shortFn = graft.functions.TopKAgg.topK(k + 20)
      val shortlist = c.join(q,
          col("q_id") =!= col("n_id") && col("anchor_label") =!= col("neg_label"))
        .select(col("q_id"), col("n_id"), Similarity.cosineFromParts(
          Similarity.dotFast(col("qe"), col("ne")), col("qn"), col("nn")).as("fast"))
        .groupBy("q_id")
        .agg(shortFn(col("fast"), col("n_id")).as("top"))
        .select(col("q_id"), explode(col("top")).as("t"))
        .select(col("q_id"), col("t.id").as("n_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
      c.join(broadcast(shortlist.join(q, "q_id")), "n_id")
        .withColumn("cos", round(Similarity.cosineFromParts(
          Similarity.dotExact(col("qe"), col("ne")), col("qn"), col("nn")), 12))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("anchor_label"), col("n_id"), col("neg_label"),
          col("cos"), col("rank"))
        .orderBy("q_id", "rank")
    },
    Some(s"""SELECT q_id, anchor_label, n_id, neg_label,
                    round(cos, 12) AS cos, CAST(rk AS INT) AS rank
             FROM (
               SELECT q.q_id, q.anchor_label, b.vec_id AS n_id,
                      b.label AS neg_label,
                      ${cosSql("q.qe", "b.embedding")} AS cos,
                      row_number() OVER (PARTITION BY q.q_id ORDER BY
                        ${cosSql("q.qe", "b.embedding")} DESC, b.vec_id) AS rk
               FROM (SELECT vec_id AS q_id, embedding AS qe, label AS anchor_label
                     FROM embeddings WHERE vec_id < 20) q,
                    embeddings b
               WHERE b.vec_id <> q.q_id AND b.label <> q.anchor_label)
             WHERE rk <= 3 ORDER BY q_id, rank"""))

  // def, not val: q24/q32/q70 rebuild their oracle SQL from the recorded
  // landing path on every access (see the Landed note above)
  /** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    * traversal) — the diversity-first data-selection primitive (Sener &
    * Savarese 2018 use exactly this for coreset active learning): seed
    * with the lowest vec_id, then k−1 rounds of "pick the vector farthest
    * (max–min cosine distance) from everything selected so far". Each
    * round is ONE corpus scan computing ≤ k cosines per row against the
    * broadcast selected set (k is a bounded knob, so total work is
    * O(k·n) — the MMR/q163 driver-bounded loop contract, never a pair
    * join). Determinism: every pairwise distance is rounded HALF_UP at
    * 12 dp BEFORE the min/argmax (the q216 round-before-argmax contract)
    * and ties break on lowest vec_id, so both engines replay the
    * identical selection sequence. `dist` is the selected vector's
    * max–min distance at selection time (the coverage radius sequence;
    * NULL for the seed).
    */
  private val KcRounds = 8

  private def q225 = GraftQuery(
    "q225_kcenter_coreset",
    (s, dir) => {
      import graft.functions.Similarity
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val seed = emb.orderBy("vec_id").limit(1)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].head()
      val picked = scala.collection.mutable.ListBuffer(
        (0, seed._1, Option.empty[Double]))
      def dTo(v: Array[Float]) = {
        val lv = typedLit(v)
        round(lit(1.0) - Similarity.cosineFromParts(
          Similarity.dotExact(col("embedding"), lv),
          Similarity.normExact(col("embedding")),
          Similarity.normExact(lv)), 12)
      }
      // incremental farthest-point state (round 12, guide §1.2): carry
      // dist = min over centers so far and fold ONE new cosine per round —
      // least() is exact floating min, so the fold equals the original
      // j-term least-reduce over all selected centers bit-for-bit, while
      // the per-round plan/codegen stays O(1) instead of O(j)
      var selectedIds = List(seed._1)
      // widen before the FIRST cut (round 13, §2.5): the single-file scan
      // checkpointed at 1 partition, so every round's decimal-dot fold ran
      // as ONE ~260 ms task (ProbeQueryJobs: 7 serial single-task jobs);
      // the checkpoint keeps the widened layout for all later rounds
      var state = graft.operators.Components.cut(
        graft.Tables.widen(emb.select(col("vec_id"), col("embedding")))
          .select(col("vec_id"), col("embedding"), dTo(seed._2).as("dist")))
      for (j <- 1 until KcRounds) {
        val next = state
          .filter(!col("vec_id").isin(selectedIds: _*))
          .orderBy(col("dist").desc, col("vec_id").asc).limit(1)
          .as[(Long, Array[Float], Double)].head()
        selectedIds = next._1 :: selectedIds
        picked += ((j, next._1, Some(next._3)))
        if (j < KcRounds - 1)
          state = graft.operators.Components.cut(
            state.select(col("vec_id"), col("embedding"),
              least(col("dist"), dTo(next._2)).as("dist")))
      }
      picked.toSeq.toDF("sel_round", "vec_id", "dist")
        .orderBy("sel_round")
    },
    Some {
      val rounds = (1 until KcRounds).map { j =>
        val prev = if (j == 1) "prev1" else s"prev$j"
        s"""s$j AS MATERIALIZED (SELECT vec_id, embedding, dist FROM (
             SELECT e.vec_id, e.embedding,
                    min(round(1.0 - (${cosSql("e.embedding", "p.embedding")}), 12)) AS dist
             FROM embeddings e CROSS JOIN $prev p
             WHERE e.vec_id NOT IN (SELECT vec_id FROM $prev)
             GROUP BY e.vec_id, e.embedding)
           ORDER BY dist DESC, vec_id LIMIT 1),
           prev${j + 1} AS MATERIALIZED (SELECT vec_id, embedding FROM $prev
                            UNION ALL SELECT vec_id, embedding FROM s$j)"""
      }.mkString(",\n")
      val unions = (1 until KcRounds)
        .map(j => s"SELECT CAST($j AS INT) AS sel_round, vec_id, dist FROM s$j")
        .mkString("\n UNION ALL ")
      s"""WITH s0 AS (SELECT vec_id, embedding
                      FROM embeddings
                      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
          prev1 AS (SELECT vec_id, embedding FROM s0),
          $rounds
          SELECT sel_round, vec_id, dist FROM (
            SELECT CAST(0 AS INT) AS sel_round, vec_id,
                   CAST(NULL AS DOUBLE) AS dist FROM s0
            UNION ALL $unions)
          ORDER BY sel_round"""
    })

  /** Sign-quantized Hamming retrieval recall census: each 64-dim float
    * vector compresses to a 64-bit sign signature (1 bit per dimension —
    * a 32× storage cut), candidates rank by Hamming distance between
    * signatures, and the census scores recall@10 of that bit-level
    * ranking against the exact cosine top-10 (q22's baseline). The
    * sign-random-projection identity (Charikar 2002, applied to the
    * identity basis) makes Hamming a monotone proxy for angle — this
    * query MEASURES how much ranking fidelity one bit per dimension
    * keeps, the planning number behind shipping bit signatures as the
    * first-pass filter at 100 TB (XOR+popcount over packed longs instead
    * of a 64-float dot per candidate).
    *
    * Scale: the signature pass is one projection-free scan; scoring is
    * 2 XOR+popcounts per (query, candidate) with the 10 query
    * signatures broadcast; the per-query top-10 rides the bounded
    * [[graft.functions.TopKAgg]] (map-side ≤ k rows per query per
    * partition — no corpus-sized sort). Determinism: signatures and
    * Hamming distances are integers; ties break on vec_id ascending on
    * both engines; recall is a 10-denominator ratio rounded at 12. The
    * oracle replays the signature semantically (sign-disagreement count
    * per dimension) rather than via bit packing — same total order by
    * construction.
    */
  private def q277 = GraftQuery(
    "q277_sign_hamming_recall",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      def half(lo: Int, hi: Int) = expr(
        s"aggregate(sequence($lo, $hi), 0L, (acc, i) -> acc * 2L" +
          " + IF(element_at(embedding, i) >= CAST(0.0 AS FLOAT), 1L, 0L))")
      val sig = emb.select(col("vec_id"),
        half(1, 32).as("h1"), half(33, 64).as("h2"))
      val q = sig.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("h1").as("q1"), col("h2").as("q2"))
      val scored = sig.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (expr("bit_count(q1 ^ h1)") + expr("bit_count(q2 ^ h2)")).as("ham"))
      val hamTop = scored.groupBy("q_id")
        .agg(graft.functions.TopKAgg.topK(10)(
          -col("ham").cast("double"), col("n_id")).as("tk"))
        .select(col("q_id"), explode(col("tk")).as("e"))
        .select(col("q_id"), col("e.id").as("n_id"))
      val exact = NearDup.knnBruteForce(emb.filter(col("vec_id") < 10), emb, k = 10)
        .select(col("q_id"), col("n_id"))
      val hits = hamTop.join(exact, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      q.select("q_id")
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / 10.0, 12)
            .as("recall_at_10"))
        .orderBy("q_id")
    },
    Some(s"""WITH scored AS (
              SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                     len(list_filter(range(1, 65),
                       i -> (q.embedding[i] >= 0) <> (c.embedding[i] >= 0))) AS ham
              FROM embeddings q, embeddings c
              WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
            htop AS (
              SELECT q_id, n_id FROM (
                SELECT q_id, n_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY ham, n_id) AS rk
                FROM scored) WHERE rk <= 10),
            exact AS (
              SELECT q_id, n_id FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
                                  c.vec_id) AS rk
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rk <= 10),
            hits AS (
              SELECT h.q_id, count(*) AS hits
              FROM htop h JOIN exact e ON h.q_id = e.q_id AND h.n_id = e.n_id
              GROUP BY 1)
            SELECT q.vec_id AS q_id,
                   CAST(COALESCE(hits.hits, 0) AS BIGINT) AS hits,
                   round(CAST(COALESCE(hits.hits, 0) AS DOUBLE) / 10.0, 12)
                     AS recall_at_10
            FROM embeddings q LEFT JOIN hits ON q.vec_id = hits.q_id
            WHERE q.vec_id < 10 ORDER BY q_id"""))

  def all: Seq[GraftQuery] =
    Seq(q22, q23, q24, q32, q57, q70, q78, q79, q93, q117, q128, q130, q137,
      q138, q142, q159, q163, q187, q213, q214, q225, q277)
}
