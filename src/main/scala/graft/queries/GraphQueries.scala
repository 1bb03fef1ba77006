package graft.queries

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Graph analytics over relationship structure derived from the relational
  * tables — the §2 extension family for link/authority signals in corpus
  * curation (connected components live in [[graft.operators.Components]];
  * this file holds the spectral side).
  */
object GraphQueries {

  /** The q108 trade graph: one directed edge per (customer nation →
    * supplier nation) pair that traded, weighted by lineitem count. Built
    * from the fact tables with two broadcast dimension hops — the only
    * shuffles are the lineitem⋈orders join and the final edge aggregate.
    */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // the heavy fact-fact join collapses to a <=n_nations^2-row edge list:
    // build that ONCE per input content — r06 re-ran the 600k-row join for
    // q108's node census, q108's normalization, and again for q112 —
    // and reuse it ACROSS sessions (Artifacts: deterministic aggregate,
    // content-keyed on the input fact/dim parquet)
    val path = Artifacts.cached("trade-edges", "v1",
        Seq("lineitem", "orders", "customer", "supplier", "nation")
          .map(t => s"$dir/$t.parquet")) { p =>
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val nat = Tables.nation(s, dir).select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"), col("n_name").as("src"))),
          col("c_nationkey") === col("cnk"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"), col("n_name").as("dst"))),
          col("s_nationkey") === col("snk"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).cast("double").as("w"))
        .coalesce(1)
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  private val PrIters = 5
  private val PrDamping = 0.85

  /** The oracle's serial replay of [[graft.operators.PageRank.run]]:
    * the same recurrence unrolled as chained CTEs, one
    * (contribution, dangling, rank) CTE triple per round. The node count
    * is computed in-SQL and every scalar derivation (1/n, (1−0.85)/n) is
    * the same sequence of IEEE double operations Spark performs, so both
    * engines run the recurrence from bit-identical constants; the sums
    * ride DECIMAL(38,15) and each round's rank rounds at 12 dp, exactly
    * as the operator does.
    */
  private def pagerankOracle: String =
    pagerankOracleOver(
      """SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         GROUP BY 1, 2""",
      "SELECT node, rank FROM rFINAL ORDER BY node")

  /** [[pagerankOracle]]'s round chain over a caller-supplied `edges`
    * body (must yield src, dst, w) and final SELECT (the literal
    * `rFINAL` is substituted with the last round's CTE name) — q108 and
    * q158 share the recurrence, only the graph and the output clause
    * differ.
    */
  private def pagerankOracleOver(edgesBody: String, finalSelect: String): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH edges AS MATERIALIZED (
         $edgesBody),
       nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       outw AS (SELECT src AS node,
                       CAST(sum(CAST(w AS DECIMAL(38,15))) AS DOUBLE) AS out_w
                FROM edges GROUP BY 1),
       norm AS MATERIALIZED (SELECT e.src AS node, e.dst, e.w / o.out_w AS frac
                FROM edges e JOIN outw o ON e.src = o.node WHERE o.out_w > 0),
       r0 AS MATERIALIZED (SELECT node, round(1.0 / nn.n, 12) AS rank FROM nodes CROSS JOIN nn)""")
    for (i <- 1 to PrIters) {
      val p = s"r${i - 1}"
      sb.append(s""",
       c$i AS (SELECT nm.dst AS node,
                      CAST(sum(CAST(round(r.rank * nm.frac, 15) AS DECIMAL(38,15)))
                        AS DOUBLE) AS contrib
               FROM $p r JOIN norm nm ON r.node = nm.node GROUP BY 1),
       d$i AS (SELECT CAST(coalesce(sum(CAST(r.rank AS DECIMAL(38,15))), 0)
                        AS DOUBLE) AS dm
               FROM $p r WHERE r.node NOT IN (SELECT node FROM norm)),
       r$i AS MATERIALIZED (SELECT n2.node,
                      round((1 - CAST($PrDamping AS DOUBLE)) / nn.n
                          + CAST($PrDamping AS DOUBLE)
                            * (coalesce(c.contrib, 0.0) + d.dm / nn.n),
                        12) AS rank
               FROM nodes n2 LEFT JOIN c$i c ON n2.node = c.node
               CROSS JOIN d$i d CROSS JOIN nn)""")
    }
    sb.append("\n       " + finalSelect.replace("rFINAL", s"r$PrIters"))
    sb.toString
  }

  /** Weighted PageRank over the nation trade graph — authority weighting
    * by power iteration ([[graft.operators.PageRank]]), graded against a
    * serial SQL replay of the identical recurrence (5 rounds, d = 0.85).
    * The edge derivation is the heavy part at scale (a fact-fact join
    * plus broadcast dims); the iteration itself runs on the contracted
    * graph, which is why the operator caches the normalized edge list
    * once and cuts lineage per round rather than recomputing the join.
    */
  private val q108 = GraftQuery(
    "q108_pagerank_trade",
    (s, dir) =>
      graft.operators.PageRank.run(
        tradeEdges(s, dir), "src", "dst", weightCol = Some("w"),
        iterations = PrIters, damping = PrDamping)
        .orderBy("node"),
    Some(pagerankOracle))

  /** Shared SQL prefix for the graph oracles: the trade edge list, node
    * universe and node count, exactly as [[tradeEdges]] derives them.
    */
  private val edgesCte = """WITH edges AS MATERIALIZED (
         SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         GROUP BY 1, 2),
       nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)"""

  private val HitsIters = 5

  /** Serial replay of [[graft.operators.Hits.run]]: per round, the
    * authority half-step (raw sums → coalesce over the node universe →
    * L1 norm → round 12) then the hub half-step from the FRESH
    * authorities — four CTEs per half-step, unrolled.
    */
  private def hitsOracle: String = {
    val sb = new StringBuilder(edgesCte)
    sb.append(""",
       s0 AS MATERIALIZED (SELECT node, round(1.0 / nn.n, 12) AS auth, round(1.0 / nn.n, 12) AS hub
              FROM nodes CROSS JOIN nn)""")
    for (i <- 1 to HitsIters) {
      val p = s"s${i - 1}"
      sb.append(s""",
       a${i}r AS (SELECT e.dst AS node,
                         CAST(sum(CAST(round(s.hub * e.w, 15) AS DECIMAL(38,15)))
                           AS DOUBLE) AS raw
                  FROM $p s JOIN edges e ON s.node = e.src GROUP BY 1),
       a${i}f AS MATERIALIZED (SELECT n2.node, coalesce(a.raw, 0.0) AS auth
                  FROM nodes n2 LEFT JOIN a${i}r a ON n2.node = a.node),
       a${i}n AS (SELECT CAST(sum(CAST(auth AS DECIMAL(38,15))) AS DOUBLE) AS l1
                  FROM a${i}f),
       a$i AS MATERIALIZED (SELECT node, round(auth / l1, 12) AS auth
               FROM a${i}f CROSS JOIN a${i}n),
       h${i}r AS (SELECT e.src AS node,
                         CAST(sum(CAST(round(a.auth * e.w, 15) AS DECIMAL(38,15)))
                           AS DOUBLE) AS raw
                  FROM a$i a JOIN edges e ON a.node = e.dst GROUP BY 1),
       h${i}f AS MATERIALIZED (SELECT n2.node, coalesce(h.raw, 0.0) AS hub
                  FROM nodes n2 LEFT JOIN h${i}r h ON n2.node = h.node),
       h${i}n AS (SELECT CAST(sum(CAST(hub AS DECIMAL(38,15))) AS DOUBLE) AS l1
                  FROM h${i}f),
       h$i AS MATERIALIZED (SELECT node, round(hub / l1, 12) AS hub
               FROM h${i}f CROSS JOIN h${i}n),
       s$i AS MATERIALIZED (SELECT a.node, a.auth, h.hub FROM a$i a JOIN h$i h ON a.node = h.node)""")
    }
    sb.append(s"\n       SELECT node, auth, hub FROM s$HitsIters ORDER BY node")
    sb.toString
  }

  /** HITS hubs/authorities on the nation trade graph
    * ([[graft.operators.Hits]], 5 rounds): import-heavy nations surface
    * as authorities, export-heavy as hubs — the directional view PageRank
    * (a single stationary score) can't give. Same grading scheme as q108:
    * a serially-unrolled CTE replay of the identical rounded recurrence.
    */
  private val q112 = GraftQuery(
    "q112_hits_trade",
    (s, dir) =>
      graft.operators.Hits.run(
        tradeEdges(s, dir), "src", "dst", weightCol = Some("w"),
        iterations = HitsIters)
        .orderBy("node"),
    Some(hitsOracle))

  /** Corpus-size bound for the exact O(n²) brute-force graph build. The
    * driver's verification scales (≤ 2000 vectors at sf0.1) stay below it
    * — their oracles demand the EXACT top-5 graph — while anything larger
    * (the sf×10 scale probe, a real corpus) routes through the
    * LSH-bucketed constructor ([[graft.operators.NearDup.knnTopKLsh]],
    * recall ≥ 0.95 pinned by AnnSpec) whose candidate volume follows
    * bucket occupancy instead of n². `bits` grows with log₂(n/250) per
    * the operator's knob guidance so bucket size stays ~constant as the
    * corpus scales.
    */
  private[graft] val KnnBruteForceMaxVectors = 10000L

  private[graft] def knnGraphEdges(
      emb: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    val n = emb.count()
    if (n <= KnnBruteForceMaxVectors)
      graft.operators.NearDup.knnBruteForce(emb, emb, k = k)
    else {
      // size-scaled knobs (measured on the ×10 probe corpus: 13 s at the
      // scaled bits vs 98 s at fixed-bucket-250 bits, recall 1.0); the
      // 24 tables compound per-table misses so TRAVERSALS over the
      // approximate graph stay within 5% of brute-built ones (AnnSpec's
      // differential bound)
      val (bits, tables) = graft.operators.NearDup.scaledLshKnobs(n)
      graft.operators.NearDup.knnTopKLsh(emb, k = k, bits = bits, tables = tables)
    }
  }

  /** The similarity graph all four traversal queries (q126/q127/q135/q136)
    * run on: top-5 exact cosine neighbors per vector
    * ([[graft.operators.NearDup.knnBruteForce]] with every vector as a
    * query), treated as undirected. Built ONCE per input content as an
    * [[Artifacts]] entry — r06 rebuilt the same all-pairs graph
    * inside each of the four queries, 4 × ~115 s of the bench; the landed
    * frame turns the quartet into one build + three parquet reads. The
    * oracles are NOT pointed at the landed file: each one independently
    * rebuilds the edge set in SQL (the q22 cosine fragment + a ranked
    * window), so the graph construction stays oracle-gated four times
    * over, not self-certified.
    */
  private def knnTopK(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // cross-session reuse (Artifacts): the build is deterministic — exact
    // top-5 below the brute-force bound, splitmix64-derived hyperplanes
    // above — so a second Verify/Bench in the same sfDir skips it
    val path = Artifacts.cached("knn-graph", "k5-v1", Seq(s"$dir/embeddings.parquet")) { p =>
      knnGraphEdges(Tables.embeddings(s, dir), k = 5)
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }

  private def knnEdges(s: org.apache.spark.sql.SparkSession, dir: String) =
    knnTopK(s, dir).select(col("q_id").as("src"), col("n_id").as("dst"))

  private def knnEdgesSql: String =
    s"""p AS (
         SELECT a.vec_id AS qa, b.vec_id AS qb,
                ${SimilarityQueries.cosSql("a.embedding", "b.embedding")} AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       r AS (SELECT qa, qb, row_number() OVER (PARTITION BY qa
                     ORDER BY cos DESC, qb) AS rk FROM p),
       e0 AS (SELECT qa AS s, qb AS d FROM r WHERE rk <= 5)"""

  /** Single-source BFS over the embedding knn graph
    * ([[graft.operators.Bfs]]): hop distance from the minimum vec_id to
    * every reachable vector — the connectivity/diameter probe of a
    * similarity graph (cluster reachability before any expensive
    * community pass). Frontier iteration in Spark; the oracle replays it
    * as a recursive CTE with (node, hop) dedup and takes min(hop).
    * Both engines cap at 16 hops — the contract bound, far above this
    * graph's diameter.
    */
  private val q126 = GraftQuery(
    "q126_bfs_knn_hops",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val source = emb.agg(min(col("vec_id"))).head().getLong(0)
      graft.operators.Bfs.run(knnEdges(s, dir), "src", "dst", source, maxHops = 16)
        .orderBy("node")
    },
    Some(s"""WITH RECURSIVE $knnEdgesSql,
            e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
            bfs AS (
              SELECT (SELECT min(vec_id) FROM embeddings) AS node, 0 AS hop
              UNION
              SELECT e.d, bfs.hop + 1 FROM bfs JOIN e ON e.s = bfs.node
              WHERE bfs.hop < 16)
            SELECT CAST(node AS BIGINT) AS node, CAST(min(hop) AS BIGINT) AS hop
            FROM bfs GROUP BY node ORDER BY node"""))

  /** The weighted twin of [[knnEdges]]: same top-5 cosine neighbors (read
    * from the same landed [[knnTopK]] frame), each edge weighted by its
    * rounded cosine DISTANCE (w = round(1 − cos, 6) — near-identical
    * vectors are cheap to traverse, dissimilar ones expensive). The 6-dp
    * round happens before any path arithmetic so both engines accumulate
    * identical doubles.
    */
  private def knnEdgesW(s: org.apache.spark.sql.SparkSession, dir: String) =
    knnTopK(s, dir)
      .select(col("q_id").as("src"), col("n_id").as("dst"),
        round(lit(1.0) - col("cos"), 6).as("w"))

  private def knnEdgesWSql: String =
    s"""pw AS (
         SELECT a.vec_id AS qa, b.vec_id AS qb,
                ${SimilarityQueries.cosSql("a.embedding", "b.embedding")} AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       rw AS (SELECT qa, qb, cos, row_number() OVER (PARTITION BY qa
                      ORDER BY cos DESC, qb) AS rk FROM pw),
       e0w AS (SELECT qa AS s, qb AS d, round(1 - cos, 6) AS w
               FROM rw WHERE rk <= 5)"""

  private val SsspRounds = 8

  /** Serial replay of [[graft.operators.Sssp.run]]: Bellman–Ford unrolled,
    * one distance CTE per round — after round k both engines hold the
    * exact min-weight path using ≤ k edges. Relaxation sums run in path
    * order (identical IEEE sequence) and `min` is order-free, so the
    * doubles match bit-for-bit with no decimal re-summing.
    */
  private def ssspOracle: String = {
    val sb = new StringBuilder(s"WITH $knnEdgesWSql")
    sb.append(""",
       ew AS MATERIALIZED (
         SELECT s, d, min(w) AS w FROM (
           SELECT s, d, w FROM e0w UNION ALL SELECT d AS s, s AS d, w FROM e0w)
         WHERE s <> d GROUP BY 1, 2),
       sd0 AS MATERIALIZED (
         SELECT (SELECT min(vec_id) FROM embeddings) AS node,
                CAST(0 AS DOUBLE) AS dist)""")
    for (i <- 1 to SsspRounds) {
      val p = s"sd${i - 1}"
      sb.append(s""",
       sd$i AS MATERIALIZED (
         SELECT node, min(dist) AS dist FROM (
           SELECT node, dist FROM $p
           UNION ALL
           SELECT ew.d AS node, $p.dist + ew.w AS dist
           FROM $p JOIN ew ON ew.s = $p.node)
         GROUP BY node)""")
    }
    sb.append(s"""
       SELECT CAST(node AS BIGINT) AS node, round(dist, 9) AS dist
       FROM sd$SsspRounds ORDER BY node""")
    sb.toString
  }

  /** Weighted single-source shortest paths over the similarity graph
    * ([[graft.operators.Sssp]], 8 Bellman–Ford rounds from the minimum
    * vec_id): cumulative cosine-distance reachability — "how semantically
    * far" each vector sits from the source, the weighted refinement of
    * q126's hop counts. Fixed rounds are the cross-engine contract; the
    * oracle unrolls the identical recurrence.
    */
  private val q135 = GraftQuery(
    "q135_sssp_knn",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val source = emb.agg(min(col("vec_id"))).head().getLong(0)
      graft.operators.Sssp.run(
        knnEdgesW(s, dir), "src", "dst", "w", source, rounds = SsspRounds)
        .select(col("node"), round(col("dist"), 9).as("dist"))
        .orderBy("node")
    },
    Some(ssspOracle))

  private val LpaRounds = 4

  /** Serial replay of [[graft.operators.Lpa.run]]: per round, a
    * neighbor-label count and a (count DESC, label ASC) argmax window,
    * coalesced over the previous round's node set — all integers.
    */
  /** The LPA recurrence CTE chain (shared by q136 and q227's modularity):
    * appends el/lp0..lp`LpaRounds` after the knn edge CTEs; callers add
    * their own final SELECT over `lp$LpaRounds`.
    */
  private def lpaBodySql: String = {
    val sb = new StringBuilder(s"WITH $knnEdgesSql")
    sb.append(""",
       el AS MATERIALIZED (
         SELECT DISTINCT s, d FROM (
           SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0)
         WHERE s <> d),
       lp0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM el)""")
    for (i <- 1 to LpaRounds) {
      val p = s"lp${i - 1}"
      sb.append(s""",
       w$i AS (SELECT el.d AS node, $p.label AS nbr_label, count(*) AS cnt
               FROM $p JOIN el ON el.s = $p.node GROUP BY 1, 2),
       v$i AS (SELECT node, nbr_label AS new_label FROM (
                 SELECT node, nbr_label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY cnt DESC, nbr_label ASC) AS rk
                 FROM w$i) WHERE rk = 1),
       lp$i AS MATERIALIZED (
         SELECT $p.node, coalesce(v$i.new_label, $p.label) AS label
         FROM $p LEFT JOIN v$i ON v$i.node = $p.node)""")
    }
    sb.toString
  }

  private def lpaOracle: String =
    s"""$lpaBodySql
       SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
       FROM lp$LpaRounds ORDER BY node"""

  /** Label-propagation communities on the similarity graph
    * ([[graft.operators.Lpa]], 4 synchronous rounds): majority dynamics
    * split the dense semantic clusters that mere connectivity (q33/q77
    * components) would merge across thin bridges. Deterministic by
    * construction — fixed rounds, min-label tie-breaks — so the oracle
    * replays the identical integer recurrence.
    */
  private val q136 = GraftQuery(
    "q136_lpa_communities",
    (s, dir) =>
      graft.operators.Lpa.run(knnEdges(s, dir), "src", "dst", rounds = LpaRounds)
        .orderBy("node"),
    Some(lpaOracle))

  /** Per-node triangle participation on the same knn graph
    * ([[graft.operators.Triangles.perNode]], degree-oriented wedge
    * closure — each triangle found exactly once at its min-(deg,id)
    * vertex). The local-clustering numerator: high-triangle vectors sit
    * inside tight semantic clusters, triangle-free ones are bridges/noise.
    * The oracle counts a<b<c closures directly on the canonical
    * undirected edge set.
    */
  private val q127 = GraftQuery(
    "q127_knn_triangles",
    (s, dir) =>
      graft.operators.Triangles.perNode(knnEdges(s, dir), "src", "dst")
        .orderBy("node"),
    Some(s"""WITH $knnEdgesSql,
            und AS (
              SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM e0),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            m AS (
              SELECT x AS node FROM tri
              UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri)
            SELECT CAST(node AS BIGINT) AS node, count(*) AS n_triangles
            FROM m GROUP BY node ORDER BY node"""))

  /** Serial replay of [[graft.operators.Scc.run]]'s contract: pairwise
    * forward reachability as a recursive CTE, scc_id = min over the
    * mutual-reachability class (which is exactly the FW-BW pivot label —
    * the pivot is its partition's minimum and a member of the SCC).
    * `nodes` uses an explicit DISTINCT subquery, NOT `a UNION b`: inside
    * a WITH RECURSIVE block DuckDB parses a two-branch UNION CTE as a
    * recursive pattern and skips the global dedup (measured: 386 rows
    * from 25 distinct endpoints).
    */
  private val sccOracle = """WITH RECURSIVE edges0 AS MATERIALIZED (
         SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
                CAST(count(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         GROUP BY 1, 2),
       a AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) AS avgw FROM edges0),
       e AS MATERIALIZED (
         SELECT src, dst FROM edges0 CROSS JOIN a
         WHERE w >= 1.2 * avgw AND src <> dst),
       r(x, y) AS (SELECT src, dst FROM e
                   UNION
                   SELECT r.x, e.dst FROM r JOIN e ON e.src = r.y),
       nodes AS (SELECT DISTINCT node FROM
                   (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       mut AS (SELECT r1.x AS u, r1.y AS v
               FROM r r1 JOIN r r2 ON r1.x = r2.y AND r1.y = r2.x)
       SELECT CAST(n.node AS BIGINT) AS node,
              CAST(least(n.node, coalesce(mn.m, n.node)) AS BIGINT) AS scc_id
       FROM nodes n
       LEFT JOIN (SELECT u, min(v) AS m FROM mut GROUP BY u) mn ON mn.u = n.node
       ORDER BY node"""

  /** Strongly connected components of the ABOVE-AVERAGE trade graph
    * ([[graft.operators.Scc]], FW-BW): keep directed edges whose lineitem
    * count is ≥ 1.2× the mean edge weight (the asymmetric "major trade
    * routes" view — thresholding is what makes the digraph interesting;
    * the raw trade graph is one giant SCC), then label each nation with
    * the minimum nation key of its mutual-reachability class. The
    * directed complement of the q33/q77 undirected components.
    */
  private val q144 = GraftQuery(
    "q144_scc_trade",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val nat = Tables.nation(s, dir)
      val e = tradeEdges(s, dir)
        .join(broadcast(nat.select(col("n_name").as("src"), col("n_nationkey").as("sk"))), "src")
        .join(broadcast(nat.select(col("n_name").as("dst"), col("n_nationkey").as("dk"))), "dst")
        .select(col("sk").as("src"), col("dk").as("dst"), col("w"))
      val avg = e.agg((sum(col("w").cast(DecimalType(38, 6))).cast("double")
        / count(lit(1)).cast("double")).as("avgw"))
      val kept = e.crossJoin(broadcast(avg))
        .filter(col("w") >= lit(1.2) * col("avgw") && col("src") =!= col("dst"))
        .select("src", "dst")
      graft.operators.Scc.run(kept, "src", "dst").orderBy("node")
    },
    Some(sccOracle))

  /** Adamic–Adar link prediction on the undirected above-average trade
    * graph: for every non-adjacent pair (u, v), score
    * Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z) — common-neighbor evidence weighted
    * against hub promiscuity (Adamic & Adar 2003), the classic
    * "which link forms next" baseline. Uses q144's thresholded subgraph
    * (the raw trade graph is near-complete and has no missing links).
    *
    * Plan shape: wedges materialize by joining the neighbor list to
    * itself ON THE CENTER z — cost Σ deg(z)², the same budget the q127
    * triangle counter spends, never |V|² — then one hash aggregate per
    * candidate pair and an anti join against the existing edge set.
    * Per-wedge weights ride rounded DECIMAL sums (order-free); existing
    * edges leave via anti join, matching the oracle's NOT EXISTS (the
    * q141 nullable-key contract).
    */
  /** Undirected form of q144's above-average trade subgraph: keep
    * directed edges with w ≥ 1.2× the mean weight, collapse to
    * deduplicated (min, max) node pairs on nation keys. Shared by the
    * q148 link-prediction and q153 k-core queries.
    */
  private def aboveAvgUndirected(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import org.apache.spark.sql.types.DecimalType
    val nat = Tables.nation(s, dir)
    val e0 = tradeEdges(s, dir)
      .join(broadcast(nat.select(col("n_name").as("src"), col("n_nationkey").as("sk"))), "src")
      .join(broadcast(nat.select(col("n_name").as("dst"), col("n_nationkey").as("dk"))), "dst")
      .select(col("sk").cast("long").as("s"), col("dk").cast("long").as("d"), col("w"))
    val avg = e0.agg((sum(col("w").cast(DecimalType(38, 6))).cast("double")
      / count(lit(1)).cast("double")).as("avgw"))
    e0.crossJoin(broadcast(avg))
      .filter(col("w") >= lit(1.2) * col("avgw") && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("u"), greatest(col("s"), col("d")).as("v"))
      .distinct()
  }

  /** The SQL twin of [[aboveAvgUndirected]] (nation keys, deduplicated
    * min/max pairs).
    */
  private val undCte = """WITH edges0 AS MATERIALIZED (
         SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
                CAST(count(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         GROUP BY 1, 2),
       a AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,6))) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE) AS avgw FROM edges0),
       und AS MATERIALIZED (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM edges0 CROSS JOIN a
         WHERE w >= 1.2 * avgw AND src <> dst)"""

  private val q148 = GraftQuery(
    "q148_adamic_adar",
    (s, dir) =>
      graft.operators.LinkPrediction.adamicAdar(aboveAvgUndirected(s, dir))
        .select("u", "v", "common_neighbors", "aa_score")
        .orderBy(col("aa_score").desc, col("u"), col("v"))
        .limit(15),
    Some(s"""$undCte,
       nb AS (SELECT u AS z, v AS nbr FROM und
              UNION ALL SELECT v, u FROM und),
       deg AS (SELECT z, count(*) AS deg FROM nb GROUP BY 1),
       wedges AS (SELECT n1.z, n1.nbr AS a, n2.nbr AS b
                  FROM nb n1 JOIN nb n2 ON n1.z = n2.z WHERE n1.nbr < n2.nbr),
       scored AS (
         SELECT w.a AS u, w.b AS v, count(*) AS common_neighbors,
                round(CAST(sum(CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)), 15)
                  AS DECIMAL(38,15))) AS DOUBLE), 12) AS aa_score
         FROM wedges w JOIN deg d ON w.z = d.z GROUP BY 1, 2)
       SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
              common_neighbors, aa_score
       FROM scored
       WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = scored.u AND und.v = scored.v)
       ORDER BY aa_score DESC, u, v LIMIT 15"""))

  private val KCoreK = 3
  private val KCoreRounds = 8

  /** Serial replay of [[graft.operators.KCore.run]]: per unrolled round,
    * degrees off the surviving edge list, OUTER-joined to the live-node
    * set (a node stranded at degree 0 by earlier peels must still be
    * peeled — the star-center case), peel set = live nodes with
    * coalesce(deg, 0) < k. Monotone: rounds past the fixpoint are
    * no-ops, so unrolling to `KCoreRounds` ≥ the convergence depth
    * reproduces the operator's early-exit loop exactly.
    */
  private def kcoreOracle: String = {
    val sb = new StringBuilder(undCte)
    sb.append(""",
       live0 AS MATERIALIZED (SELECT DISTINCT node FROM
         (SELECT u AS node FROM und UNION ALL SELECT v FROM und)),
       e0 AS MATERIALIZED (SELECT u, v FROM und)""")
    for (i <- 1 to KCoreRounds) {
      val p = i - 1
      sb.append(s""",
       deg$i AS (SELECT node, count(*) AS deg FROM
         (SELECT u AS node FROM e$p UNION ALL SELECT v FROM e$p) GROUP BY 1),
       rem$i AS MATERIALIZED (
         SELECT l.node, $i AS peel_round
         FROM live$p l LEFT JOIN deg$i d ON l.node = d.node
         WHERE coalesce(d.deg, 0) < $KCoreK),
       live$i AS MATERIALIZED (
         SELECT node FROM live$p
         WHERE node NOT IN (SELECT node FROM rem$i)),
       e$i AS MATERIALIZED (
         SELECT u, v FROM e$p
         WHERE u NOT IN (SELECT node FROM rem$i)
           AND v NOT IN (SELECT node FROM rem$i))""")
    }
    val rems = (1 to KCoreRounds).map(i => s"SELECT node, peel_round FROM rem$i")
      .mkString("\n         UNION ALL ")
    sb.append(s"""
       SELECT CAST(node AS BIGINT) AS node, CAST(peel_round AS INT) AS peel_round
       FROM (SELECT node, 0 AS peel_round FROM live$KCoreRounds
             UNION ALL $rems)
       ORDER BY node""")
    sb.toString
  }

  /** k-core decomposition ([[graft.operators.KCore]], k = 3) of the
    * above-average trade subgraph: each nation labeled with the peel
    * round that removed it (0 = inside the 3-core) — the cohesion census
    * that separates the densely-interlocked trade bloc from its
    * periphery, complementing q136's LPA communities (which partition)
    * and q144's SCCs (which need direction).
    */
  private val q153 = GraftQuery(
    "q153_kcore_trade",
    (s, dir) =>
      graft.operators.KCore.run(
        aboveAvgUndirected(s, dir), k = KCoreK, maxRounds = KCoreRounds)
        .select(col("node"), col("peel_round").cast("int").as("peel_round"))
        .orderBy("node"),
    Some(kcoreOracle))

  private val PprIters = 5

  /** Serial replay of [[graft.operators.PageRank.runPersonalized]]: the
    * q108 recurrence with the teleport vector rv = 1/|S| on the region-0
    * seed nations (0 elsewhere) in place of 1/n — both the (1−d) restart
    * term and the dangling fold scale by rv.
    */
  private def pprOracle: String = {
    val sb = new StringBuilder
    sb.append(s"""WITH edges AS MATERIALIZED (
         SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         GROUP BY 1, 2),
       nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       sv AS MATERIALIZED (
         SELECT DISTINCT n_name AS node FROM nation WHERE n_regionkey = 0
         INTERSECT SELECT node FROM nodes),
       snn AS (SELECT CAST(count(*) AS DOUBLE) AS sn FROM sv),
       rv AS MATERIALIZED (
         SELECT n.node,
                CASE WHEN n.node IN (SELECT node FROM sv)
                     THEN 1.0 / snn.sn ELSE 0.0 END AS rv
         FROM nodes n CROSS JOIN snn),
       outw AS (SELECT src AS node,
                       CAST(sum(CAST(w AS DECIMAL(38,15))) AS DOUBLE) AS out_w
                FROM edges GROUP BY 1),
       norm AS MATERIALIZED (SELECT e.src AS node, e.dst, e.w / o.out_w AS frac
                FROM edges e JOIN outw o ON e.src = o.node WHERE o.out_w > 0),
       r0 AS MATERIALIZED (SELECT node, round(rv, 12) AS rank FROM rv)""")
    for (i <- 1 to PprIters) {
      val p = s"r${i - 1}"
      sb.append(s""",
       c$i AS (SELECT nm.dst AS node,
                      CAST(sum(CAST(round(r.rank * nm.frac, 15) AS DECIMAL(38,15)))
                        AS DOUBLE) AS contrib
               FROM $p r JOIN norm nm ON r.node = nm.node GROUP BY 1),
       d$i AS (SELECT CAST(coalesce(sum(CAST(r.rank AS DECIMAL(38,15))), 0)
                        AS DOUBLE) AS dm
               FROM $p r WHERE r.node NOT IN (SELECT node FROM norm)),
       r$i AS MATERIALIZED (SELECT v.node,
                      round((1 - CAST($PrDamping AS DOUBLE)) * v.rv
                          + CAST($PrDamping AS DOUBLE)
                            * (coalesce(c.contrib, 0.0) + d.dm * v.rv),
                        12) AS rank
               FROM rv v LEFT JOIN c$i c ON v.node = c.node
               CROSS JOIN d$i d)""")
    }
    sb.append(s"\n       SELECT node, rank FROM r$PprIters ORDER BY node")
    sb.toString
  }

  /** Personalized PageRank from the region-0 nations
    * ([[graft.operators.PageRank.runPersonalized]]): authority RELATIVE
    * to a seed bloc — random walk with restart, the related-items form.
    * Nations outside the seeds' trade orbit score ~0 instead of the
    * global-PageRank floor (q108's (1−d)/n), which is the point: the
    * teleport vector localizes the ranking.
    */
  private val q156 = GraftQuery(
    "q156_personalized_pagerank",
    (s, dir) =>
      graft.operators.PageRank.runPersonalized(
        tradeEdges(s, dir), "src", "dst",
        seeds = Tables.nation(s, dir).filter(col("n_regionkey") === 0).select("n_name"),
        weightCol = Some("w"), iterations = PprIters, damping = PrDamping)
        .orderBy("node"),
    Some(pprOracle))

  /** Harmonic centrality ([[graft.operators.Harmonic]], all-sources BFS,
    * 8-hop bound) on the above-average trade subgraph: which nations sit
    * closest to everyone in the major-route network — the distance-based
    * complement to q108's flow-based authority. The oracle replays the
    * bounded multi-source closure as a recursive CTE (triple dedup +
    * hop cap, the q126 scheme) and the identical 1/d fixed-point sum.
    */
  private val q157 = GraftQuery(
    "q157_harmonic_centrality",
    (s, dir) =>
      graft.operators.Harmonic.run(aboveAvgUndirected(s, dir), maxHops = 8)
        .orderBy("node"),
    // the recursive closure needs the RECURSIVE marker on the WITH block
    Some(s"""${undCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       nb AS MATERIALIZED (SELECT u AS s, v AS d FROM und
             UNION SELECT v, u FROM und),
       nodesu AS (SELECT DISTINCT s AS node FROM nb),
       r AS (
         SELECT node AS src, node AS node, 0 AS dist FROM nodesu
         UNION
         SELECT r.src, nb.d, r.dist + 1 FROM r JOIN nb ON nb.s = r.node
         WHERE r.dist < 8),
       m AS (SELECT src, node, min(dist) AS dist FROM r GROUP BY 1, 2)
       SELECT CAST(src AS BIGINT) AS node, count(*) AS n_reached,
              round(${graft.functions.Exact.sumFxSql("1.0 / CAST(dist AS DOUBLE)", 15)}, 12)
                AS harmonic
       FROM m WHERE dist > 0 GROUP BY src ORDER BY node"""))

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the word co-occurrence graph — words co-occurring within a ±2 token
    * window are edges weighted by co-occurrence count, run undirected
    * (each normalized pair emitted in both directions), top-15 words by
    * stationary rank. The graph-centrality complement to q115's TF-IDF
    * keywords: TextRank needs no document frequency table, only local
    * context. Composes two existing pieces — the q109-style narrow
    * array-transform pair extraction (no posexplode self-join) and the
    * q108 [[graft.operators.PageRank]] recurrence — and the oracle
    * reuses q108's unrolled round chain over the word-graph CTE.
    */
  private val q158 = GraftQuery(
    "q158_textrank_keywords",
    (s, dir) => {
      import graft.functions.TextFunctions.tokens
      val t = Tables.documents(s, dir).select(tokens(col("text")).as("t"))
      def gapPairs(g: Int) = t.select(explode(expr(
        s"transform(sequence(1, size(t) - $g), i -> struct(t[i-1] AS a, t[i+${g - 1}] AS b))"))
        .as("p"))
      val cnt = gapPairs(1).unionByName(gapPairs(2))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .filter(col("a") =!= col("b") && length(col("a")) > 0 && length(col("b")) > 0)
        .select(least(col("a"), col("b")).as("w1"), greatest(col("a"), col("b")).as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).cast("double").as("c"))
      val edges = cnt.select(col("w1").as("src"), col("w2").as("dst"), col("c").as("w"))
        .unionByName(cnt.select(col("w2").as("src"), col("w1").as("dst"), col("c").as("w")))
      graft.operators.PageRank.run(edges, "src", "dst", Some("w"),
        iterations = PrIters, damping = PrDamping)
        .orderBy(col("rank").desc, col("node"))
        .limit(15)
        .select(col("node").as("word"), col("rank"))
    },
    Some(pagerankOracleOver(
      """WITH norm AS (
           SELECT string_split(lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))), ' ') AS t
           FROM documents),
         co AS (
           SELECT p.a AS a, p.b AS b FROM (
             SELECT unnest([struct_pack(a := t[i], b := t[i+1])
                            for i in generate_series(1, len(t)-1)]) AS p
             FROM norm
             UNION ALL
             SELECT unnest([struct_pack(a := t[i], b := t[i+2])
                            for i in generate_series(1, len(t)-2)]) AS p
             FROM norm)
           WHERE p.a <> p.b AND len(p.a) > 0 AND len(p.b) > 0),
         cnt AS (
           SELECT least(a, b) AS w1, greatest(a, b) AS w2, count(*) AS c
           FROM co GROUP BY 1, 2)
         SELECT w1 AS src, w2 AS dst, CAST(c AS DOUBLE) AS w FROM cnt
         UNION ALL
         SELECT w2, w1, CAST(c AS DOUBLE) FROM cnt""",
      "SELECT node AS word, rank FROM rFINAL ORDER BY rank DESC, word LIMIT 15")))

  private val KTrussK = 4
  private val KTrussRounds = 8

  /** Serial replay of [[graft.operators.KTruss.run]]: per unrolled
    * round, edge support from the triangle wedge join (LEFT-joined so
    * triangle-free edges read support 0), peel set = edges with support
    * < k−2. Monotone ⇒ rounds past the fixpoint are no-ops (the q153
    * argument).
    */
  private def ktrussOracle: String = {
    val sb = new StringBuilder(undCte)
    sb.append(""",
       e0 AS MATERIALIZED (SELECT u, v FROM und)""")
    for (i <- 1 to KTrussRounds) {
      val p = i - 1
      sb.append(s""",
       nb$i AS (SELECT u AS node, v AS nbr FROM e$p
                UNION ALL SELECT v, u FROM e$p),
       sup$i AS (
         SELECT e.u, e.v, count(*) AS support
         FROM e$p e
         JOIN nb$i a ON a.node = e.u
         JOIN nb$i b ON b.node = e.v AND b.nbr = a.nbr
         GROUP BY 1, 2),
       rem$i AS MATERIALIZED (
         SELECT e.u, e.v, $i AS peel_round
         FROM e$p e LEFT JOIN sup$i s ON e.u = s.u AND e.v = s.v
         WHERE coalesce(s.support, 0) < ${KTrussK - 2}),
       e$i AS MATERIALIZED (
         SELECT e.u, e.v FROM e$p e
         WHERE NOT EXISTS (SELECT 1 FROM rem$i r WHERE r.u = e.u AND r.v = e.v))""")
    }
    val rems = (1 to KTrussRounds).map(i => s"SELECT u, v, peel_round FROM rem$i")
      .mkString("\n         UNION ALL ")
    sb.append(s"""
       SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
              CAST(peel_round AS INT) AS peel_round
       FROM (SELECT u, v, 0 AS peel_round FROM e$KTrussRounds
             UNION ALL $rems)
       ORDER BY u, v""")
    sb.toString
  }

  /** k-truss decomposition ([[graft.operators.KTruss]], k = 4) of the
    * above-average trade subgraph: every edge labeled with the peel
    * round that removed it (0 = inside the 4-truss). The EDGE-density
    * complement to q153's k-core — a node can sit in a dense core while
    * its individual links carry no triangles; the truss keeps only
    * triangle-reinforced relationships, the standard community-backbone
    * filter.
    */
  private val q165 = GraftQuery(
    "q165_ktruss_trade",
    (s, dir) =>
      graft.operators.KTruss.run(
        aboveAvgUndirected(s, dir), k = KTrussK, maxRounds = KTrussRounds)
        .select(col("u"), col("v"), col("peel_round").cast("int").as("peel_round"))
        .orderBy("u", "v"),
    Some(ktrussOracle))

  /** Reciprocal nearest neighbors over the landed knn graph: pairs where
    * each vector ranks in the OTHER's top-5 — the mutual-consistency
    * filter (Qin et al.'s k-reciprocal reranking; also the classic
    * record-matching primitive) that kills the asymmetric hub matches a
    * one-directional knn keeps: a hub appears in everyone's list while
    * its own list holds only its true peers. One self-join of the
    * directed knn edges on the reversed pair — O(k·n) edges in, never
    * touching the corpus. The oracle rebuilds the knn ranks from raw
    * embeddings (the quartet's non-self-certified contract) and
    * re-derives the mutual pairs.
    */
  private def q168 = GraftQuery(
    "q168_reciprocal_nn_pairs",
    (s, dir) => {
      val k = knnTopK(s, dir)
        .select(col("q_id"), col("n_id"), col("rank"), round(col("cos"), 12).as("cos"))
      k.filter(col("q_id") < col("n_id"))
        .join(k.select(col("n_id").as("q_id"), col("q_id").as("n_id"),
          col("rank").as("rank_back")), Seq("q_id", "n_id"))
        .select(col("q_id").as("a"), col("n_id").as("b"),
          col("rank").cast("int").as("rank_ab"),
          col("rank_back").cast("int").as("rank_ba"), col("cos"))
        .orderBy("a", "b")
    },
    Some(s"""WITH p AS (
         SELECT a.vec_id AS qa, b.vec_id AS qb,
                ${SimilarityQueries.cosSql("a.embedding", "b.embedding")} AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
       rr AS (SELECT qa, qb, cos, row_number() OVER (PARTITION BY qa
                     ORDER BY cos DESC, qb) AS rk FROM p),
       k AS (SELECT qa, qb, rk, cos FROM rr WHERE rk <= 5)
       SELECT f.qa AS a, f.qb AS b,
              CAST(f.rk AS INT) AS rank_ab, CAST(bk.rk AS INT) AS rank_ba,
              round(f.cos, 12) AS cos
       FROM k f JOIN k bk ON f.qa = bk.qb AND f.qb = bk.qa
       WHERE f.qa < f.qb
       ORDER BY a, b"""))

  /** Local clustering coefficient over the embedding knn graph
    * ([[graft.operators.Triangles.clusteringCoefficient]]): q127 counts
    * triangle participation for nodes IN triangles; this normalizes it
    * into the density measure — EVERY node (zero-filled), its degree,
    * and 2T/(deg·(deg−1)) — next to q153/q165's cohesion peels
    * (k-core/k-truss bound WHERE dense subgraphs are; the coefficient
    * says HOW dense each node's neighborhood is). Triangle enumeration
    * is q127's degree-oriented one-pass; the oracle independently
    * rebuilds the edge set (the q126 contract — the landed graph is
    * never self-certified) and closes wedges by naive id order, the
    * same triangle SET by symmetry. The coefficient is one integer
    * ratio — bit-identical on both engines.
    */
  private val q188 = GraftQuery(
    "q188_clustering_coefficient",
    (s, dir) =>
      graft.operators.Triangles
        .clusteringCoefficient(knnEdges(s, dir), "src", "dst")
        .orderBy("node"),
    Some(s"""WITH $knnEdgesSql,
            und AS (
              SELECT least(s, d) AS a, greatest(s, d) AS b
              FROM e0 WHERE s <> d GROUP BY 1, 2),
            deg AS (
              SELECT n, count(*) AS deg FROM (
                SELECT a AS n FROM und UNION ALL SELECT b FROM und)
              GROUP BY n),
            tri AS (
              SELECT e1.a AS c0, e1.b AS c1, e2.b AS c2
              FROM und e1
              JOIN und e2 ON e2.a = e1.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            corners AS (
              SELECT c0 AS n FROM tri
              UNION ALL SELECT c1 FROM tri
              UNION ALL SELECT c2 FROM tri),
            pn AS (SELECT n, count(*) AS triangles FROM corners GROUP BY n)
            SELECT CAST(deg.n AS BIGINT) AS node,
                   CAST(deg.deg AS BIGINT) AS degree,
                   CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN deg.deg >= 2
                        THEN round(2.0 * CAST(coalesce(pn.triangles, 0) AS DOUBLE)
                          / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 9)
                        ELSE 0.0 END AS coefficient
            FROM deg LEFT JOIN pn USING (n)
            ORDER BY node"""))

  private val BtwLevels = 8
  // 32 of ~2000 sf0.01 nodes: the GraphExtrasSpec convergence measurement
  // (4/20 top-bridge recovery at 8 sources -> 11/20 at 64 on the 500-node
  // graph) says 8 under-samples; 32 balances estimator quality against the
  // oracle's per-source unrolled CTE cost
  private val BtwSources = 32

  /** Serial replay of [[graft.operators.Betweenness.run]]: multi-source
    * BFS distances (recursive CTE + min), path counts σ unrolled one level
    * per CTE (exact BIGINT sums over distance-(k−1) predecessors), then
    * dependency accumulation unrolled deepest→1 — each (u,w) contribution
    * σ_u/σ_w·(1+δ_w) computed in DOUBLE, rounded at 15 dp, summed as
    * DECIMAL(38,15) (the q102 grid), exactly the operator's arithmetic.
    */
  private def betweennessOracle: String = {
    val sb = new StringBuilder(s"WITH RECURSIVE $knnEdgesSql")
    sb.append(s""",
       e AS MATERIALIZED (
         SELECT DISTINCT s, d FROM (
           SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0)
         WHERE s <> d),
       srcs AS (SELECT vec_id AS src FROM embeddings ORDER BY vec_id LIMIT $BtwSources),
       bfs AS (
         SELECT src, src AS node, 0 AS hop FROM srcs
         UNION
         SELECT bfs.src, e.d, bfs.hop + 1 FROM bfs JOIN e ON e.s = bfs.node
         WHERE bfs.hop < $BtwLevels),
       dist AS MATERIALIZED (SELECT src, node, min(hop) AS dist FROM bfs GROUP BY 1, 2),
       sg0 AS MATERIALIZED (SELECT src, src AS node, CAST(1 AS BIGINT) AS sigma FROM srcs)""")
    for (i <- 1 to BtwLevels) {
      sb.append(s""",
       sg$i AS MATERIALIZED (
         SELECT di.src, di.node, CAST(sum(p.sigma) AS BIGINT) AS sigma
         FROM dist di
         JOIN e ON e.d = di.node
         JOIN dist dp ON dp.src = di.src AND dp.node = e.s AND dp.dist = ${i - 1}
         JOIN sg${i - 1} p ON p.src = di.src AND p.node = e.s
         WHERE di.dist = $i GROUP BY 1, 2)""")
    }
    sb.append(s""",
       dl$BtwLevels AS (SELECT src, node, CAST(NULL AS DECIMAL(38,15)) AS delta
                        FROM dist WHERE 1 = 0)""")
    for (j <- (BtwLevels - 1) to 1 by -1) {
      sb.append(s""",
       dl$j AS MATERIALIZED (
         SELECT du.src, du.node,
                CAST(sum(CAST(round(
                    CAST(su.sigma AS DOUBLE) / CAST(sw.sigma AS DOUBLE)
                    * (1 + CAST(COALESCE(dn.delta, 0) AS DOUBLE)), 15)
                  AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS delta
         FROM dist du
         JOIN e ON e.s = du.node
         JOIN dist dw ON dw.src = du.src AND dw.node = e.d AND dw.dist = ${j + 1}
         JOIN sg$j su ON su.src = du.src AND su.node = du.node
         JOIN sg${j + 1} sw ON sw.src = du.src AND sw.node = e.d
         LEFT JOIN dl${j + 1} dn ON dn.src = du.src AND dn.node = e.d
         WHERE du.dist = $j GROUP BY 1, 2)""")
    }
    val unions = (1 to (BtwLevels - 1))
      .map(j => s"SELECT src, node, delta FROM dl$j")
      .mkString(" UNION ALL ")
    sb.append(s""",
       alld AS (
         $unions),
       dep AS (SELECT node, CAST(sum(delta) AS DECIMAL(38,15)) AS dep
               FROM alld GROUP BY 1)
       SELECT CAST(v.vec_id AS BIGINT) AS node,
              round(CAST(COALESCE(dep.dep, 0) AS DOUBLE) * 0.5, 9) AS bc
       FROM embeddings v LEFT JOIN dep ON dep.node = v.vec_id
       ORDER BY node""")
    sb.toString
  }

  /** Sampled Brandes betweenness over the similarity graph
    * ([[graft.operators.Betweenness]], $BtwSources lowest vec_ids as the
    * source sample, 8-level horizon): which vectors sit on the most
    * shortest paths — the bridge/bottleneck probe completing the
    * centrality family (harmonic = closeness q157, PageRank q156,
    * HITS q112). Conventional undirected halving at display time; nodes
    * off every sampled shortest-path tree score 0.
    */
  private val q204 = GraftQuery(
    "q204_betweenness_sampled",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val srcs = emb.select("vec_id").orderBy("vec_id")
        .limit(BtwSources).collect().map(_.getLong(0)).toSeq
      val dep = graft.operators.Betweenness.run(
        knnEdges(s, dir), "src", "dst", srcs, maxLevels = BtwLevels)
      emb.select(col("vec_id").as("node"))
        .join(dep, Seq("node"), "left")
        .select(col("node"),
          round(coalesce(col("dep"), lit(java.math.BigDecimal.ZERO)
            .cast(org.apache.spark.sql.types.DecimalType(38, 15)))
            .cast("double") * 0.5, 9).as("bc"))
        .orderBy("node")
    },
    Some(betweennessOracle))

  private val WalkSeed = 11L
  private val WalkSteps = 4
  private val WalkStarts = 50L

  /** Deterministic "random" walks over the knn similarity graph — the
    * node2vec/DeepWalk corpus generator (walk sequences feed skip-gram
    * embedding training): one walk per start node, `WalkSteps` hops, the
    * next hop from node u at step t being the out-neighbor v minimizing
    * the seeded multiplicative scramble of (u, v, t)
    * ([[graft.operators.Sharding.scramble]] — exact integer arithmetic
    * with a SQL twin, so the oracle replays every choice bit-for-bit; no
    * RNG state to ship, walks are reproducible on any partitioning).
    *
    * Scale shape: each step is one frontier ⋈ edges join (shuffle on the
    * out-edge key) plus a per-walk argmin aggregate whose map-side
    * partials carry ONE row per walk — state is O(walks), never
    * O(walks × degree); steps chain through lineage cuts like the BFS
    * family. The oracle unrolls the same argmin per step over the exact
    * top-5 edge set.
    */
  private val q221 = GraftQuery(
    "q221_random_walks",
    (s, dir) => {
      val edges = knnEdges(s, dir)
      var frontier = Tables.embeddings(s, dir)
        .filter(col("vec_id") < WalkStarts)
        .select(col("vec_id").as("walk_id"), col("vec_id").as("node"))
      val steps = scala.collection.mutable.ArrayBuffer(
        frontier.withColumn("step", lit(0)))
      for (t <- 1 to WalkSteps) {
        val h = graft.operators.Sharding.scramble(
          col("node") * lit(100003L) + col("dst") * lit(31L) + lit(t.toLong),
          WalkSeed)
        frontier = graft.operators.Components.cut(
          frontier.join(edges, col("node") === col("src"))
            .select(col("walk_id"), col("dst"), h.as("h"))
            .groupBy("walk_id")
            .agg(min(struct(col("h"), col("dst"))).as("m"))
            .select(col("walk_id"), col("m.dst").as("node")))
        steps += frontier.withColumn("step", lit(t))
      }
      steps.reduce(_ unionByName _)
        .select(col("walk_id"), col("step"), col("node"))
        .orderBy("walk_id", "step")
    },
    Some {
      val stepCtes = (1 to WalkSteps).map { t =>
        val h = graft.operators.Sharding.scrambleSql(
          s"(w.node * 100003 + e0.d * 31 + $t)", WalkSeed)
        s"""s$t AS (
             SELECT walk_id, node FROM (
               SELECT w.walk_id, e0.d AS node,
                      row_number() OVER (PARTITION BY w.walk_id
                        ORDER BY $h, e0.d) AS rn
               FROM s${t - 1} w JOIN e0 ON e0.s = w.node)
             WHERE rn = 1)"""
      }.mkString(",\n            ")
      val unions = (1 to WalkSteps)
        .map(t => s"SELECT walk_id, $t AS step, node FROM s$t")
        .mkString("\n            UNION ALL ")
      s"""WITH $knnEdgesSql,
            s0 AS (SELECT vec_id AS walk_id, vec_id AS node
                   FROM embeddings WHERE vec_id < $WalkStarts),
            $stepCtes
          SELECT walk_id, CAST(step AS INT) AS step, node FROM (
            SELECT walk_id, 0 AS step, node FROM s0
            UNION ALL $unions)
          ORDER BY walk_id, step"""
    })

  /** Canonical undirected edge set of the knn graph — distinct
    * (min, max) endpoint pairs of the directed top-5 edges.
    */
  private def knnUndirected(s: org.apache.spark.sql.SparkSession, dir: String) =
    knnEdges(s, dir)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  private val UndSql =
    """und AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
               FROM e0 WHERE s <> d),
       deg AS (SELECT node, count(*) AS dg FROM (
                 SELECT a AS node FROM und UNION ALL SELECT b FROM und)
               GROUP BY 1)"""

  /** Newman modularity of the LPA communities (q136) on the knn graph:
    * Q = Σ_c (e_c/m − (d_c/2m)²) over the canonical undirected edge set.
    * One edge join against the (node → label) map and two hash
    * aggregates — community count is what shuffles, never the corpus.
    * Determinism: each community's term is computed in double (identical
    * expression structure both engines — the squared factor is written as
    * an explicit product, not pow), rounded HALF_UP at 15 dp onto the
    * DECIMAL(38,15) grid, and Q is the exact, order-free decimal sum of
    * the terms (the q102/q204 contract).
    */
  private def q227 = GraftQuery(
    "q227_modularity_communities",
    (s, dir) => {
      val comm = graft.operators.Lpa
        .run(knnEdges(s, dir), "src", "dst", rounds = LpaRounds)
        .select(col("node"), col("label"))
      val und = knnUndirected(s, dir)
      val mm = und.agg(count(lit(1)).cast("double").as("m"))
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val ein = und
        .join(comm.select(col("node").as("a"), col("label").as("la")), "a")
        .join(comm.select(col("node").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("community"))
        .agg(count(lit(1)).as("internal_edges"))
      val grp = comm.join(deg, "node")
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
      val halfTerm = col("degree_sum").cast("double") / (lit(2.0) * col("m"))
      val t = grp
        .join(ein, Seq("community"), "left")
        .na.fill(0L, Seq("internal_edges"))
        .crossJoin(broadcast(mm))
        .withColumn("term",
          round(col("internal_edges").cast("double") / col("m")
            - halfTerm * halfTerm, 15).cast(DecimalType(38, 15)))
      val q = t.agg(sum(col("term")).cast("double").as("qsum"))
      t.crossJoin(broadcast(q))
        .select(col("community"), col("n_nodes"), col("internal_edges"),
          col("degree_sum"),
          round(col("term").cast("double"), 12).as("term"),
          round(col("qsum"), 12).as("modularity"))
        .orderBy("community")
    },
    Some(s"""$lpaBodySql,
       $UndSql,
       mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM und),
       com AS (SELECT node, label FROM lp$LpaRounds),
       ein AS (SELECT ca.label AS community, count(*) AS internal_edges
               FROM und
               JOIN com ca ON ca.node = und.a
               JOIN com cb ON cb.node = und.b
               WHERE ca.label = cb.label GROUP BY 1),
       grp AS (SELECT com.label AS community, count(*) AS n_nodes,
                      CAST(sum(dg) AS BIGINT) AS degree_sum
               FROM com JOIN deg ON deg.node = com.node GROUP BY 1),
       t AS (SELECT g.community, g.n_nodes,
                    coalesce(e.internal_edges, 0) AS internal_edges,
                    g.degree_sum,
                    CAST(round(CAST(coalesce(e.internal_edges, 0) AS DOUBLE) / m
                      - (CAST(g.degree_sum AS DOUBLE) / (2.0 * m))
                        * (CAST(g.degree_sum AS DOUBLE) / (2.0 * m)), 15)
                      AS DECIMAL(38,15)) AS term
             FROM grp g LEFT JOIN ein e ON e.community = g.community
             CROSS JOIN mm),
       qq AS (SELECT CAST(sum(term) AS DOUBLE) AS qsum FROM t)
       SELECT community, n_nodes, internal_edges, degree_sum,
              round(CAST(term AS DOUBLE), 12) AS term,
              round(qsum, 12) AS modularity
       FROM t CROSS JOIN qq ORDER BY community"""))

  /** Degree assortativity (Newman 2002) of the knn graph: Pearson
    * correlation of endpoint degrees over the directed-both-ways edge
    * list. All moments (Σjk, Σj, Σj²) are exact BIGINT sums — one edge
    * scan, one aggregate row — and only the final closed form runs in
    * double, so both engines agree bit-for-bit. A positive r says
    * well-connected vectors link to each other (hub-dense semantic
    * cores); negative says hubs link to leaves.
    */
  private def q228 = GraftQuery(
    "q228_degree_assortativity",
    (s, dir) => {
      val und = knnUndirected(s, dir)
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dg"))
      val ed = und.select(col("a").as("s"), col("b").as("d"))
        .unionAll(und.select(col("b").as("s"), col("a").as("d")))
      val jk = ed
        .join(deg.select(col("node").as("s"), col("dg").as("j")), "s")
        .join(deg.select(col("node").as("d"), col("dg").as("k")), "d")
      val agg = jk.agg(
        count(lit(1)).as("n_directed"),
        sum(col("j") * col("k")).as("sum_jk"),
        sum(col("j")).as("sum_j"),
        sum(col("j") * col("j")).as("sum_j2"))
      val nD = col("n_directed").cast("double")
      val mean = col("sum_j").cast("double") / nD
      agg.select(col("n_directed"), col("sum_jk"), col("sum_j"), col("sum_j2"),
        round((col("sum_jk").cast("double") / nD - mean * mean)
          / (col("sum_j2").cast("double") / nD - mean * mean), 12)
          .as("assortativity"))
    },
    Some(s"""WITH $knnEdgesSql,
       $UndSql,
       ed AS (SELECT a AS s, b AS d FROM und
              UNION ALL SELECT b AS s, a AS d FROM und),
       jk AS (SELECT js.dg AS j, kd.dg AS k
              FROM ed JOIN deg js ON js.node = ed.s
                      JOIN deg kd ON kd.node = ed.d),
       agg AS (SELECT count(*) AS n_directed,
                      CAST(sum(j * k) AS BIGINT) AS sum_jk,
                      CAST(sum(j) AS BIGINT) AS sum_j,
                      CAST(sum(j * j) AS BIGINT) AS sum_j2
               FROM jk)
       SELECT n_directed, sum_jk, sum_j, sum_j2,
              round((CAST(sum_jk AS DOUBLE) / CAST(n_directed AS DOUBLE)
                      - (CAST(sum_j AS DOUBLE) / CAST(n_directed AS DOUBLE))
                        * (CAST(sum_j AS DOUBLE) / CAST(n_directed AS DOUBLE)))
                    / (CAST(sum_j2 AS DOUBLE) / CAST(n_directed AS DOUBLE)
                      - (CAST(sum_j AS DOUBLE) / CAST(n_directed AS DOUBLE))
                        * (CAST(sum_j AS DOUBLE) / CAST(n_directed AS DOUBLE))), 12)
                AS assortativity
       FROM agg"""))

  /** Bipartite co-purchase projection: the order–part bipartite graph
    * collapsed to a weighted part–part graph (edge weight = number of
    * orders containing both parts), top-20 heaviest pairs — the
    * market-basket/item-item-similarity primitive.
    *
    * Scale contract: the pair space is generated per BASKET (a self-join
    * of the distinct (order, part) list on the order key — both sides
    * shuffle once on the same key, so the join is co-partitioned), which
    * makes the work Σ|basket|², never |parts|². A hub-basket cap
    * (maxBasket = 50) bounds the quadratic term the same way q143 caps
    * document frequency — the cap census is one extra aggregate on the
    * already-shuffled key. The final top-20 compiles to
    * TakeOrderedAndProject (per-partition bounded heaps), not a global
    * sort.
    */
  private val CoPurchaseMaxBasket = 50

  /** Shared co-purchase counts over capped baskets — the Σ|basket|² pair
    * aggregate q244 ranks and q250 cosine-normalizes. Round 12: landed as
    * an [[Artifacts]] entry (the text-pairs / trade-edges precedent): the
    * two consumers each re-ran the DISTINCT + basket-cap + self-join +
    * pair aggregate per session (measured 3.8 + 5.0 s at sf0.1, the pair
    * aggregate dominating both). The build is exact integer counting —
    * deterministic given the input parquet — so the cached copy is
    * indistinguishable from a rebuild. Artifact layout: `co/`
    * (pa, pb, co) and `nord/` (pk, n_ord) parquet subdirs under one
    * content-keyed dir; explicit read schemas keep a degenerate corpus
    * (no qualifying pairs) readable.
    */
  private def coPurchaseShared(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    val path = Artifacts.cached("copurchase", s"cap$CoPurchaseMaxBasket-v1",
        Seq(s"$dir/lineitem.parquet")) { p =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      // no cut: AQE reuses the exchange for both sides of the self-join
      // (measured — a localCheckpoint here costs more than it saves)
      val sized = li
        .join(li.groupBy("ok").agg(count(lit(1)).as("basket")), Seq("ok"))
        .filter(col("basket") <= CoPurchaseMaxBasket)
        .select("ok", "pk")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        sized.groupBy("pk").agg(count(lit(1)).as("n_ord"))
          .write.mode("overwrite").parquet(s"$p/nord")
        val a = sized.select(col("ok"), col("pk").as("pa"))
        val b = sized.select(col("ok"), col("pk").as("pb"))
        a.join(b, Seq("ok"))
          .filter(col("pa") < col("pb"))
          .groupBy("pa", "pb")
          .agg(count(lit(1)).as("co"))
          .write.mode("overwrite").parquet(s"$p/co")
      } finally sized.unpersist()
      java.nio.file.Files.createFile(java.nio.file.Paths.get(p, "_SUCCESS"))
    }
    (s.read.schema("pa LONG, pb LONG, co LONG").parquet(s"$path/co"),
      s.read.schema("pk LONG, n_ord LONG").parquet(s"$path/nord"))
  }

  private val q244 = GraftQuery(
    "q244_copurchase_pairs",
    (s, dir) => {
      val (co, _) = coPurchaseShared(s, dir)
      co.select(col("pa").as("part_a"), col("pb").as("part_b"),
          col("co").as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    },
    Some(s"""WITH op AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            sized AS (
              SELECT op.ok, op.pk
              FROM op JOIN (SELECT ok, count(*) AS basket FROM op GROUP BY 1) s
                USING (ok)
              WHERE s.basket <= $CoPurchaseMaxBasket)
            SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_orders
            FROM sized a JOIN sized b
              ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2
            ORDER BY n_orders DESC, part_a, part_b
            LIMIT 20"""))

  /** 1-dimensional Weisfeiler–Lehman color refinement (2 rounds) over the
    * symmetrized embedding knn graph — the canonical structural-role
    * fingerprint (two nodes share a final color iff their 2-hop
    * neighborhood trees agree), used for graph isomorphism screening and
    * as the feature map of WL graph kernels (Shervashidze et al., JMLR
    * 2011). Output is the color-class census: how much structural
    * diversity survives each refinement.
    *
    * Determinism/portability: colors are md5 hex strings; each round
    * hashes `own_color || '|' || sorted neighbor colors` — the sorted
    * multiset concat is the canonical WL label, and md5 renders
    * identically in Spark and DuckDB (the repo-wide portable-hash
    * contract). Per-node state is one string; the sort is bounded by the
    * symmetrized knn degree (≤ 2k), never corpus-sized. On a
    * hub-unbounded graph the sorted concat would cap or switch to a
    * commutative hash-sum; the knn graph's degree bound makes the exact
    * multiset affordable. Rounds are Spark joins against the previous
    * color map (co-partitioned on the node key); the oracle replays them
    * as chained CTEs over the identical edge derivation.
    */
  private val WlRounds = 2
  private val q242 = GraftQuery(
    "q242_wl_refinement",
    (s, dir) => {
      val e = knnEdges(s, dir)
      val und = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      var colors = und.groupBy("src")
        .agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"),
          md5(concat(lit("d:"), col("deg").cast("string"))).as("color"))
      for (_ <- 1 to WlRounds) {
        val nbr = und
          .join(colors.select(col("node").as("nb"), col("color").as("nc")),
            col("dst") === col("nb"))
          .select(col("src"), col("nc"))
        val agg = nbr.groupBy("src")
          .agg(concat_ws(",", sort_array(collect_list(col("nc")))).as("ns"))
        colors = colors.join(agg, colors("node") === agg("src"))
          .select(col("node"), md5(concat(col("color"), lit("|"), col("ns"))).as("color"))
      }
      colors.groupBy("color").agg(count(lit(1)).as("n_nodes"))
        .orderBy("color")
    },
    Some {
      val rounds = (1 to WlRounds).map { r =>
        val prev = s"c${r - 1}"
        s"""n$r AS (
              SELECT u.s AS node, string_agg(c.color, ',' ORDER BY c.color) AS ns
              FROM und u JOIN $prev c ON u.d = c.node GROUP BY 1),
            c$r AS (
              SELECT p.node, md5(p.color || '|' || n.ns) AS color
              FROM $prev p JOIN n$r n USING (node))"""
      }.mkString(",\n            ")
      s"""WITH ${knnEdgesSql},
            und AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
            c0 AS (
              SELECT s AS node, md5('d:' || CAST(count(*) AS VARCHAR)) AS color
              FROM und GROUP BY 1),
            $rounds
          SELECT color, count(*) AS n_nodes
          FROM c$WlRounds GROUP BY 1 ORDER BY color"""
    })

  /** Seeded (semi-supervised) label propagation over the knn graph — the
    * weak-supervision primitive: 20% of nodes keep their true label
    * (vec_id % 5 = 0, the clamped seeds), the rest take the majority
    * label among their labeled neighbors for 3 synchronous rounds
    * (ties → smallest label; no labeled neighbor → still unlabeled).
    * Unlike q136's unsupervised LPA communities, the seeds anchor real
    * classes, so the output is an ACCURACY audit against the held-out
    * true labels — the measurement that decides whether propagated
    * labels are good enough to train on (Zhu & Ghahramani 2002).
    *
    * Scale: each round is one co-partitioned edge⋈label join plus a
    * per-node majority (window over ≤degree label-count rows — knn
    * degree-bounded). Non-seed labels are RECOMPUTED from scratch each
    * round (no oscillating accumulation), seeds never move. The oracle
    * replays all 3 rounds as chained CTEs with the identical
    * (count DESC, label ASC) tie-break.
    */
  private val LpRounds = 3
  private val q245 = GraftQuery(
    "q245_seeded_label_prop",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = knnEdges(s, dir)
      val und = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("node"), col("label"))
      val seeds = emb.filter(col("node") % 5 === 0)
        .select(col("node"), col("label").as("slabel"))
      var lab = seeds.select(col("node"), col("slabel").as("clabel"))
      for (_ <- 1 to LpRounds) {
        val nbr = und
          .join(lab.select(col("node").as("nb"), col("clabel").as("nl")),
            col("dst") === col("nb"))
          .select(col("src"), col("nl"))
        val cnt = nbr.groupBy("src", "nl").agg(count(lit(1)).as("c"))
        val w = Window.partitionBy("src").orderBy(col("c").desc, col("nl").asc)
        val prop = cnt.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("node"), col("nl").as("plabel"))
        lab = emb.select(col("node"))
          .join(seeds, Seq("node"), "left")
          .join(prop, Seq("node"), "left")
          .select(col("node"), coalesce(col("slabel"), col("plabel")).as("clabel"))
          .filter(col("clabel").isNotNull)
      }
      val eval = emb.filter(col("node") % 5 =!= 0)
        .join(lab, Seq("node"), "left")
      eval.groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_eval"),
          sum(when(col("clabel").isNotNull, 1L).otherwise(0L)).as("n_predicted"),
          sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .select(col("label"), col("n_eval"), col("n_predicted"), col("n_correct"),
          when(col("n_predicted") > 0,
            round(col("n_correct").cast("double") / col("n_predicted").cast("double"), 12))
            .as("accuracy"))
        .orderBy("label")
    },
    Some {
      val rounds = (1 to LpRounds).map { r =>
        val prev = s"l${r - 1}"
        s"""cnt$r AS (
              SELECT u.s AS node, c.clabel AS nl, count(*) AS c
              FROM und u JOIN $prev c ON u.d = c.node GROUP BY 1, 2),
            prop$r AS (
              SELECT node, nl AS plabel FROM (
                SELECT node, nl, row_number() OVER (PARTITION BY node
                  ORDER BY c DESC, nl ASC) AS rn
                FROM cnt$r) WHERE rn = 1),
            l$r AS (
              SELECT n.node, coalesce(s.slabel, p.plabel) AS clabel
              FROM nodes n
              LEFT JOIN seeds s ON n.node = s.node
              LEFT JOIN prop$r p ON n.node = p.node
              WHERE coalesce(s.slabel, p.plabel) IS NOT NULL)"""
      }.mkString(",\n            ")
      s"""WITH ${knnEdgesSql},
            und AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
            nodes AS (SELECT vec_id AS node FROM embeddings),
            seeds AS (SELECT vec_id AS node, label AS slabel
                      FROM embeddings WHERE vec_id % 5 = 0),
            l0 AS (SELECT node, slabel AS clabel FROM seeds),
            $rounds
          SELECT e.label, count(*) AS n_eval,
                 CAST(sum(CASE WHEN f.clabel IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_predicted,
                 CAST(sum(CASE WHEN f.clabel = e.label THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_correct,
                 CASE WHEN sum(CASE WHEN f.clabel IS NOT NULL THEN 1 ELSE 0 END) > 0
                   THEN round(CAST(sum(CASE WHEN f.clabel = e.label THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CASE WHEN f.clabel IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE), 12)
                 END AS accuracy
          FROM embeddings e
          LEFT JOIN l$LpRounds f ON e.vec_id = f.node
          WHERE e.vec_id % 5 <> 0
          GROUP BY e.label
          ORDER BY e.label"""
    })

  /** Borůvka minimum-spanning-forest rounds over the weighted knn graph
    * ([[graft.operators.Boruvka]]) — the parallel-MST primitive behind
    * single-linkage clustering. Output is the per-round census (edges
    * selected, round weight, components remaining); the oracle replays
    * every round's min-edge selection and fixed-depth contraction as
    * chained CTEs — possible precisely because the operator fixes both
    * budgets instead of looping to convergence.
    */
  private val BvkRounds = 5
  private val BvkJumps = 4
  private val q248 = GraftQuery(
    "q248_boruvka_forest",
    (s, dir) => {
      val ew = knnEdgesW(s, dir)
      val canon = ew.select(
          least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"),
          col("w"))
        .groupBy("a", "b").agg(min(col("w")).as("w"))
      graft.operators.Boruvka.forestCensus(canon, BvkRounds, BvkJumps)
    },
    Some {
      val sb = new StringBuilder(s"WITH $knnEdgesWSql")
      sb.append(""",
       ec AS MATERIALIZED (
         SELECT least(s, d) AS a, greatest(s, d) AS b, min(w) AS w
         FROM e0w GROUP BY 1, 2),
       bnodes AS (SELECT a AS node FROM ec UNION SELECT b FROM ec),
       comp0 AS MATERIALIZED (SELECT node, node AS comp FROM bnodes)""")
      for (r <- 1 to BvkRounds) {
        val p = s"comp${r - 1}"
        sb.append(s""",
       cross$r AS (
         SELECT e.w, e.a, e.b, pa.comp AS eca, pb.comp AS ecb
         FROM ec e
         JOIN $p pa ON e.a = pa.node
         JOIN $p pb ON e.b = pb.node
         WHERE pa.comp <> pb.comp),
       cand$r AS (
         SELECT eca AS c, w, a, b, eca, ecb FROM cross$r
         UNION ALL
         SELECT ecb AS c, w, a, b, eca, ecb FROM cross$r),
       sel$r AS MATERIALIZED (
         SELECT DISTINCT w, a, b, eca, ecb FROM (
           SELECT *, row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rn
           FROM cand$r) WHERE rn = 1),
       cg$r AS (SELECT eca AS x, ecb AS y FROM sel$r
                UNION SELECT ecb, eca FROM sel$r),
       l${r}_0 AS (SELECT DISTINCT comp AS c, comp AS lab FROM $p)""")
        for (j <- 1 to BvkJumps) {
          sb.append(s""",
       l${r}_$j AS (
         SELECT l.c, least(l.lab, coalesce(m.mn, l.lab)) AS lab
         FROM l${r}_${j - 1} l
         LEFT JOIN (SELECT g.x AS c, min(n.lab) AS mn
                    FROM cg$r g JOIN l${r}_${j - 1} n ON g.y = n.c
                    GROUP BY 1) m ON l.c = m.c)""")
        }
        sb.append(s""",
       comp$r AS MATERIALIZED (
         SELECT p.node, l.lab AS comp
         FROM $p p JOIN l${r}_$BvkJumps l ON p.comp = l.c),
       cen$r AS (
         SELECT $r AS round,
                (SELECT count(*) FROM sel$r) AS n_selected,
                (SELECT round(CAST(coalesce(sum(CAST(w AS DECIMAL(38,6))), 0)
                   AS DOUBLE), 6) FROM sel$r) AS round_weight,
                (SELECT count(DISTINCT comp) FROM comp$r) AS n_components)""")
      }
      sb.append("\n       " +
        (1 to BvkRounds).map(r => s"SELECT * FROM cen$r").mkString("\n       UNION ALL ") +
        "\n       ORDER BY round")
      sb.toString
    })

  /** Item-item collaborative filtering (Sarwar et al. 2001): q244's
    * co-purchase counts cosine-normalized into similarity scores,
    * sim(a,b) = co(a,b) / √(n(a)·n(b)), and each item's top-3 neighbors
    * — the classic "customers who bought X also bought" primitive. Same
    * Σ|basket|² candidate bound and hub-basket cap as q244; the per-item
    * top-3 is a window over each item's CANDIDATE list (bounded by its
    * co-purchase fan-out, never the catalog). Similarities round at
    * 12 dp before ranking (the q216 round-before-argmax contract) so
    * both engines pick identical neighbors under ties.
    */
  private val q250 = GraftQuery(
    "q250_itemcf_neighbors",
    (s, dir) => {
      // same capped-basket co-counts as q244 — shared artifact (one
      // Σ|basket|² pair aggregate per (inputs, knobs), not one per query)
      val (co, nOrd) = coPurchaseShared(s, dir)
      val directed = co.select(col("pa").as("item"), col("pb").as("nbr"), col("co"))
        .union(co.select(col("pb").as("item"), col("pa").as("nbr"), col("co")))
      val sim = directed
        .join(nOrd.select(col("pk").as("item"), col("n_ord").as("n_i")), "item")
        .join(nOrd.select(col("pk").as("nbr"), col("n_ord").as("n_n")), "nbr")
        .select(col("item"), col("nbr"),
          round(col("co").cast("double")
            / sqrt(col("n_i").cast("double") * col("n_n").cast("double")), 12)
            .as("sim"))
      // bounded top-3 aggregation, not a window: the window form
      // shuffled and sorted EVERY candidate pair per item (measured 13×
      // on the ×100 10×-data step — shuffle-spill at fixed cores);
      // TopKAgg's map-side partials carry ≤ 3 per item per partition
      // (same (sim DESC, nbr ASC) order contract as the window)
      val topkFn = graft.functions.TopKAgg.topK(3)
      sim.groupBy("item")
        .agg(topkFn(col("sim"), col("nbr")).as("top"))
        .select(col("item"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("item"), (col("pos") + 1).cast("int").as("rank"),
          col("t.id").as("nbr"), col("t.score").as("sim"))
        .orderBy("item", "rank")
    },
    Some("""WITH op AS (
              SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
            sized AS (
              SELECT op.ok, op.pk
              FROM op JOIN (SELECT ok, count(*) AS basket FROM op GROUP BY 1) s
                USING (ok)
              WHERE s.basket <= 50),
            n_ord AS (SELECT pk, count(*) AS n_ord FROM sized GROUP BY 1),
            co AS (
              SELECT a.pk AS pa, b.pk AS pb, count(*) AS co
              FROM sized a JOIN sized b ON a.ok = b.ok AND a.pk < b.pk
              GROUP BY 1, 2),
            directed AS (
              SELECT pa AS item, pb AS nbr, co FROM co
              UNION ALL SELECT pb, pa, co FROM co),
            sim AS (
              SELECT d.item, d.nbr,
                     round(CAST(d.co AS DOUBLE)
                       / sqrt(CAST(ni.n_ord AS DOUBLE) * CAST(nn.n_ord AS DOUBLE)), 12)
                       AS sim
              FROM directed d
              JOIN n_ord ni ON d.item = ni.pk
              JOIN n_ord nn ON d.nbr = nn.pk)
            SELECT item, CAST(rank AS INT) AS rank, nbr, sim FROM (
              SELECT *, row_number() OVER (PARTITION BY item
                ORDER BY sim DESC, nbr) AS rank
              FROM sim)
            WHERE rank <= 3
            ORDER BY item, rank"""))

  /** Graph-navigating ANN search (the HNSW layer-0 / NSW pattern,
    * Malkov & Yashunin 2018): greedy BEAM search over the knn graph —
    * start every query at a fixed entry node, repeatedly expand the beam
    * along out-edges, score candidates by cosine to the query, keep the
    * best `BeamWidth`; after `BeamHops` hops emit each query's top-3.
    * This is the family's scale path beyond bucketing (q24/q32/q70):
    * search cost is hops × beam × degree PER QUERY, independent of
    * corpus size once the graph exists.
    *
    * Determinism: both budgets are fixed (unrolled joins — the q248
    * contract), candidate ranking uses the 12 dp-ROUNDED cosine with a
    * node-id tie-break (q216 round-before-argmax: a 1-ulp sqrt
    * divergence cannot flip beam membership), and the entry node is the
    * computed min vec_id. The query node itself is excluded, matching
    * q22's knn semantics, so beam results are comparable to the exact
    * baseline.
    */
  private val BeamWidth = 4
  private val BeamHops = 6
  private val q253 = GraftQuery(
    "q253_beam_ann_search",
    (s, dir) =>
      // the query's OWN node may ride the beam (it routes the search into
      // its knn neighborhood — for q_id = entry it IS the start); only the
      // final output excludes it, matching q22's knn semantics. Adaptive
      // distributed-vs-replay routing and the hop recurrence live in
      // [[graft.operators.BeamAnn]] (round 13 — both routes pinned
      // output-identical in BeamAnnSpec).
      graft.operators.BeamAnn.searchTopK(
        Tables.embeddings(s, dir), knnEdges(s, dir),
        maxQueryId = 10, width = BeamWidth, hops = BeamHops, k = 3),
    Some {
      val cos = SimilarityQueries.cosSql("q.qe", "emb.embedding")
      val sb = new StringBuilder(s"""WITH ${knnEdgesSql},
       qs AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
       ent AS (SELECT min(vec_id) AS node FROM embeddings),
       sc0 AS (SELECT q.q_id, e.node, round($cos, 12) AS cos
               FROM qs q CROSS JOIN ent e JOIN embeddings emb ON emb.vec_id = e.node),
       b0 AS (SELECT q_id, node, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY cos DESC, node) AS rn FROM sc0)
              WHERE rn <= $BeamWidth)""")
      for (h <- 1 to BeamHops) {
        val p = s"b${h - 1}"
        sb.append(s""",
       ex$h AS (SELECT q_id, node FROM $p
                UNION
                SELECT b.q_id, e0.d FROM $p b JOIN e0 ON b.node = e0.s),
       sc$h AS (SELECT c.q_id, c.node, round($cos, 12) AS cos
                FROM ex$h c
                JOIN qs q ON c.q_id = q.q_id
                JOIN embeddings emb ON emb.vec_id = c.node),
       b$h AS (SELECT q_id, node, cos FROM (
                 SELECT *, row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, node) AS rn FROM sc$h)
               WHERE rn <= $BeamWidth)""")
      }
      sb.append(s"""
       SELECT q_id, CAST(rn AS INT) AS rank, node AS n_id, cos FROM (
         SELECT *, row_number() OVER (PARTITION BY q_id
           ORDER BY cos DESC, node) AS rn
         FROM b$BeamHops WHERE node <> q_id)
       WHERE rn <= 3 ORDER BY q_id, rank""")
      sb.toString
    })

  val all: Seq[GraftQuery] =
    Seq(q108, q112, q126, q127, q135, q136, q144, q148, q153, q156, q157, q158,
      q165, q168, q188, q204, q221, q227, q228, q242, q244, q245, q248, q250,
      q253)
}
