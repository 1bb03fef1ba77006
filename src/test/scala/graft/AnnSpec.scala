package graft

import graft.operators.{Ann, Components, DriverReplay, NearDup}
import org.apache.spark.sql.functions._

/** IVF ANN recall vs brute force, and connected-components correctness. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("ivfTopK: valid ranks, cosines dominated by brute force, decent recall@5") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val ivfDf = Ann.ivfTopK(spark, q, emb, k = 5)
    // probe contract: equi-join on cell, never a cross join over the corpus
    val plan = ivfDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Cross"),
      s"ivfTopK plan contains a cross join:\n$plan")
    val ivf = ivfDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bf = NearDup.knnBruteForce(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(ivf.map(_._1).distinct.sorted === (0L until 20L))
    ivf.groupBy(_._1).values.foreach(rows => assert(rows.map(_._4).sorted === (1 to 5)))
    // at equal rank, IVF cosine can never beat exhaustive search
    val bfAtRank = bf.map(r => (r._1, r._4) -> r._3).toMap
    ivf.foreach { case (qid, _, cos, rank) => assert(cos <= bfAtRank((qid, rank)) + 1e-12) }
    val bfSet = bf.map(r => (r._1, r._2)).toSet
    val recall = ivf.map(r => (r._1, r._2)).count(bfSet.contains).toDouble / bfSet.size
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
  }

  test("knnTopKLsh: full-corpus graph builder holds recall >= 0.95 vs brute force") {
    // the scale-path similarity-graph constructor: candidates from LSH
    // buckets, exact re-rank — must reproduce (almost) the brute-force
    // edge set the graph quartet (q126/q127/q135/q136) is graded on
    val emb = Tables.embeddings(spark, sf)
    val lsh = NearDup.knnTopKLsh(emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bf = NearDup.knnBruteForce(emb, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bfSet = bf.map(r => (r._1, r._2)).toSet
    val recall = lsh.map(r => (r._1, r._2)).count(bfSet.contains).toDouble / bfSet.size
    assert(recall >= 0.95, s"LSH knn graph recall@5 = $recall")
    // exact re-rank: cosines of shared edges are bit-identical
    val bfCos = bf.map(r => (r._1, r._2) -> r._3).toMap
    lsh.foreach { case (q, n, cos) =>
      bfCos.get((q, n)).foreach(exp => assert(cos === exp)) }
  }

  test("LSH-built graph supports traversal equivalent to the brute-built graph") {
    // the quartet's constructor cuts over to knnTopKLsh above
    // KnnBruteForceMaxVectors; this pins what that substitution does to a
    // TRAVERSAL (not just edge recall): BFS hop distances from the same
    // source over both graphs must agree on >= 95% of nodes, and the
    // reachable sets must match within 5%
    val emb = Tables.embeddings(spark, sf)
    def hops(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Bfs.run(edges.select(
          col("q_id").as("src"), col("n_id").as("dst")),
        "src", "dst", source = 0L, maxHops = 16)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bfHops = hops(NearDup.knnBruteForce(emb, emb, 5))
    // the graph constructor's own scale-path knobs (24 tables)
    val lshHops = hops(NearDup.knnTopKLsh(emb, k = 5, tables = 24))
    val reachRatio = lshHops.size.toDouble / bfHops.size
    assert(reachRatio >= 0.95 && reachRatio <= 1.05, s"reach ratio $reachRatio")
    val shared = bfHops.keySet.intersect(lshHops.keySet)
    val agree = shared.count(k => bfHops(k) == lshHops(k)).toDouble / shared.size
    assert(agree >= 0.95, s"hop agreement $agree")
    // and the routing threshold really does keep the driver scales exact:
    // sf0.01's corpus must take the brute-force path
    assert(emb.count() <= graft.queries.GraphQueries.KnnBruteForceMaxVectors)
  }

  test("ivfTopK: adaptive nlist holds the recall bound at a 10x corpus") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val q = emb.filter(col("vec_id") < 20)
    // default nlist <= 0 → max(16, ceil(sqrt(n))) — the cell count must
    // track corpus growth without recall collapsing
    val ivf = Ann.ivfTopK(spark, q, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bfSet = NearDup.knnBruteForce(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.count(bfSet.contains).toDouble / bfSet.size
    assert(recall >= 0.5, s"IVF recall@5 at sf0.01 = $recall")
  }

  test("ivfTopK: nlist=1024 on a synthetic corpus — no codegen/analysis blowup") {
    // 4096 deterministic 16-dim vectors; the former greatest-over-structs
    // tree would build 1024 literal struct nodes per plan here (minutes of
    // Catalyst analysis); the fused CentroidArgmax/CentroidTopCells nodes
    // must make this complete quickly with a valid result shape
    val dims = (0 until 16).map(d =>
      ((pmod(xxhash64(col("vec_id") * 16 + d), lit(1000L)) - 500L) / 500.0).cast("float"))
    val emb = spark.range(4096).select(col("id").as("vec_id"), array(dims: _*).as("embedding"))
    val q = emb.filter(col("vec_id") < 10)
    val started = System.nanoTime()
    val ivf = Ann.ivfTopK(spark, q, emb, k = 5, nlist = 1024, nprobe = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val elapsedSec = (System.nanoTime() - started) / 1e9
    assert(ivf.map(_._1).distinct.sorted === (0L until 10L))
    ivf.groupBy(_._1).values.foreach(rows => assert(rows.map(_._4).sorted === (1 to 5)))
    val bfAtRank = NearDup.knnBruteForce(q, emb, 5)
      .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getDouble(2))).toMap
    ivf.foreach { case (qid, _, cos, rank) => assert(cos <= bfAtRank((qid, rank)) + 1e-12) }
    assert(elapsedSec < 120.0, s"nlist=1024 ivfTopK took ${elapsedSec}s — plan-build blowup?")
  }

  test("ivfTopK: exactly one shuffle Exchange (probe rows reach TopKAgg undeduped)") {
    // (q_id, n_id) pairs out of the probe join are already unique (one cell
    // per corpus vector, distinct probed cells per query), so the only
    // shuffle in the plan is the final groupBy(q_id) — a dropDuplicates
    // here would add a second full shuffle of every probed candidate row,
    // defeating the bounded TopKAgg partials
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val plan = Ann.ivfTopK(spark, q, emb, k = 5).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val shuffles = raw"\(\d+\) Exchange\b".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected 1 shuffle Exchange, got $shuffles:\n$plan")
  }

  test("trainCentroids: hash-gated sampling is deterministic and holds recall") {
    // synthetic corpus larger than maxTrain so the gate actually engages
    val dims = (0 until 16).map(d =>
      ((pmod(xxhash64(col("vec_id") * 16 + d), lit(1000L)) - 500L) / 500.0).cast("float"))
    val emb = spark.range(2048).select(col("id").as("vec_id"), array(dims: _*).as("embedding"))
    def train() = Ann.trainCentroids(spark, emb, nlist = 16, iters = 2, maxTrain = 512L)
    val c1 = train()
    val c2 = train()
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq,
      "sampled training must be reproducible run-to-run")
    // sampled centroids must still deliver usable recall end-to-end
    val q = emb.filter(col("vec_id") < 10)
    val ivf = Ann.ivfTopK(spark, q, emb, k = 5, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bfSet = NearDup.knnBruteForce(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.count(bfSet.contains).toDouble / bfSet.size
    assert(recall >= 0.5, s"recall@5 with sampled training = $recall")
  }

  test("ivfTopK: shuffle-join fallback returns the same rows as broadcast") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    def rows(limit: Long) =
      Ann.ivfTopK(spark, q, emb, k = 5, broadcastQueryRows = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // limit 0 forces the non-broadcast path; results must be identical
    assert(rows(0L) === rows(500000L))
  }

  test("connectedComponents merges transitively, labels by min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("doc_a", "doc_b")
    val got = Components.neardupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 1L, false),
      (5L, 5L, true), (6L, 5L, false)))
  }

  test("connectedComponents closes a long chain (diameter > 1 round)") {
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val labels = Components.connectedComponents(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(1)).distinct
    assert(labels === Array(0L))
  }

  test("distributed CC path (threshold 0) agrees with driver union-find") {
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 3L), (5L, 6L), (7L, 8L), (8L, 5L))
      .toDF("doc_a", "doc_b")
    def asSet = Components.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(DriverReplay.distributedOnly(spark)(asSet) === asSet)
  }

  test("propagation hitting its round cap auto-finishes exactly via LSS fallback") {
    // 50-chain (diameter 49), forced distributed, capped at 2 iterations =
    // 4 hops of propagation: labels are then only a coarsening. Previously
    // this returned SPLIT clusters with a stderr warning; the contract now
    // is exact components via largeStarSmallStar over the contracted graph.
    val chain = (0L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val got = DriverReplay.distributedOnly(spark) {
      Components.connectedComponents(chain, "doc_a", "doc_b", maxIters = 2).collect()
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (0L until 50L).map(i => (i, 0L)).toSet)
  }

  test("largeStarSmallStar: throws on non-convergence") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Components.largeStarSmallStar(edges, "doc_a", "doc_b", maxIters = 0)
    }
  }

  test("largeStarSmallStar agrees with union-find ground truth; beats propagation on diameter") {
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cases = Seq(
      // long chain: diameter 49 — the shape that stalls O(diameter)
      // propagation (it silently under-converges at default maxIters,
      // now warned), while LSS halves the diameter every round
      (0L until 50L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // two dense blobs + a bridge + a separate pair
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L), (10L, 11L), (11L, 12L),
        (20L, 21L)),
      // star with high-id center, reversed orientations
      Seq((100L, 1L), (100L, 2L), (100L, 3L), (4L, 100L)),
      // self-loop + isolated edge
      Seq((5L, 5L), (6L, 7L)))
    cases.foreach { edges =>
      val df = edges.toDF("doc_a", "doc_b")
      val lss = labels(Components.largeStarSmallStar(df, "doc_a", "doc_b"))
      // driver union-find = exact ground truth, instant at this size
      val truth = labels(Components.connectedComponents(df, "doc_a", "doc_b"))
      assert(lss === truth, s"mismatch on $edges")
    }
    // propagation differential on a SMALL-diameter graph (its home turf);
    // the 49-chain above is exactly where it would need 25 materialization
    // rounds, which is the point of having LSS
    val small = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 4L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    assert(labels(Components.largeStarSmallStar(small, "doc_a", "doc_b")) ===
      labels(DriverReplay.distributedOnly(spark) {
        Components.connectedComponents(small, "doc_a", "doc_b")
      }))
  }

  test("largeStarSmallStar == local union-find on seeded random graphs") {
    import scala.collection.mutable
    val rng = new scala.util.Random(42)
    (0 until 8).foreach { trial =>
      val n = 12 + rng.nextInt(20)
      val edges = Seq.fill(8 + rng.nextInt(20))(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val got = Components.largeStarSmallStar(
          edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val parent = mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.groupBy(find).values
        .flatMap(ns => { val m = ns.min; ns.map(_ -> m) }).toMap
      assert(got === want, s"trial $trial: edges=$edges")
    }
  }

  test("pqTopK: valid ranks, exact-rerank dominance, decent recall@5, no cross join") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 20)
    val pqDf = graft.operators.Pq.pqTopK(spark, q, emb, k = 5)
    // IVF-PQ contract: the ADC scan is an equi-join on cell, never a
    // cross join over the corpus codes
    val plan = pqDf.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Cross"),
      s"pqTopK plan contains a cross join:\n$plan")
    val pq = pqDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val bf = NearDup.knnBruteForce(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(pq.map(_._1).distinct.sorted === (0L until 20L))
    pq.groupBy(_._1).values.foreach(rows => assert(rows.map(_._4).sorted === (1 to 5)))
    // survivors are exactly re-ranked, so no PQ cosine can beat brute force
    val bfAtRank = bf.map(r => (r._1, r._4) -> r._3).toMap
    pq.foreach { case (qid, _, cos, rank) => assert(cos <= bfAtRank((qid, rank)) + 1e-12) }
    val bfSet = bf.map(r => (r._1, r._2)).toSet
    val recall = pq.map(r => (r._1, r._2)).count(bfSet.contains).toDouble / bfSet.size
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
  }

  test("pq codes compress 32x and round-trip deterministically") {
    val emb = Tables.embeddings(spark, sf)
    val cb = graft.operators.Pq.trainCodebooks(spark, emb, m = 8, ksub = 16)
    assert(cb.length === 8 && cb.forall(_.length === 16) && cb(0)(0).length === 8)
    val codes1 = graft.operators.Pq.encode(emb, cb)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codes2 = graft.operators.Pq.encode(emb, cb)
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes1 === codes2)
    assert(codes1.values.forall(c => c.length === 8 && c.forall(j => j >= 0 && j < 16)))
  }
}
