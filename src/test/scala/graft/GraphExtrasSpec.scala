package graft

import org.apache.spark.sql.functions._

/** Hand ground truths for the round-7 graph/eval additions: harmonic
  * centrality (q157) and nearest-centroid evaluation (q159). TextRank
  * (q158) composes the PageRankSpec-pinned operator with the
  * q109-pinned pair extraction; its end-to-end grading is the oracle.
  */
class GraphExtrasSpec extends SparkSpec {
  import spark.implicits._

  test("harmonic centrality on a path graph: exact 1/d sums") {
    // path 1-2-3-4: h(1) = 1 + 1/2 + 1/3; h(2) = 1 + 1 + 1/2
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val h = graft.operators.Harmonic.run(und).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(h(1L)._1 === 3L)
    assert(math.abs(h(1L)._2 - (1.0 + 0.5 + 1.0 / 3)) < 1e-9)
    assert(math.abs(h(2L)._2 - 2.5) < 1e-9)
    assert(h(1L)._2 === h(4L)._2 && h(2L)._2 === h(3L)._2) // symmetry
  }

  test("harmonic centrality: disconnected components never meet; maxHops truncates") {
    val und = Seq((1L, 2L), (10L, 11L)).toDF("u", "v")
    val h = graft.operators.Harmonic.run(und).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h.values.forall(_ === 1L), h.toString) // each reaches only its pair
    // a 5-path with maxHops=1 sees only direct neighbors
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    val h1 = graft.operators.Harmonic.run(path, maxHops = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1(1L) === 1L && h1(3L) === 2L)
  }

  test("harmonic: distributed exact path is bit-identical to the driver-local path") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 5L), (6L, 7L))
      .toDF("u", "v")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val local = toMapOf(graft.operators.Harmonic.run(und, maxHops = 6))
    val dist = toMapOf(graft.operators.DriverReplay.distributedOnly(spark)(
      graft.operators.Harmonic.run(und, maxHops = 6)))
    assert(local.keySet === dist.keySet)
    local.foreach { case (k, (n, h)) =>
      assert(n === dist(k)._1, s"n_reached($k)")
      assert(java.lang.Double.compare(h, dist(k)._2) === 0, s"harmonic($k)")
    }
  }

  test("harmonic: implicit all-sources on a large graph becomes the pivot estimator") {
    // real embedding knn graph (500 nodes at sf0.001): forcing the
    // size cutover (maxExactNodes = 1) must produce per-node ESTIMATES
    // within a stated error of the exact all-sources run — and the
    // estimator path must be what an implicit large-graph call gets
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val und = graft.operators.NearDup.knnBruteForce(emb, emb, 5)
      .select(least(col("q_id"), col("n_id")).as("u"),
        greatest(col("q_id"), col("n_id")).as("v"))
      .distinct()
    val exact = graft.operators.Harmonic.run(und, maxHops = 8).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val est = graft.operators.Harmonic.run(und, maxHops = 8, maxExactNodes = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every exact node with nonzero centrality gets an estimate
    assert(est.keySet.subsetOf(exact.keySet))
    assert(est.size >= (exact.size * 0.95).toInt, s"${est.size} vs ${exact.size}")
    val relErrs = est.toSeq.map { case (k, v) => math.abs(v - exact(k)) / exact(k) }
    val mean = relErrs.sum / relErrs.size
    assert(mean <= 0.15, f"mean relative error $mean%.3f")
    val median = relErrs.sorted.apply(relErrs.size / 2)
    assert(median <= 0.12, f"median relative error $median%.3f")
  }

  test("nearest-centroid eval: separable blobs score perfect per-label F1") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.1f, 0.9f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = graft.Registry.byName("q159_nearest_centroid_eval")
    // drive the inline query body through a parquet round trip
    val dir = tmpDir("graft_nce")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = out.run(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("precision") === 1.0, r.toString)
      assert(r.getAs[Double]("recall") === 1.0, r.toString)
      assert(r.getAs[Double]("f1") === 1.0, r.toString)
    }
  }
  test("MMR picks the diverse candidate over the redundant higher-rel one") {
    import spark.implicits._
    // one query; c1 rel .9848, c2 rel .9781 but sim(c2,c1)=.9994 (near-dup),
    // c3 rel .9063 with sim(c3,c1)=.8192. Step2 scores (lambda=0.7):
    // c2: .7*.9781-.3*.9994=.38485 < c3: .7*.9063-.3*.8192=.38865 -> c3.
    val short = Seq(
      (0L, 10L, 0.9848), (0L, 11L, 0.9781), (0L, 12L, 0.9063))
      .toDF("q_id", "n_id", "rel")
    val sims = Seq(
      (0L, 10L, 11L, 0.9994), (0L, 11L, 10L, 0.9994),
      (0L, 10L, 12L, 0.8192), (0L, 12L, 10L, 0.8192),
      (0L, 11L, 12L, 0.7314), (0L, 12L, 11L, 0.7314))
      .toDF("q_id", "n_id", "m_id", "sim")
    val sel = graft.operators.Mmr.select(short, sims, lambda = 0.7, k = 3)
      .orderBy("step").collect()
    assert(sel.map(_.getAs[Long]("n_id")).toSeq === Seq(10L, 12L, 11L))
    // a pure-relevance ranking would give 10, 11, 12 — diversification is
    // exactly the step-2 swap
    val s2 = sel(1)
    assert(math.abs(s2.getAs[Double]("mmr") - (0.7 * 0.9063 - (1 - 0.7) * 0.8192)) < 1e-9)
  }

  test("MMR stops early for queries with fewer than k candidates") {
    import spark.implicits._
    val short = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (1L, 7L, 0.5))
      .toDF("q_id", "n_id", "rel")
    val sims = Seq((0L, 1L, 2L, 0.1), (0L, 2L, 1L, 0.1))
      .toDF("q_id", "n_id", "m_id", "sim")
    val sel = graft.operators.Mmr.select(short, sims, lambda = 0.7, k = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("step"), r.getLong(2)))
    assert(sel.count(_._1 == 0L) === 2)
    assert(sel.count(_._1 == 1L) === 1) // q1 has one candidate: step 1 only
  }

  test("MMR candidate missing from sims gets penalty 0, not dropped") {
    import spark.implicits._
    // candidate 3 has NO sim row against anything: it must survive with
    // pen 0 → mmr = λ·rel, and win step 2 over candidate 2 (penalized)
    val short = Seq((0L, 1L, 0.9), (0L, 2L, 0.85), (0L, 3L, 0.5))
      .toDF("q_id", "n_id", "rel")
    val sims = Seq((0L, 2L, 1L, 0.95), (0L, 1L, 2L, 0.95))
      .toDF("q_id", "n_id", "m_id", "sim")
    val sel = graft.operators.Mmr.select(short, sims, lambda = 0.5, k = 3)
      .orderBy("step").collect()
    assert(sel.map(_.getAs[Long]("n_id")).toSeq === Seq(1L, 3L, 2L))
    // step 2: cand 2 scores 0.5·0.85 − 0.5·0.95 = −0.05; cand 3 scores
    // 0.5·0.5 − 0 = 0.25 → 3 wins, and later still appears at step 3
    assert(math.abs(sel(1).getAs[Double]("mmr") - 0.25) < 1e-9)
  }

  test("MMR driver replay == distributed rounds on random shortlists") {
    import spark.implicits._
    // differential pin for the round-12 adaptive routing: same selections,
    // steps and 12-dp scores from both paths, incl. ties, sparse sims
    // (missing pairs → penalty 0) and short-shortlist early stops
    val rnd = new scala.util.Random(77)
    val short = (for {
      q <- 0L until 6L
      c <- 0L until (3 + rnd.nextInt(6)).toLong
    } yield (q, 100 + c, math.rint(rnd.nextDouble() * 1e4) / 1e4))
      .toDF("q_id", "n_id", "rel")
    val sims = (for {
      q <- 0L until 6L
      a <- 100L until 109L; b <- 100L until 109L
      if a != b && rnd.nextDouble() < 0.6 // sparse: exercises pen-0 rows
    } yield (q, a, b, math.rint(rnd.nextDouble() * 1e4) / 1e4))
      .toDF("q_id", "n_id", "m_id", "sim")
    val runs = graft.operators.DriverReplay.runs
    val before = runs.get()
    val drv = graft.operators.Mmr.select(short, sims, lambda = 0.7, k = 5)
      .orderBy("q_id", "step").collect().map(_.toSeq).toSeq
    assert(runs.get() == before + 1,
      "sub-bound shortlists must take the driver replay")
    val dist = graft.operators.DriverReplay.distributedOnly(spark) {
      graft.operators.Mmr.select(short, sims, lambda = 0.7, k = 5)
        .orderBy("q_id", "step").collect().map(_.toSeq).toSeq
    }
    assert(runs.get() == before + 1,
      "replays switched off must never take the driver replay")
    assert(drv == dist, s"driver $drv\nvs distributed $dist")
  }

  test("MMR duplicate sim rows merge with MAX on both paths") {
    import spark.implicits._
    // the distributed path aggregates max(sim) over duplicate (q, c, m)
    // rows; the driver replay must do the same (round 13: a last-wins
    // toMap diverged when the smaller sim arrived last). Duplicates below
    // are ordered so last-wins picks 0.10 where max is 0.95 — with max,
    // candidate 2 is heavily penalized at step 2 and candidate 3 wins.
    val short = Seq((0L, 1L, 0.9), (0L, 2L, 0.85), (0L, 3L, 0.5))
      .toDF("q_id", "n_id", "rel")
    val sims = Seq(
      (0L, 2L, 1L, 0.95), (0L, 2L, 1L, 0.10),
      (0L, 3L, 1L, 0.20))
      .toDF("q_id", "n_id", "m_id", "sim")
    val drv = graft.operators.Mmr.select(short, sims, lambda = 0.5, k = 3)
      .orderBy("step").collect().map(_.toSeq).toSeq
    val dist = graft.operators.DriverReplay.distributedOnly(spark) {
      graft.operators.Mmr.select(short, sims, lambda = 0.5, k = 3)
        .orderBy("step").collect().map(_.toSeq).toSeq
    }
    assert(drv == dist, s"driver $drv\nvs distributed $dist")
    assert(drv.map(_(2)) == Seq(1L, 3L, 2L))
  }

  test("clusteringCoefficient: triangle + pendant hand graph") {
    // K3 on {1,2,3} plus pendant edge 3-4 (fed with duplicate/reversed
    // edges to exercise normalization)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Triangles
      .clusteringCoefficient(edges, "src", "dst")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((2L, 1L, 1.0)))
    assert(got(2L) === ((2L, 1L, 1.0)))
    assert(got(3L) === ((3L, 1L, 0.333333333))) // 2·1/(3·2), rounded to 9 dp
    assert(got(4L) === ((1L, 0L, 0.0)))         // degree-1: defined as 0
  }

  test("betweenness on a path graph, all sources: exact Brandes dependencies") {
    // path 1-2-3-4-5; dep(v) = Σ_s δ_s(v) = 2·bc(v): dep(2)=6, dep(3)=8, dep(4)=6
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    def depMap(replay: Boolean) = {
      def rows = graft.operators.Betweenness
        .run(e, "u", "v", sources = Seq(1L, 2L, 3L, 4L, 5L)).collect()
      (if (replay) rows else graft.operators.DriverReplay.distributedOnly(spark)(rows))
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    }
    val local = depMap(replay = true)
    assert(local.keySet === Set(2L, 3L, 4L))
    assert(local(2L).doubleValue() === 6.0)
    assert(local(3L).doubleValue() === 8.0)
    assert(local(4L).doubleValue() === 6.0)
    // distributed path (replays off) is bit-identical, decimal for decimal
    val dist = depMap(replay = false)
    assert(dist.view.mapValues(_.toPlainString).toMap
      === local.view.mapValues(_.toPlainString).toMap)
  }

  test("betweenness splits flow across equal shortest paths (diamond)") {
    // 1-2, 1-3, 2-4, 3-4: from source 1, σ(4)=2 ⇒ δ(2)=δ(3)=1/2
    val e = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("u", "v")
    val got = graft.operators.Betweenness.run(e, "u", "v", sources = Seq(1L))
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(got === Map(2L -> 0.5, 3L -> 0.5))
  }

  test("betweenness distributed path matches local bit-for-bit on fractional deltas") {
    // Two backward levels with non-integer dependencies: 0-{1,2,3},
    // 1-4, {2,3}-5, {4,5}-6 from source 0 gives σ(4)=1, σ(5)=2, σ(6)=3,
    // so δ(4)=1/3 and δ(5)=2/3 — deltas with a nonzero 15th digit that
    // then feed (1 + δ) at level 1. A decimal-typed (1 + δ) add would
    // overflow DECIMAL(38,15) to precision 39 and HALF_UP-adjust to
    // (38,14), silently dropping the 15th digit on the distributed path
    // only — this pins all contribution arithmetic to the shared double
    // grid.
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (2L, 5L), (3L, 5L),
      (4L, 6L), (5L, 6L)).toDF("u", "v")
    def depMap(replay: Boolean) = {
      def rows = graft.operators.Betweenness.run(e, "u", "v", sources = Seq(0L)).collect()
      (if (replay) rows else graft.operators.DriverReplay.distributedOnly(spark)(rows))
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    }
    val local = depMap(replay = true)
    assert(local(4L).stripTrailingZeros.toPlainString === "0.333333333333333")
    assert(local(5L).stripTrailingZeros.toPlainString === "0.666666666666667")
    assert(local(1L).stripTrailingZeros.toPlainString === "1.333333333333333")
    val dist = depMap(replay = false)
    assert(dist.view.mapValues(_.toPlainString).toMap
      === local.view.mapValues(_.toPlainString).toMap)
  }

  test("sampled betweenness ranks the same bridges as exact all-sources") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val edges = graft.operators.NearDup.knnBruteForce(emb, emb, k = 5)
      .select(col("q_id").as("src"), col("n_id").as("dst"))
    val ids = emb.select("vec_id").orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    def dep(ss: Seq[Long]) = graft.operators.Betweenness
      .run(edges, "src", "dst", ss, maxLevels = 16)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    val exact = dep(ids)              // every node a source — ground truth
    val s8 = dep(ids.take(8))
    val s64 = dep(ids.take(64))
    def top20(m: Map[Long, Double]) = m.toSeq.sortBy(-_._2).take(20).map(_._1).toSet
    val (tE, t8, t64) = (top20(exact), top20(s8), top20(s64))
    // measured on this deterministic graph: 8 sources recover 4 of the
    // top-20 bridges, 64 sources recover 11 — the Brandes-Pich sampling
    // story (estimates converge with |sources|), pinned with slack so a
    // regression in the dependency accumulation (not graph noise — the
    // inputs are fixed) trips it
    info(s"top-20 overlap: 8src=${(tE & t8).size}, 64src=${(tE & t64).size}, nodes=${ids.length}")
    assert((tE & t8).size >= 2, s"8-source overlap ${(tE & t8).size}")
    assert((tE & t64).size >= 8, s"64-source overlap ${(tE & t64).size}")
    assert((tE & t64).size > (tE & t8).size, "no convergence with more sources")
  }

  test("betweenness maxLevels truncates dependency flow past the horizon") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    // BFS from 1 capped at 2 levels reaches {2,3}; only δ(2)=1 survives
    val got = graft.operators.Betweenness
      .run(e, "u", "v", sources = Seq(1L), maxLevels = 2)
      .collect().map(r => r.getLong(0) -> r.getDecimal(1).doubleValue()).toMap
    assert(got === Map(2L -> 1.0))
  }
}
