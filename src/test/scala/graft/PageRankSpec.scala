package graft

import graft.operators.{DriverReplay, PageRank}
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(String, String, Double)]): Map[String, Double] =
    PageRank.run(edges.toDF("src", "dst", "w"), "src", "dst", Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("symmetric ring stays uniform; mass sums to 1") {
    val ring = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0))
    val r = ranksOf(ring)
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9, r.toString))
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("star graph concentrates rank on the hub; dangling mass recycles") {
    // spokes point at the hub; the hub has no out-edges (dangling)
    val star = Seq(("s1", "hub", 1.0), ("s2", "hub", 1.0), ("s3", "hub", 1.0))
    val r = ranksOf(star)
    assert(r("hub") > r("s1") * 2, r.toString)
    assert(math.abs(r.values.sum - 1.0) < 1e-8, s"mass leaked: ${r.values.sum}")
    // spokes are symmetric
    assert(r("s1") === r("s2"))
    assert(r("s2") === r("s3"))
  }

  test("edge weights steer proportional mass; exact match to a serial replica") {
    // a splits 3:1 between b and c; b and c return to a
    val g = Seq(("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0))
    val r = ranksOf(g)
    assert(r("b") > r("c"))
    // bit-exact differential check against a serial implementation of the
    // SAME rounded recurrence (the determinism contract the DuckDB oracle
    // relies on, replayed in-process)
    assert(r === serialPageRank(g, iters = 10))
  }

  /** Serial replica of PageRank.run's rounded recurrence: double
    * arithmetic for every scalar step, BigDecimal for the (exact,
    * associative) contribution sums, HALF_UP rounding at the same scales.
    */
  private def serialPageRank(edges: Seq[(String, String, Double)], iters: Int,
      damping: Double = 0.85): Map[String, Double] = {
    def rnd(x: Double, s: Int): Double =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => BigDecimal.valueOf(e._3).setScale(15, BigDecimal.RoundingMode.HALF_UP))
        .sum.doubleValue
    }
    val frac = edges.map { case (s, d, w) => (s, d) -> w / outW(s) }.toMap
    var rank = nodes.map(_ -> rnd(1.0 / n, 12)).toMap
    for (_ <- 1 to iters) {
      val contrib = nodes.map { v =>
        val in = edges.filter(_._2 == v).map { case (s, d, _) =>
          BigDecimal.valueOf(rnd(rank(s) * frac((s, d)), 15))
        }
        v -> (if (in.isEmpty) 0.0 else in.sum.doubleValue)
      }.toMap
      val dm = nodes.filterNot(outW.contains)
        .map(v => BigDecimal.valueOf(rank(v))).sum.doubleValue
      rank = nodes.map(v =>
        v -> rnd((1 - damping) / n + damping * (contrib(v) + dm / n), 12)).toMap
    }
    rank
  }

  test("personalized: teleport confines mass to the seed component") {
    // two disconnected triangles; seeding {a} keeps all mass in a's
    // component — the far triangle scores exactly 0 every round
    val g = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("d", "e", 1.0), ("e", "f", 1.0), ("f", "d", 1.0))
    val r = PageRank.runPersonalized(
      g.toDF("src", "dst", "w"), "src", "dst",
      seeds = Seq("a").toDF("node"), weightCol = Some("w"), iterations = 8)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("d") === 0.0 && r("e") === 0.0 && r("f") === 0.0, r.toString)
    assert(math.abs(r.values.sum - 1.0) < 1e-8, s"mass: ${r.values.sum}")
    // every node the walk can reach from the seed carries mass
    assert(r("a") > 0 && r("b") > 0 && r("c") > 0, r.toString)
  }

  test("distributed path is bit-identical to the driver-local path (both variants)") {
    val g = Seq(("a", "b", 2.0), ("b", "c", 1.7), ("c", "a", 3.0),
      ("a", "c", 1.1), ("d", "a", 0.9), ("c", "d", 2.3), ("b", "d", 0.3))
    val df = g.toDF("src", "dst", "w")
    def toMapOf(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val local = toMapOf(PageRank.run(df, "src", "dst", Some("w"), iterations = 6))
    val dist = toMapOf(DriverReplay.distributedOnly(spark) {
      PageRank.run(df, "src", "dst", Some("w"), iterations = 6)
    })
    assert(local.keySet === dist.keySet)
    local.foreach { case (k, v) =>
      assert(java.lang.Double.compare(v, dist(k)) === 0, s"rank($k)") }
    val seeds = Seq("a", "d").toDF("node")
    val pLocal = toMapOf(PageRank.runPersonalized(df, "src", "dst", seeds,
      Some("w"), iterations = 6))
    val pDist = toMapOf(DriverReplay.distributedOnly(spark) {
      PageRank.runPersonalized(df, "src", "dst", seeds, Some("w"), iterations = 6)
    })
    assert(pLocal.keySet === pDist.keySet)
    pLocal.foreach { case (k, v) =>
      assert(java.lang.Double.compare(v, pDist(k)) === 0, s"pprank($k)") }
  }

  test("null weights: the driver replay returns the distributed ranks (both variants)") {
    // "e"'s only out-edge has a null weight (null out-weight: "e" dangles),
    // "a" mixes a null-weight edge with weighted ones (null fraction)
    val df = Seq(("a", "b", Some(2.0)), ("a", "c", None), ("b", "c", Some(1.7)),
      ("c", "a", Some(3.0)), ("e", "a", None), ("c", "d", Some(2.3)))
      .toDF("src", "dst", "w")
    val seeds = Seq("a", "e").toDF("node")
    def bothRoutes(run: => org.apache.spark.sql.DataFrame): Unit = {
      def ranks = run.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      val before = DriverReplay.runs.get()
      val replay = ranks
      assert(DriverReplay.runs.get() === before + 1, "tiny graph must replay")
      val dist = DriverReplay.distributedOnly(spark)(ranks)
      assert(replay.keySet === Set("a", "b", "c", "d", "e"))
      assert(replay.keySet === dist.keySet)
      replay.foreach { case (k, v) =>
        assert(java.lang.Double.compare(v, dist(k)) === 0, s"rank($k)") }
    }
    bothRoutes(PageRank.run(df, "src", "dst", Some("w"), iterations = 6))
    bothRoutes(PageRank.runPersonalized(df, "src", "dst", seeds, Some("w"), iterations = 6))
  }

  test("personalized: seeds outside the graph are ignored; dangling mass returns to seeds") {
    // b is dangling; teleport + dangling fold both land on seed a
    val g = Seq(("a", "b", 1.0))
    val r = PageRank.runPersonalized(
      g.toDF("src", "dst", "w"), "src", "dst",
      seeds = Seq("a", "zzz").toDF("node"), weightCol = Some("w"), iterations = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set("a", "b"))
    assert(math.abs(r.values.sum - 1.0) < 1e-8, s"mass: ${r.values.sum}")
    assert(r("a") > r("b"), r.toString)
  }
}
