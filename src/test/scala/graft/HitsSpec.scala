package graft

import graft.operators.{DriverReplay, Hits}

class HitsSpec extends SparkSpec {
  import spark.implicits._

  private def scoresOf(edges: Seq[(String, String, Double)], iters: Int = 5)
      : Map[String, (Double, Double)] =
    Hits.run(edges.toDF("src", "dst", "w"), "src", "dst", Some("w"),
      iterations = iters)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  test("directed star: hub node takes all authority, spokes all hubness") {
    val star = Seq(("s1", "hub", 1.0), ("s2", "hub", 1.0), ("s3", "hub", 1.0))
    val g = scoresOf(star)
    assert(g("hub")._1 === 1.0, g.toString) // authority
    assert(g("hub")._2 === 0.0) // hub score
    Seq("s1", "s2", "s3").foreach { s =>
      assert(g(s)._1 === 0.0)
      assert(math.abs(g(s)._2 - 1.0 / 3) < 1e-9)
    }
  }

  test("both columns stay L1-normalized on an asymmetric graph") {
    val g = Seq(("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 3.0), ("a", "c", 1.0))
    val s = scoresOf(g)
    assert(math.abs(s.values.map(_._1).sum - 1.0) < 1e-8)
    assert(math.abs(s.values.map(_._2).sum - 1.0) < 1e-8)
  }

  test("exact match to a serial replica of the rounded recurrence") {
    val g = Seq(("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 3.0),
      ("a", "c", 1.0), ("d", "a", 1.0))
    assert(scoresOf(g, iters = 4) === serialHits(g, iters = 4))
  }

  test("distributed path is bit-identical to the driver-local path") {
    // default run() takes the local path (tiny graph); switching replays
    // off forces the distributed rounds — both must produce the IDENTICAL
    // doubles, or the adaptive cutover would change query results at the
    // boundary
    val g = Seq(("a", "b", 2.0), ("b", "c", 1.7), ("c", "a", 3.0),
      ("a", "c", 1.1), ("d", "a", 0.9), ("c", "d", 2.3), ("b", "d", 0.3))
    val df = g.toDF("src", "dst", "w")
    val local = Hits.run(df, "src", "dst", Some("w"), iterations = 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val dist = DriverReplay.distributedOnly(spark) {
      Hits.run(df, "src", "dst", Some("w"), iterations = 5).collect()
    }.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(local.keySet === dist.keySet)
    local.foreach { case (k, (a, h)) =>
      assert(java.lang.Double.compare(a, dist(k)._1) === 0, s"auth($k)")
      assert(java.lang.Double.compare(h, dist(k)._2) === 0, s"hub($k)")
    }
  }

  test("null weights: the driver replay returns the distributed scores") {
    val df = Seq(("a", "b", Some(2.0)), ("a", "c", None), ("b", "c", Some(1.7)),
      ("c", "a", Some(3.0)), ("e", "a", None), ("c", "d", Some(2.3)))
      .toDF("src", "dst", "w")
    def scores = Hits.run(df, "src", "dst", Some("w"), iterations = 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val before = DriverReplay.runs.get()
    val replay = scores
    assert(DriverReplay.runs.get() === before + 1, "tiny graph must replay")
    val dist = DriverReplay.distributedOnly(spark)(scores)
    assert(replay.keySet === Set("a", "b", "c", "d", "e"))
    assert(replay.keySet === dist.keySet)
    replay.foreach { case (k, (a, h)) =>
      assert(java.lang.Double.compare(a, dist(k)._1) === 0, s"auth($k)")
      assert(java.lang.Double.compare(h, dist(k)._2) === 0, s"hub($k)")
    }
  }

  /** Serial replica: double scalar steps, BigDecimal for the associative
    * sums, HALF_UP at the operator's scales (15 for contributions and the
    * L1 norms' inputs, 12 for normalized scores).
    */
  private def serialHits(edges: Seq[(String, String, Double)], iters: Int)
      : Map[String, (Double, Double)] = {
    def rnd(x: Double, s: Int): Double =
      BigDecimal.valueOf(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    var auth = nodes.map(_ -> rnd(1.0 / n, 12)).toMap
    var hub = nodes.map(_ -> rnd(1.0 / n, 12)).toMap
    def l1(m: Map[String, Double]): Double =
      m.values.map(v => BigDecimal.valueOf(v).setScale(15, BigDecimal.RoundingMode.HALF_UP))
        .sum.doubleValue
    for (_ <- 1 to iters) {
      val aRaw = nodes.map { v =>
        val in = edges.filter(_._2 == v)
          .map { case (s, _, w) => BigDecimal.valueOf(rnd(hub(s) * w, 15)) }
        v -> (if (in.isEmpty) 0.0 else in.sum.doubleValue)
      }.toMap
      val an = l1(aRaw)
      auth = aRaw.map { case (v, x) => v -> rnd(x / an, 12) }
      val hRaw = nodes.map { v =>
        val out = edges.filter(_._1 == v)
          .map { case (_, d, w) => BigDecimal.valueOf(rnd(auth(d) * w, 15)) }
        v -> (if (out.isEmpty) 0.0 else out.sum.doubleValue)
      }.toMap
      val hn = l1(hRaw)
      hub = hRaw.map { case (v, x) => v -> rnd(x / hn, 12) }
    }
    nodes.map(v => v -> (auth(v), hub(v))).toMap
  }
}
