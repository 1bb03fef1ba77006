package graft

import graft.operators.{DriverReplay, Lpa, Sssp}

/** Hand-built ground truths for the weighted-traversal operators (q135
  * Bellman–Ford SSSP, q136 synchronous label propagation).
  */
class TraversalWeightedSpec extends SparkSpec {
  import spark.implicits._

  test("Sssp: picks the lighter multi-hop route over the direct edge") {
    // 1→2 (1.0), 2→3 (2.0), 1→3 (10.0): dist(3) = 3.0 via 2, not 10.0
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 10.0))
      .toDF("s", "d", "w")
    val got = Sssp.run(edges, "s", "d", "w", source = 1L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0))
  }

  test("Sssp: round cap bounds path length (k-edge invariant)") {
    // chain 1-2-3-4 each weight 1; rounds = 2 reaches only ≤2 edges out
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0)).toDF("s", "d", "w")
    val got = Sssp.run(edges, "s", "d", "w", source = 1L, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
  }

  test("Sssp: parallel edges collapse to the minimum weight") {
    val edges = Seq((1L, 2L, 5.0), (1L, 2L, 2.0), (2L, 1L, 7.0)).toDF("s", "d", "w")
    val got = Sssp.run(edges, "s", "d", "w", source = 1L, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // undirected: (1,2) carries min(5,2,7) = 2
    assert(got === Map(1L -> 0.0, 2L -> 2.0))
  }

  test("Sssp: negative weight fails the job loudly") {
    val edges = Seq((1L, 2L, -1.0)).toDF("s", "d", "w")
    val ex = intercept[Exception] {
      Sssp.run(edges, "s", "d", "w", source = 1L, rounds = 1).collect()
    }
    assert(ex.getMessage != null)
  }

  test("Lpa: two triangles over a bridge separate into two communities") {
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), // triangle A
      (4L, 5L), (4L, 6L), (5L, 6L), // triangle B
      (3L, 4L)) // bridge
      .toDF("s", "d")
    val got = Lpa.run(edges, "s", "d", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = Set(1L, 2L, 3L).map(got)
    val b = Set(4L, 5L, 6L).map(got)
    assert(a.size === 1, s"triangle A not uniform: $got")
    assert(b.size === 1, s"triangle B not uniform: $got")
    assert(a != b, s"bridge merged the communities: $got")
  }

  test("Bfs/Sssp/Lpa: distributed paths are bit-identical to the driver-local paths") {
    import spark.implicits._
    val e = Seq((1L, 2L, 0.5), (2L, 3L, 1.5), (3L, 1L, 0.7), (3L, 4L, 2.25),
      (4L, 5L, 0.25), (1L, 4L, 3.5), (5L, 6L, 1.0), (2L, 4L, 0.125))
      .toDF("src", "dst", "w")
    val bfsL = graft.operators.Bfs.run(e, "src", "dst", 1L, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bfsD = DriverReplay.distributedOnly(spark) {
      graft.operators.Bfs.run(e, "src", "dst", 1L, maxHops = 4).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bfsL === bfsD)
    val ssspL = graft.operators.Sssp.run(e, "src", "dst", "w", 1L, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ssspD = DriverReplay.distributedOnly(spark) {
      graft.operators.Sssp.run(e, "src", "dst", "w", 1L, rounds = 5).collect()
    }.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ssspL.keySet === ssspD.keySet)
    ssspL.foreach { case (k, v) =>
      assert(java.lang.Double.compare(v, ssspD(k)) === 0, s"dist($k)") }
    val lpaL = graft.operators.Lpa.run(e, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpaD = DriverReplay.distributedOnly(spark) {
      graft.operators.Lpa.run(e, "src", "dst", rounds = 4).collect()
    }.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpaL === lpaD)
  }

  test("Sssp: null weights give the distributed route's distances on the replay") {
    // 4 is reached only over a null-weight edge (present with a null
    // dist); 3 has a weighted route next to a null-weight one; 5 hangs
    // off 4 by a weighted edge (null + w stays null)
    val e = Seq((1L, 2L, Some(1.0)), (2L, 3L, Some(2.0)), (1L, 3L, None),
      (1L, 4L, None), (4L, 5L, Some(1.0)), (2L, 2L, None))
      .toDF("src", "dst", "w")
    def dists = Sssp.run(e, "src", "dst", "w", 1L, rounds = 4)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val before = DriverReplay.runs.get()
    val replay = dists
    assert(DriverReplay.runs.get() === before + 1, "tiny graph must replay")
    val dist = DriverReplay.distributedOnly(spark)(dists)
    assert(replay === dist)
    assert(replay === Map(1L -> Some(0.0), 2L -> Some(1.0), 3L -> Some(3.0),
      4L -> None, 5L -> None))
  }

  test("Lpa: deterministic across runs (fixed rounds, min-label ties)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "d")
    val r1 = Lpa.run(edges, "s", "d", rounds = 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val r2 = Lpa.run(edges, "s", "d", rounds = 3).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(r1 === r2.toSeq)
  }
}
