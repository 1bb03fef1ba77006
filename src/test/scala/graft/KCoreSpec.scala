package graft

import graft.operators.KCore

/** [[graft.operators.KCore]] and [[graft.operators.KTruss]] synchronous
  * peeling. */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def runMap(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] =
    KCore.run(edges.toDF("u", "v"), k).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("triangle with a pendant path peels outside-in at k=2") {
    // 1-2-3 triangle; path 3-4-5: 5 peels r1, 4 peels r2; triangle survives
    val m = runMap(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)), 2)
    assert(m === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 2, 5L -> 1))
  }

  test("star center is peeled AFTER its leaves, not lost") {
    // center 9 has degree 3 ≥ k; leaves peel r1 stranding it at deg 0 → r2
    val m = runMap(Seq((1L, 9L), (2L, 9L), (3L, 9L)), 2)
    assert(m === Map(1L -> 1, 2L -> 1, 3L -> 1, 9L -> 2))
  }

  test("K4 survives k=3; K4 minus an edge dissolves in two rounds") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(runMap(k4, 3).values.forall(_ == 0))
    // drop (1,4): 1 and 4 at deg 2 peel r1; 2 and 3 drop to deg 1 → r2
    val m = runMap(k4.filterNot(_ == ((1L, 4L))), 3)
    assert(m === Map(1L -> 1, 4L -> 1, 2L -> 2, 3L -> 2))
  }

  test("maxRounds caps the peel and the remainder is reported as core") {
    // path 1-2-3-4-5 at k=2 needs 2 rounds to fully dissolve; cap at 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val capped = KCore.run(edges.toDF("u", "v"), 2, maxRounds = 1).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped === Map(1L -> 1, 5L -> 1, 2L -> 0, 3L -> 0, 4L -> 0))
    val full = runMap(edges, 2)
    assert(full.values.forall(_ > 0)) // no 2-core in a path
  }
  private def trussMap(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Int] =
    graft.operators.KTruss.run(edges.toDF("u", "v"), k).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

  test("KCore/KTruss: distributed paths are bit-identical to the driver-local paths") {
    // two triangles over a bridge + a pendant tail: exercises multi-round
    // peels in both decompositions
    val es = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L), (6L, 7L))
    val coreL = runMap(es, 2)
    val coreD = graft.operators.DriverReplay.distributedOnly(spark) {
      KCore.run(es.toDF("u", "v"), 2).collect()
    }.map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(coreL === coreD)
    val trussL = trussMap(es, 3)
    val trussD = graft.operators.DriverReplay.distributedOnly(spark) {
      graft.operators.KTruss.run(es.toDF("u", "v"), 3).collect()
    }.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(trussL === trussD)
  }

  test("k-truss: triangle with a tail — the tail edge peels, the triangle survives k=3") {
    val m = trussMap(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)), 3)
    assert(m((3L, 4L)) === 1)
    assert(m((1L, 2L)) === 0 && m((1L, 3L)) === 0 && m((2L, 3L)) === 0)
  }

  test("k-truss: cascade — losing one triangle edge dissolves the dependent one") {
    // two triangles sharing edge (2,3): 123 and 234, plus tail 4-5.
    // k=4 (support >= 2): only (2,3) has support 2; all others 1 -> round 1
    // removes them, (2,3) drops to 0 -> round 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val m = trussMap(edges, 4)
    assert(m((2L, 3L)) === 2, m.toString)
    assert(m((4L, 5L)) === 1)
    assert(m((1L, 2L)) === 1 && m((3L, 4L)) === 1)
    // K5 survives k=4 (every edge in 3 triangles)
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    assert(trussMap(k5, 4).values.forall(_ === 0))
  }
}
