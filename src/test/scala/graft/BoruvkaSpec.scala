package graft

import graft.operators.{Boruvka, DriverReplay}

/** Borůvka's minimum spanning forest: the exact MST on a hand graph, and
  * the driver replay pinned row-for-row against the distributed rounds.
  */
class BoruvkaSpec extends SparkSpec {
  import spark.implicits._

  test("Boruvka selects the exact MST on a known weighted graph") {
    // MST of this 4-node graph is {(1,2,.1), (3,4,.2), (2,3,.3)}:
    // round 1 picks (1,2) and (3,4), round 2 bridges them with (2,3)
    val edges = Seq(
      (1L, 2L, 0.1), (3L, 4L, 0.2), (2L, 3L, 0.3), (1L, 4L, 0.9), (1L, 3L, 0.8))
      .toDF("a", "b", "w")
    val rows = Boruvka.forestCensus(edges, rounds = 4, jumps = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows(0) == ((1, 2L, 0.3, 2L)), s"round 1: ${rows(0)}")
    assert(rows(1) == ((2, 1L, 0.3, 1L)), s"round 2: ${rows(1)}")
    assert(rows(2) == ((3, 0L, 0.0, 1L)) && rows(3) == ((4, 0L, 0.0, 1L)),
      "fully contracted forest must select nothing further")
    // routing: 5 edges < bound → driver replay; forced rounds agree
    val before = DriverReplay.runs.get()
    val distributed = DriverReplay.distributedOnly(spark) {
      Boruvka.forestCensus(edges, rounds = 4, jumps = 3).collect()
    }.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(DriverReplay.runs.get() == before,
      "replays switched off must never take the driver replay")
    assert(distributed.toSeq == rows.toSeq,
      s"forced-distributed census must equal the driver replay: " +
        s"${distributed.toSeq} vs ${rows.toSeq}")
  }

  test("Boruvka driver replay == distributed rounds on a random graph") {
    // differential pin for the adaptive routing: same census row-for-row,
    // including PARTIAL contraction (jumps = 1 on a chain keeps >1 label
    // per round) and the decimal(38,6) weight arithmetic
    val rnd = new scala.util.Random(421)
    val n = 40
    val edges = (0 until 120).map { _ =>
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b), math.rint(rnd.nextDouble() * 1e6) / 1e6)
    }.filter(t => t._1 != t._2).distinct
      .groupBy(t => (t._1, t._2)).map(_._2.minBy(_._3)).toSeq
      .toDF("a", "b", "w")
    for (jumps <- Seq(1, 3)) {
      val drv = Boruvka.forestCensus(edges, rounds = 5, jumps = jumps)
        .collect().map(_.toSeq).toSeq
      val dist = DriverReplay.distributedOnly(spark) {
        Boruvka.forestCensus(edges, rounds = 5, jumps = jumps).collect()
      }.map(_.toSeq).toSeq
      assert(drv == dist, s"jumps=$jumps: driver $drv vs distributed $dist")
    }
  }
}
