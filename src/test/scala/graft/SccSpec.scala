package graft

import graft.operators.Scc

/** FW-BW strongly connected components: hand structures + a serial
  * closure differential on seeded random digraphs.
  */
class SccSpec extends SparkSpec {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], replay: Boolean = true): Map[Long, Long] = {
    def rows = Scc.run(edges.toDF("src", "dst"), "src", "dst").collect()
    (if (replay) rows else graft.operators.DriverReplay.distributedOnly(spark)(rows))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Ground truth: boolean transitive closure, scc_id = min mutual. */
  private def sccByClosure(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    edges.foreach { case (a, b) => if (a != b) reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    nodes.map { u =>
      val i = idx(u)
      u -> nodes.filter(v => v == u || (reach(i)(idx(v)) && reach(idx(v))(i))).min
    }.toMap
  }

  test("two 2-cycles joined by a one-way bridge stay separate SCCs (both paths)") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)
    assert(run(edges) === expected)
    // replays off forces the distributed FW-BW rounds end-to-end
    assert(run(edges, replay = false) === expected)
  }

  test("a DAG is all singleton SCCs; a full cycle is one SCC") {
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L))) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 1L))) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("distributed rounds settle a remainder without internal edges as singletons") {
    // a DAG: after the first pivot round no remainder partition keeps an
    // internal edge, so the forced rounds must finish it without Tarjan
    val before = graft.operators.DriverReplay.runs.get()
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), replay = false) ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    // self-loops only: no edge survives, the very first remainder is empty
    assert(run(Seq((5L, 5L)), replay = false) === Map.empty)
    assert(graft.operators.DriverReplay.runs.get() === before)
  }

  test("nested cycles with a shared node collapse into one SCC") {
    // 1->2->3->1 and 3->4->3: node 3 bridges both cycles mutually
    val got = run(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 3L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("matches serial closure ground truth on seeded random digraphs (both paths)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 12
      val edges = (0 until 30)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val expected = sccByClosure(edges)
      assert(run(edges) === expected, s"trial $trial (driver): $edges")
      if (trial == 1) // one distributed end-to-end differential is enough
        assert(run(edges, replay = false) === expected, s"trial $trial (dist): $edges")
    }
  }
}
