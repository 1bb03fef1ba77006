package graft

import graft.operators.{Bfs, Triangles}

/** Hand-graph ground truths for the traversal operators (BFS hop counts,
  * degree-oriented triangle counting).
  */
class TraversalSpec extends SparkSpec {
  import spark.implicits._

  test("Bfs.run: hop counts on a path; unreachable nodes absent; maxHops caps") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
    val got = Bfs.run(chain, "src", "dst", source = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    val capped = Bfs.run(chain, "src", "dst", source = 1L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // edges are undirected: a chain pointing away from the source is walked
    val back = Seq((4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val und = Bfs.run(back, "src", "dst", source = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(und === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("Triangles.perNode: K3+pendant, K4 closed forms, reverse-dup normalization") {
    // triangle {1,2,3} with pendant 4 — duplicate + reversed edges on purpose
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val got = Triangles.perNode(tri, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // K4: every vertex lies in C(3,2) = 3 of the 4 triangles
    val k4 = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)).toDF("src", "dst")
    val gotK4 = Triangles.perNode(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }
}
