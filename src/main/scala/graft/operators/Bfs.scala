package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source BFS (hop counts) over an edge-list DataFrame — the
  * frontier-expansion form of Pregel BFS: each round joins the current
  * frontier against the adjacency list (one shuffle on the node key),
  * anti-joins out already-visited nodes, and stamps the new nodes with the
  * round number. Termination is data-driven (empty frontier), not
  * fixed-round: the loop runs diameter-many rounds, each a bounded
  * driver scalar (`count` of the new frontier) — never per-node driver
  * state.
  *
  * Scale shape: per round ONE join (frontier ⋈ edges; the frontier is the
  * small side and AQE broadcasts it while it fits) + one distinct + one
  * anti-join against the visited set (shuffle on node). Every round's
  * frontier is cut through [[Components.cut]], so the plan tree never
  * accretes across rounds; the visited set is a lazy union of
  * ALREADY-MATERIALIZED per-round frames, which keeps each round's write
  * O(frontier), not O(visited).
  *
  * `maxHops` is a safety contract, not a tuning knob: nodes farther than
  * `maxHops` from the source are reported as unreachable (use diameter
  * bounds you can defend; the default 64 exceeds any social/similarity
  * graph's diameter).
  */
object Bfs {

  /** Edge bound for the serial driver path ([[DriverReplay]]): hop counts
    * are integers, so the serial replay is trivially bit-identical, and
    * O(diameter) scheduled rounds collapse to one bounded collect on
    * aggregate-sized graphs.
    */
  private val ReplayBound = 100000

  /** (node, hop) for every node reachable from `source` within `maxHops`
    * over the edges read as undirected, hop = BFS distance (source itself
    * at hop 0).
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String, source: Long,
      maxHops: Int = 64): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val spark = edges.sparkSession
    val e0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))

    DriverReplay.probe(e0, ReplayBound).foreach { probe =>
      val es = probe.map(r => (r.getLong(0), r.getLong(1)))
      val adjM = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
      def add(a: Long, b: Long): Unit =
        if (a != b) adjM.computeIfAbsent(a, _ => new java.util.ArrayList[Long]()).add(b)
      es.foreach { case (s, d) => add(s, d); add(d, s) }
      val hops = new java.util.HashMap[Long, Long]()
      hops.put(source, 0L)
      var frontier = List(source)
      var hop = 0L
      while (frontier.nonEmpty && hop < maxHops) {
        hop += 1
        val next = scala.collection.mutable.ListBuffer.empty[Long]
        frontier.foreach { u =>
          val nbrs = adjM.get(u)
          if (nbrs != null) {
            val it = nbrs.iterator()
            while (it.hasNext) {
              val v = it.next()
              if (!hops.containsKey(v)) { hops.put(v, hop); next += v }
            }
          }
        }
        frontier = next.toList
      }
      val rows = scala.jdk.CollectionConverters.MapHasAsScala(hops).asScala
        .toSeq.map { case (n, h) => (n, h) }
      return spark.createDataFrame(rows).toDF("node", "hop")
    }
    val adj = e0.union(e0.select(col("d").as("s"), col("s").as("d")))
      .filter(col("s") =!= col("d"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seed = Components.cut(
      spark.createDataFrame(Seq(Tuple2(source, 0L))).toDF("node", "hop"))
    var visited = seed // lazy union of cut frames — each already materialized
    var frontier = seed
    var hop = 0L
    var expanding = true
    while (expanding && hop < maxHops) {
      hop += 1
      // the cut's materialization count doubles as the termination probe —
      // no separate isEmpty job per round
      val (next, n) = Components.cutCounted(
        frontier.join(adj, frontier("node") === adj("s"))
          .select(col("d").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("hop", lit(hop)))
      if (n == 0) expanding = false
      else {
        visited = visited.unionByName(next)
        frontier = next
      }
    }
    adj.unpersist() // frames are materialized cuts; nothing recomputes adj
    visited
  }
}
