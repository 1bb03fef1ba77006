package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-source shortest paths over a WEIGHTED edge list — Bellman–Ford
  * as a fixed number of relaxation rounds, each ONE join (current distance
  * table ⋈ adjacency, shuffle on the node key) + ONE min-aggregate. After
  * round k the table holds the exact minimum-weight path using ≤ k edges —
  * the same invariant a serial Bellman–Ford maintains — so a differential
  * oracle can replay the recurrence round by round (the
  * [[PageRank]]/unrolled-CTE scheme) and match bit-for-bit: relaxation
  * additions happen in path order (deterministic IEEE sequence per path)
  * and `min` is order-free, so no decimal re-summing is needed beyond
  * pre-rounded edge weights.
  *
  * `rounds` is a CONTRACT, not a convergence heuristic: both engines stop
  * after the same k, so they agree even on graphs whose diameter exceeds
  * it (distances then mean "best path within k hops" on both sides). Use a
  * diameter bound you can defend, exactly like [[Bfs.run]]'s `maxHops`.
  *
  * Scale shape: the distance table is ≤ |V| rows; each round shuffles
  * O(|E| + |V|) rows. Per-round lineage cut through [[Components.cut]]
  * keeps the plan tree flat across rounds (uncut, each round re-executes
  * the whole prefix). Negative weights are rejected: with them, "best
  * within k hops" is still well-defined, but similarity/latency graphs —
  * the intended domain — never carry them, and refusing is cheaper than
  * reasoning about negative cycles.
  */
object Sssp {

  /** Edge bound for the serial driver path ([[DriverReplay]]). The serial
    * replay is round-synchronous Bellman–Ford with the identical IEEE adds
    * and order-free mins, so it is bit-identical to the distributed
    * rounds.
    */
  private val ReplayBound = 100000

  /** (node, dist) for every node reachable from `source` within `rounds`
    * edges, read as undirected; dist = exact min-weight path (source at
    * 0.0). Unreachable
    * nodes are absent. A null weight is an unknown length: `min` skips it
    * like SQL's aggregate does, so a node reached only over null-weight
    * edges is present with a null dist.
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      source: Long, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    val e0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"),
      // in-plan guard, not an extra validation pass: the first negative
      // weight fails the job the moment the scan reaches it
      when(col(weightCol) < 0, raise_error(
        concat(lit("Sssp requires non-negative weights, got "), col(weightCol))))
        .otherwise(col(weightCol)).cast("double").as("w"))

    DriverReplay.probe(e0, ReplayBound).foreach { probe =>
      // SQL min: nulls skipped, null only when every value is null
      def minOpt(a: Option[Double], b: Option[Double]): Option[Double] =
        (a ++ b).reduceOption((x: Double, y: Double) => math.min(x, y))
      val raw = probe.map(r =>
        (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      val both = raw ++ raw.map(t => (t._2, t._1, t._3))
      // parallel edges: keep the lightest (min is order-free)
      val adjM = scala.collection.mutable.Map.empty[(Long, Long), Option[Double]]
      both.foreach { case (s, d, w) =>
        if (s != d) adjM((s, d)) = adjM.get((s, d)).fold(w)(minOpt(_, w))
      }
      val edgesBySrc = adjM.toSeq.map { case ((s, d), w) => (s, d, w) }.groupBy(_._1)
      var dist = Map[Long, Option[Double]](source -> Some(0.0))
      for (_ <- 1 to rounds) {
        // round-SYNCHRONOUS: relaxations read the previous round's table
        val next = scala.collection.mutable.Map.from(dist)
        dist.foreach { case (u, du) =>
          edgesBySrc.getOrElse(u, Nil).foreach { case (_, v, w) =>
            val cand = for (a <- du; b <- w) yield a + b
            next(v) = next.get(v).fold(cand)(minOpt(_, cand))
          }
        }
        dist = next.toMap
      }
      return spark.createDataFrame(dist.toSeq).toDF("node", "dist")
    }
    val adj = e0.union(e0.select(col("d").as("s"), col("s").as("d"), col("w")))
      .filter(col("s") =!= col("d"))
      // parallel edges: only the lightest can ever win a relaxation
      .groupBy("s", "d").agg(min(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var dist = Components.cut(
      spark.createDataFrame(Seq(Tuple2(source, 0.0))).toDF("node", "dist"))
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(adj, dist("node") === adj("s"))
        .select(col("d").as("node"), (col("dist") + col("w")).as("dist"))
      dist = Components.cut(
        dist.unionByName(relaxed).groupBy("node").agg(min(col("dist")).as("dist")))
    }
    adj.unpersist()
    dist
  }
}
