package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.,
  * "Near linear time algorithm to detect community structures in
  * large-scale networks", 2007) made fully deterministic: every node
  * starts as its own label; each round, every node adopts the most
  * frequent label among its NEIGHBORS, ties broken by smallest label;
  * isolated nodes keep their label. A fixed round count is the contract
  * (async/random-order LPA converges faster but is run-dependent — useless
  * under a differential oracle and irreproducible across cluster runs).
  *
  * Scale shape per round: labels ⋈ adjacency (ONE shuffle on the node
  * key), a (node, neighbor-label) count aggregate, and an argmax window
  * PARTITIONED BY node — state per window partition is one node's distinct
  * neighbor labels (≤ degree), never a global sort. All arithmetic is
  * integer, so the oracle replays the identical recurrence as unrolled
  * CTEs with a `row_number` argmax. Lineage is cut per round
  * ([[Components.cut]]), same as [[PageRank]]/[[Sssp]].
  *
  * Versus [[Components.connectedComponents]]: components answer "is there
  * any path"; LPA's majority dynamics split dense regions joined by thin
  * bridges — the community structure dedup clusters and similarity graphs
  * actually care about.
  */
object Lpa {

  /** Edge bound for the serial driver path ([[DriverReplay]]):
    * all-integer argmax with the identical (count desc, label asc)
    * tie-break, so the serial replay is bit-identical.
    */
  private val ReplayBound = 100000

  /** (node, label) after `rounds` synchronous updates over the undirected
    * simple graph induced by `edges` (self-loops dropped, duplicates
    * collapsed).
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))

    DriverReplay.probe(e0, ReplayBound).foreach { probe =>
      val raw = probe.map(r => (r.getLong(0), r.getLong(1)))
      val und = (raw ++ raw.map(t => (t._2, t._1))).filter(t => t._1 != t._2).distinct
      val nbrs: Map[Long, Seq[Long]] =
        und.groupBy(_._2).map { case (d, es) => d -> es.map(_._1).toSeq }
      val nodes = und.map(_._1).distinct
      var labels = nodes.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        val prev = labels
        labels = nodes.map { v =>
          val counts: Map[Long, Int] =
            nbrs.getOrElse(v, Seq.empty).groupBy(prev).map { case (l, xs) => (l, xs.size) }
          if (counts.isEmpty) v -> prev(v)
          else v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      return edges.sparkSession.createDataFrame(labels.toSeq).toDF("node", "label")
    }
    val adj = e0.union(e0.select(col("d").as("s"), col("s").as("d")))
      .filter(col("s") =!= col("d"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = adj.select(col("s").as("node")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var labels = Components.cut(nodes.withColumn("label", col("node")))
    val byNode = Window.partitionBy("node")
      .orderBy(col("cnt").desc, col("nbr_label").asc)
    for (_ <- 1 to rounds) {
      val winner = labels.join(adj, labels("node") === adj("s"))
        .select(col("d").as("node"), col("label").as("nbr_label"))
        .groupBy("node", "nbr_label").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(byNode))
        .filter(col("rk") === 1)
        .select(col("node"), col("nbr_label").as("new_label"))
      labels = Components.cut(
        labels.join(winner, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("label")).as("label")))
    }
    adj.unpersist()
    nodes.unpersist()
    labels
  }
}
