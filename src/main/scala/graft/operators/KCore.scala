package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** k-core decomposition by synchronous peeling: repeatedly remove every
  * node with degree < k (together with its edges) until none remains; the
  * survivors are the k-core. Each round is ONE degree aggregate + an
  * outer join to the live-node set + two anti joins on the edge list —
  * the standard data-parallel formulation (Batagelj & Zaveršnik 2003
  * give the sequential O(E) peel; the round-synchronous form trades a
  * log-depth number of rounds for full parallelism within each).
  *
  * The live-node set is tracked explicitly: a node whose last neighbor
  * is peeled drops to degree 0 and must itself be peeled in a LATER
  * round — reading degrees off the edge list alone would silently lose
  * it (a star's center must peel one round after its leaves, not vanish).
  *
  * Same bounded-rounds contract as [[Sssp]]: `maxRounds` caps the loop,
  * the loop exits EARLY at the first round that removes nothing, and the
  * peel is monotone — once the fixpoint is reached further rounds are
  * no-ops, so any serial replay unrolled to ≥ the convergence depth
  * produces identical labels. Per-round lineage is cut via
  * [[Components.cutCounted]], whose count doubles as the termination
  * scalar (no extra isEmpty job).
  */
object KCore {

  /** Edge bound for the serial driver path ([[DriverReplay]]): the peel
    * is all-integer and round-synchronous, so the serial replay is
    * bit-identical.
    */
  private val ReplayBound = 100000

  /** Peel `und` (undirected edges, one row per edge, uCol < vCol, no
    * duplicates) for the k-core. Output: (node, peel_round) — the
    * 1-based round at which the node was removed, or 0 for k-core
    * members. Nodes isolated in the INPUT never appear (they carry no
    * edge); nodes isolated BY peeling are peeled like any other.
    */
  def run(und: DataFrame, k: Int, uCol: String = "u", vCol: String = "v",
      maxRounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var edges = und.select(col(uCol).as("u"), col(vCol).as("v"))

    DriverReplay.probe(edges, ReplayBound).foreach { probe =>
      var es = probe.map(r => (r.get(0), r.get(1))).toSeq
      var live = (es.map(_._1) ++ es.map(_._2)).distinct.toSet
      val peel = scala.collection.mutable.Map.empty[Any, Int]
      var round = 0
      var done = false
      while (round < maxRounds && !done) {
        round += 1
        val deg = (es.map(_._1) ++ es.map(_._2)).groupBy(identity)
          .map { case (n, xs) => n -> xs.size }
        val toRemove = live.filter(n => deg.getOrElse(n, 0) < k)
        if (toRemove.isEmpty) done = true
        else {
          val r = round
          toRemove.foreach(n => peel(n) = r)
          live --= toRemove
          es = es.filter(e => !toRemove(e._1) && !toRemove(e._2))
        }
      }
      val nodeType = if (probe.isEmpty) LongType else probe.head.schema.fields(0).dataType
      val schema = StructType(Seq(StructField("node", nodeType),
        StructField("peel_round", IntegerType, nullable = false)))
      val rows = (live.toSeq.map(n => Row(n, 0)) ++
        peel.toSeq.map { case (n, r) => Row(n, r) })
      return und.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    var live = Components.cut(
      edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .distinct())
    var removed: DataFrame = null
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val deg = edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val (toRemove, nRemoved) = Components.cutCounted(
        live.join(deg, Seq("node"), "left")
          .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"))
          .filter(col("deg") < k)
          .withColumn("peel_round", lit(round)))
      if (nRemoved == 0) done = true
      else {
        removed =
          if (removed == null) toRemove
          else removed.unionByName(toRemove)
        val rm = toRemove.select("node")
        live = Components.cut(live.join(rm, Seq("node"), "left_anti"))
        edges = Components.cut(
          edges
            .join(rm.withColumnRenamed("node", "u"), Seq("u"), "left_anti")
            .join(rm.withColumnRenamed("node", "v"), Seq("v"), "left_anti")
            .select("u", "v"))
      }
    }
    val survivors = live.withColumn("peel_round", lit(0))
    val peeled =
      if (removed == null) survivors.filter(lit(false))
      else removed.select("node", "peel_round")
    survivors.select("node", "peel_round").unionByName(peeled)
  }
}
