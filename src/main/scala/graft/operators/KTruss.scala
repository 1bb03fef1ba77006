package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** k-truss decomposition by synchronous support peeling: repeatedly
  * remove every edge participating in fewer than k−2 triangles, until
  * none remains — the surviving edges form the k-truss (Cohen 2008),
  * the EDGE-density cohesion measure next to [[KCore]]'s degree one (a
  * 3-truss edge needs one triangle; hanging tendrils that survive a
  * 2-core never survive a truss).
  *
  * Per round: edge support by the triangle wedge join — edge (u,v)
  * joined to the bidirectional neighbor list on BOTH endpoints, common
  * neighbor = equal third node, so the cost is Σ deg² (the [[Triangles]]
  * budget), never |E|²; then one filter + anti join. Same bounded-rounds
  * contract as [[KCore]]/[[Sssp]]: `maxRounds` caps the loop, early exit
  * on the first round removing nothing, peeling is monotone so a serial
  * replay unrolled to ≥ the convergence depth matches exactly. Per-round
  * lineage cut via [[Components.cutCounted]] (the count doubles as the
  * termination scalar).
  */
object KTruss {

  /** Edge bound for the serial driver path ([[DriverReplay]]): integer
    * triangle counts, round-synchronous peel — the serial replay is
    * bit-identical.
    */
  private val ReplayBound = 100000

  /** Peel `und` (undirected edges, uCol < vCol, deduplicated) for the
    * k-truss. Output: (u, v, peel_round) — 1-based round at which the
    * edge was removed, 0 for k-truss members.
    */
  def run(und: DataFrame, k: Int, uCol: String = "u", vCol: String = "v",
      maxRounds: Int = 8): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val minSupport = k - 2
    var edges = und.select(col(uCol).as("u"), col(vCol).as("v"))

    DriverReplay.probe(edges, ReplayBound).foreach { probe =>
      var es = probe.map(r => (r.get(0), r.get(1))).toSeq
      val peel = scala.collection.mutable.Map.empty[(Any, Any), Int]
      var round = 0
      var done = false
      while (round < maxRounds && !done) {
        round += 1
        val nbrs: Map[Any, Set[Any]] =
          (es.map(e => (e._1, e._2)) ++ es.map(e => (e._2, e._1)))
            .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
        val toRemove = es.filter { case (u, v) =>
          nbrs(u).intersect(nbrs(v)).size < minSupport
        }
        if (toRemove.isEmpty) done = true
        else {
          val r = round
          val rm = toRemove.toSet
          toRemove.foreach(e => peel(e) = r)
          es = es.filterNot(rm)
        }
      }
      val t =
        if (probe.isEmpty) (LongType, LongType)
        else (probe.head.schema.fields(0).dataType, probe.head.schema.fields(1).dataType)
      val schema = StructType(Seq(StructField("u", t._1), StructField("v", t._2),
        StructField("peel_round", IntegerType, nullable = false)))
      val rows = (es.map { case (u, v) => Row(u, v, 0) } ++
        peel.toSeq.map { case ((u, v), r) => Row(u, v, r) })
      return und.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
    var removed: DataFrame = null
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val nb = edges.select(col("u").as("node"), col("v").as("nbr"))
        .unionByName(edges.select(col("v").as("node"), col("u").as("nbr")))
      val support = edges
        .join(nb.select(col("node").as("u"), col("nbr").as("w1")), Seq("u"))
        .join(nb.select(col("node").as("v"), col("nbr").as("w2")), Seq("v"))
        .filter(col("w1") === col("w2"))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      val withSupport = edges
        .join(support, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          coalesce(col("support"), lit(0L)).as("support"))
      val (toRemove, nRemoved) = Components.cutCounted(
        withSupport.filter(col("support") < minSupport)
          .select(col("u"), col("v")).withColumn("peel_round", lit(round)))
      if (nRemoved == 0) done = true
      else {
        removed =
          if (removed == null) toRemove
          else removed.unionByName(toRemove)
        edges = Components.cut(
          edges.join(toRemove.select("u", "v"), Seq("u", "v"), "left_anti"))
      }
    }
    val survivors = edges.withColumn("peel_round", lit(0))
    val peeled =
      if (removed == null) survivors.filter(lit(false))
      else removed.select("u", "v", "peel_round")
    survivors.select("u", "v", "peel_round").unionByName(peeled)
  }
}
