package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

/** Harmonic centrality by data-parallel multi-source BFS: every node is
  * simultaneously a BFS source, the frontier is a (src, node) pair set,
  * and h(u) = Σ_{v ≠ u, reachable} 1/d(u, v) — the closeness variant
  * that handles disconnected graphs gracefully (unreachable pairs
  * contribute 0 instead of poisoning the mean; Boldi & Vigna 2014 argue
  * it is the axiomatically sound choice).
  *
  * Scale contract: the visited state is the REACHABLE PAIR set — Θ(V²)
  * on a connected graph. This is inherent to exact all-sources
  * centrality, not an implementation artifact; the operator targets
  * contracted/analytics graphs (the ≤ |nations|² trade net, cluster
  * summaries), and for corpus-scale graphs the standard move is to run
  * the same frontier loop from a SAMPLED source set (the
  * pivot/HyperBall family) — the estimator mode past `maxExactNodes`.
  * Per round: one join frontier⋈neighbors, one distinct, one anti join
  * against visited — all key-partitioned; per-round lineage cut via
  * [[Components.cutCounted]], whose count is the termination scalar
  * (the Bfs contract). Rounds are bounded by `maxHops` with early exit,
  * so a serial replay bounded at the same depth matches exactly.
  */
object Harmonic {

  /** Node-count bound above which an implicit all-sources run switches to
    * the sampled-pivot estimator — exact Θ(V²) pair state must be an
    * EXPLICIT choice (raise `maxExactNodes`) on large graphs, never the
    * silent default.
    */
  val MaxExactNodes = 4096L

  /** Pivot count for the sampled estimator (Eppstein–Wang / pivot family:
    * ĥ(v) = ((n−1)/m)·Σ_{p∈S} 1/d(p,v), error O(1/√m) relative to the
    * node count).
    */
  val SamplePivots = 256

  /** Edge bound for the serial driver path ([[DriverReplay]]): integer
    * BFS layers plus a serial replay of the fixed-point 1/d quantization
    * ([[graft.expressions.FixedPointSumAgg]] at scale 15) and the
    * round-12 finish — bit-identical to the distributed aggregate.
    * Applies to the exact mode; the pivot-ESTIMATOR mode stays
    * distributed (its xxhash64 source sampling is plan-side).
    */
  private val ReplayBound = 100000

  /** (node, n_reached, harmonic) per source node, harmonic rounded at
    * 12 dp from fixed-point 1/d sums. `und`: undirected edges (uCol <
    * vCol, deduplicated). Every node is a BFS source when
    * |V| ≤ `maxExactNodes`; otherwise the deterministic sampled-pivot
    * ESTIMATOR runs (BFS from the `SamplePivots` nodes with smallest
    * xxhash64, per-node estimate scaled by (n−1)/m over distances TO the
    * pivots — exact d(p,v) by undirected symmetry; n_reached = pivots
    * reaching v).
    */
  def run(und: DataFrame, uCol: String = "u", vCol: String = "v",
      maxHops: Int = 8, maxExactNodes: Long = MaxExactNodes): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")

    DriverReplay.probe(und.select(col(uCol), col(vCol)), ReplayBound).foreach { probe =>
      val es = probe.map(r => (r.get(0), r.get(1)))
      val nodes: Array[Any] = (es.map(_._1) ++ es.map(_._2)).distinct
      // past maxExactNodes: pivot-estimator mode, distributed path below
      if (nodes.length <= maxExactNodes)
        return runLocal(und.sparkSession, es, nodes, maxHops,
          if (probe.isEmpty) StringType else probe.head.schema.fields(0).dataType)
    }

    val nb = und.select(col(uCol).as("node"), col(vCol).as("nbr"))
      .unionByName(und.select(col(vCol).as("node"), col(uCol).as("nbr")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val allNodes = nb.select("node").distinct()
    val nCount = allNodes.count()
    val estimate = nCount > maxExactNodes
    val srcs =
      if (!estimate) allNodes
      // deterministic pivots: the m smallest (hash, node) — seeded by
      // the hash function itself, stable across runs and partitions
      else allNodes.orderBy(xxhash64(col("node")), col("node")).limit(SamplePivots)
    var visited = Components.cut(
      srcs.select(col("node").as("src"), col("node"), lit(0).as("dist")))
    var frontier = visited
    var hop = 0
    var done = false
    try {
      while (hop < maxHops && !done) {
        hop += 1
        val (next, n) = Components.cutCounted(
          frontier.join(nb, "node")
            .select(col("src"), col("nbr").as("node"), lit(hop).as("dist"))
            .distinct()
            .join(visited.select("src", "node"), Seq("src", "node"), "left_anti"))
        if (n == 0) done = true
        else {
          visited = Components.cut(visited.unionByName(next))
          frontier = next
        }
      }
      if (estimate) {
        // pivot estimator: aggregate by DESTINATION — d(p,v) = d(v,p) on
        // an undirected graph — and scale by (n−1)/m
        val scale = (nCount - 1).toDouble / SamplePivots.toDouble
        visited
          .filter(col("dist") > 0)
          .groupBy(col("node"))
          .agg(
            count(lit(1)).as("n_reached"),
            round(lit(scale) * graft.functions.Exact.sumFx(
              lit(1.0) / col("dist").cast("double"), 15), 12).as("harmonic"))
      } else
        visited
          .filter(col("dist") > 0)
          .groupBy(col("src").as("node"))
          .agg(
            count(lit(1)).as("n_reached"),
            round(graft.functions.Exact.sumFx(
              lit(1.0) / col("dist").cast("double"), 15), 12).as("harmonic"))
    } finally {
      nb.unpersist()
    }
  }

  // ---- driver-local exact replay --------------------------------------

  /** Serial per-source BFS + the exact fixed-point 1/d sum: each value
    * quantizes as floor(x·10¹⁵ + 0.5) (half away from zero), sums as an
    * exact integer, converts back via BigInteger.doubleValue / 1e15 and
    * rounds at 12 — the identical sequence FixedPointSumAgg + round
    * execute in the distributed aggregate.
    */
  private def runLocal(
      spark: org.apache.spark.sql.SparkSession,
      es: Array[(Any, Any)], nodes: Array[Any], maxHops: Int,
      nodeType: DataType): DataFrame = {
    val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    def add(a: Any, b: Any): Unit =
      adj.computeIfAbsent(a, _ => new java.util.ArrayList[Any]()).add(b)
    es.foreach { case (u, v) => add(u, v); add(v, u) }

    val pow = math.pow(10.0, 15)
    def quant(x: Double): java.math.BigInteger = {
      val y = x * pow
      val r = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
      new java.math.BigDecimal(r).toBigInteger
    }
    def rnd12(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)
        .doubleValue()

    val out = nodes.iterator.map { src =>
      val dist = new java.util.HashMap[Any, Int]()
      dist.put(src, 0)
      var frontier = List[Any](src)
      var hop = 0
      while (frontier.nonEmpty && hop < maxHops) {
        hop += 1
        val next = scala.collection.mutable.ListBuffer.empty[Any]
        frontier.foreach { u =>
          val ns = adj.get(u)
          if (ns != null) {
            val it = ns.iterator()
            while (it.hasNext) {
              val v = it.next()
              if (!dist.containsKey(v)) { dist.put(v, hop); next += v }
            }
          }
        }
        frontier = next.toList
      }
      var acc = java.math.BigInteger.ZERO
      var reached = 0L
      val it = dist.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > 0) {
          reached += 1
          acc = acc.add(quant(1.0 / e.getValue.toDouble))
        }
      }
      (src, reached, rnd12(acc.doubleValue() / pow))
    }.filter(_._2 > 0).toSeq // sources reaching nothing carry no dist>0 rows

    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("n_reached", LongType, nullable = false), StructField("harmonic", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(out.map(t => Row(t._1, t._2, t._3)): _*), schema)
  }
}
