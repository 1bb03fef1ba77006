package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Sampled Brandes betweenness centrality over an edge-list DataFrame —
  * the remaining member of the centrality family (PageRank, HITS,
  * harmonic live in their own operators). Exact all-sources betweenness
  * is Θ(V·E); the standard estimator (Brandes & Pich 2007) runs the
  * two-phase dependency accumulation from a bounded source sample and
  * sums per-source dependencies, so cost is Θ(|sources|·E) with
  * |sources| a caller-owned knob — the same sample-don't-enumerate
  * contract as [[Harmonic]]'s pivot mode.
  *
  * Phase shapes (per level, level-synchronous — NO per-source sequential
  * pass; all sources advance in one frame keyed by (src, node)):
  *  - forward: frontier ⋈ edges (one shuffle) → Σ path counts by
  *    (src, node) → anti-join settled; every round's frame is cut, so the
  *    plan never accretes across rounds and state is O(reached), not
  *    O(V·V).
  *  - backward: for each depth d (deepest → 1), nodes at d−1 pull
  *    successor dependencies through one edge join + hash aggregate.
  *
  * Determinism contract (the q102 decimal-grid scheme): each (u, w)
  * dependency contribution σ_u/σ_w · (1 + δ_w) is computed in DOUBLE
  * (identical IEEE sequence in every engine — including the (1 + δ_w)
  * add, which runs AFTER the decimal δ is cast to double: adding 1 to a
  * DECIMAL(38,15) in Spark overflows to precision 39 and the
  * precision-loss adjustment would HALF_UP-round away δ's 15th digit),
  * rounded HALF_UP at 15 dp, and accumulated as DECIMAL(38,15) — an
  * exact, order-free sum, so the distributed aggregate, the driver-local
  * replay, and a DuckDB oracle agree bit-for-bit. σ values are exact
  * BIGINT path counts.
  *
  * `maxLevels` bounds BFS depth (nodes farther than `maxLevels` from a
  * source contribute nothing for that source — a documented truncation,
  * mirrored by the oracle's unrolled levels).
  *
  * Returns (node, dep): Σ over sources of the node's dependency, as
  * DECIMAL(38,15); node ∉ sources' reach ⇒ absent (callers join +
  * coalesce 0). Edges are read as undirected; the conventional score
  * halves the sum — display arithmetic owned by the caller.
  */
object Betweenness {

  /** Edge bound for the serial driver path ([[DriverReplay]]): same
    * rounded-contribution grid replayed with java.math.BigDecimal, so the
    * collapse to one bounded collect is bit-identical to the distributed
    * loop.
    */
  private val ReplayBound = 100000

  private val Dec15 = DecimalType(38, 15)

  def run(
      edges: DataFrame, srcCol: String, dstCol: String, sources: Seq[Long],
      maxLevels: Int = 8): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    require(maxLevels >= 1, s"maxLevels must be >= 1, got $maxLevels")
    val spark = edges.sparkSession
    import spark.implicits._
    val dir0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))

    DriverReplay.probe(dir0, ReplayBound).foreach { probe =>
      val es = probe.map(r => (r.getLong(0), r.getLong(1)))
      return localRun(spark, es, sources, maxLevels)
    }

    val e = Components.cut(
      dir0.union(dir0.select(col("d").as("s"), col("s").as("d")))
        .filter(col("s") =!= col("d")).distinct())

    // forward: levels(k) = (src, node, sigma) settled at distance k
    val lvl0 = Components.cut(
      sources.toDF("src").select(col("src"), col("src").as("node"), lit(1L).as("sigma")))
    var levels = Vector(lvl0)
    var settled = lvl0
    var frontierSize = 1L
    var k = 1
    while (k <= maxLevels && frontierSize > 0) {
      val nxt = levels.last.join(e, col("node") === col("s"))
        .select(col("src"), col("d").as("node"), col("sigma"))
        .groupBy("src", "node").agg(sum("sigma").as("sigma"))
        .join(settled.select("src", "node"), Seq("src", "node"), "left_anti")
      val (nxtCut, n) = Components.cutCounted(nxt)
      frontierSize = n
      if (n > 0) {
        levels = levels :+ nxtCut
        settled = Components.cut(settled.unionByName(nxtCut))
      }
      k += 1
    }

    // backward: dependency per level, deepest -> 1
    val dec0 = lit(java.math.BigDecimal.ZERO).cast(Dec15)
    var deltaNext = lvl0.select(col("src"), col("node"), dec0.as("delta")).limit(0)
    var bcParts: List[DataFrame] = Nil
    for (j <- (levels.length - 2) to 1 by -1) {
      val w = levels(j + 1)
        .join(deltaNext, Seq("src", "node"), "left")
        .select(col("src").as("wsrc"), col("node").as("wnode"),
          col("sigma").as("wsig"), coalesce(col("delta"), dec0).as("wdelta"))
      val deltaJ = levels(j).join(e, col("node") === col("s"))
        .join(w, col("src") === col("wsrc") && col("d") === col("wnode"))
        .select(col("src"), col("node"),
          round(col("sigma").cast("double") / col("wsig").cast("double")
            * (lit(1.0) + col("wdelta").cast("double")), 15).cast(Dec15).as("c"))
        .groupBy("src", "node").agg(sum(col("c")).cast(Dec15).as("delta"))
      val deltaJC = Components.cut(deltaJ)
      bcParts = deltaJC :: bcParts
      deltaNext = deltaJC
    }

    bcParts match {
      case Nil =>
        lvl0.select(col("node"), dec0.as("dep")).limit(0)
      case parts =>
        parts.reduce(_ unionByName _)
          .groupBy("node").agg(sum(col("delta")).cast(Dec15).as("dep"))
    }
  }

  /** Serial Brandes on a collected edge list, replaying the identical
    * rounded-contribution grid (HALF_UP at 15 dp per (u, w) pair, exact
    * decimal accumulation), so hashes match the distributed loop.
    */
  private def localRun(
      spark: org.apache.spark.sql.SparkSession, es: Array[(Long, Long)],
      sources: Seq[Long], maxLevels: Int): DataFrame = {
    import spark.implicits._
    val adj = new java.util.HashMap[Long, java.util.LinkedHashSet[Long]]()
    def add(a: Long, b: Long): Unit =
      if (a != b) adj.computeIfAbsent(a, _ => new java.util.LinkedHashSet[Long]()).add(b)
    es.foreach { case (s, d) => add(s, d); add(d, s) }

    val mc = java.math.MathContext.UNLIMITED
    val dep = new java.util.HashMap[Long, java.math.BigDecimal]()
    for (src <- sources) {
      // level-synchronous forward pass, capped at maxLevels
      val dist = new java.util.HashMap[Long, Int]()
      val sigma = new java.util.HashMap[Long, Long]()
      var lvls = Vector(Vector(src))
      dist.put(src, 0); sigma.put(src, 1L)
      var frontier = Vector(src)
      var k = 1
      while (k <= maxLevels && frontier.nonEmpty) {
        val nxtSigma = new java.util.LinkedHashMap[Long, Long]()
        frontier.foreach { u =>
          val nbrs = adj.get(u)
          if (nbrs != null) {
            val it = nbrs.iterator()
            while (it.hasNext) {
              val v = it.next()
              if (!dist.containsKey(v))
                nxtSigma.merge(v, sigma.get(u), (a, b) => a + b)
            }
          }
        }
        val nxt = nxtSigma.keySet().toArray(Array.empty[java.lang.Long]).map(_.longValue()).toVector
        nxt.foreach { v => dist.put(v, k); sigma.put(v, nxtSigma.get(v)) }
        if (nxt.nonEmpty) lvls = lvls :+ nxt
        frontier = nxt
        k += 1
      }
      // backward dependency accumulation on the same grid
      val delta = new java.util.HashMap[Long, java.math.BigDecimal]()
      for (j <- (lvls.length - 2) to 1 by -1) {
        lvls(j).foreach { u =>
          var acc = java.math.BigDecimal.ZERO
          var any = false
          val nbrs = adj.get(u)
          if (nbrs != null) {
            val it = nbrs.iterator()
            while (it.hasNext) {
              val w = it.next()
              if (dist.containsKey(w) && dist.get(w) == j + 1) {
                val dw = delta.getOrDefault(w, java.math.BigDecimal.ZERO)
                // (1 + δ) in DOUBLE, matching the distributed path's
                // lit(1.0) + delta.cast(double) IEEE add exactly
                val c = sigma.get(u).toDouble / sigma.get(w).toDouble *
                  (1.0 + dw.doubleValue())
                // Spark's round(double, 15) = valueOf(x).setScale(15,
                // HALF_UP).toDouble, then the decimal cast re-reads that
                // double's shortest repr — replay both hops exactly
                val r = java.math.BigDecimal.valueOf(c)
                  .setScale(15, java.math.RoundingMode.HALF_UP).doubleValue()
                acc = acc.add(java.math.BigDecimal.valueOf(r)
                  .setScale(15, java.math.RoundingMode.HALF_UP), mc)
                any = true
              }
            }
          }
          if (any) {
            delta.put(u, acc)
            dep.merge(u, acc, (a, b) => a.add(b, mc))
          }
        }
      }
    }
    val rows = {
      import scala.jdk.CollectionConverters._
      dep.asScala.toSeq.map { case (k, v) => (k, scala.math.BigDecimal(v)) }
    }
    rows.toDF("node", "dep")
      .select(col("node"), col("dep").cast(Dec15).as("dep"))
  }
}
