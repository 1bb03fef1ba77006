package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, StructField, StructType}

/** Distributed weighted PageRank over an edge-list DataFrame.
  *
  * Power iteration in its join-aggregate form: each round ships every
  * node's rank across its out-edges (one shuffle join on `src`), sums the
  * arriving contributions per destination (one hash aggregate on `dst`),
  * folds the dangling-node mass back uniformly, and applies damping.
  * Ranks sum to 1 every round (the dangling fold preserves probability
  * mass), so downstream consumers can treat the output as a stationary
  * distribution estimate.
  *
  * Scale shape (the 1000-executor story):
  *  - Per round: ONE shuffle join (ranks ⋈ edges on src — both sides hash
  *    on the same key, and AQE picks broadcast automatically when the rank
  *    table is small) + ONE aggregate (contributions by dst) + one tiny
  *    anti-join aggregate for the dangling mass, kept in-plan via a
  *    broadcast crossJoin — the driver never sees per-node data.
  *  - Out-degree normalization is precomputed ONCE outside the loop;
  *    iterations reuse the cached normalized edge list.
  *  - Lineage is cut through [[Components.cut]] EVERY round (the round
  *    plan reads the previous ranks three times, so an uncut plan tree
  *    grows 3^k and the driver, not the data, becomes the bottleneck).
  *
  * Float determinism (the differential-testing contract, same as
  * q102/q103): every per-edge contribution is one fixed double expression
  * rounded to 15 dp and accumulated as DECIMAL(38,15) — associative, so
  * partition order can't change the sum — and each round's rank rounds to
  * 12 dp. An engine replaying the same recurrence serially (the DuckDB
  * oracle unrolls it as chained CTEs) reproduces the ranks bit-for-bit.
  *
  * Reference scope: the reference engine has no graph operator; this is
  * part of the §2 extension surface (training-data curation uses PageRank
  * for in-corpus document authority weighting, e.g. over hyperlink or
  * citation graphs).
  */
object PageRank {

  /** Edge-count bound below which the recurrence runs serially on the
    * driver ([[DriverReplay]]): one bounded collect replaces
    * O(iterations) scheduled jobs for aggregate-sized graphs, with the
    * serial path replaying the distributed BigDecimal round/cast sequence
    * bit-for-bit (pinned by PageRankSpec's differential test and the
    * q108/q156 oracles).
    */
  private val ReplayBound = 100000

  /** Ranks for every node of `edges` (`node`, `rank`), rank summing to 1.
    *
    * @param edges      edge list; `srcCol`/`dstCol` any orderable type,
    *                   `weightCol` non-negative (None ⇒ unweighted)
    * @param iterations fixed power-iteration rounds (no convergence test:
    *                   deterministic output shape for differential replay;
    *                   ‖r_k − r*‖₁ decays as damping^k, so 10–20 rounds is
    *                   the standard operating range)
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")

    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    // persist the input projection FIRST: the node census and the
    // normalization below both read it, and an unpersisted `edges` lineage
    // (e.g. a fact-fact join feeding this operator) would execute twice
    // — the same entry contract Hits.run already had
    val eSel = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))

    DriverReplay.probe(eSel, ReplayBound).foreach { probe =>
      return runLocal(edges.sparkSession, probe, iterations, damping, None)
    }

    val e = eSel
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one scalar on the driver (partition-count-sized job, not data-sized);
    // every per-node use below stays in-plan
    val n = nodes.count().toDouble

    // normalized out-edge fractions, computed once and reused every round.
    // frac is a single double divide of two fixed values — deterministic.
    val outW = e.groupBy(col("src").as("node"))
      .agg(sum(col("w").cast(DecimalType(38, 15))).cast("double").as("out_w"))
    val norm = e
      .select(col("src").as("node"), col("dst"), col("w"))
      .join(outW, "node")
      .filter(col("out_w") > 0)
      .select(col("node"), col("dst"), (col("w") / col("out_w")).as("frac"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // set of nodes with out-edges, reused by every round's dangling probe
    val emitters = norm.select("node").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val r0 = round(lit(1.0) / n, 12)
    var ranks = nodes.select(col("node"), r0.as("rank"))
    // Each round reads `ranks` THREE times (contributions, dangling mass,
    // the rank join), so without a cut the round-k LOGICAL PLAN embeds
    // round k−1 three times — 3^k tree growth that OOMs the driver on plan
    // rendering alone (persist doesn't help: caching dedups execution, not
    // the plan). Every round therefore cuts lineage via [[Components.cut]].
    try {
      for (_ <- 1 to iterations) {
        // arriving mass per destination: decimal-summed, order-independent
        val contribs = ranks
          .join(norm, "node")
          .select(col("dst").as("node"),
            round(col("rank") * col("frac"), 15)
              .cast(DecimalType(38, 15)).as("c"))
          .groupBy("node")
          .agg(sum(col("c")).cast("double").as("contrib"))
        // dangling mass (nodes with no out-edges) redistributes uniformly;
        // scalar stays in-plan via broadcast crossJoin
        val dangling = ranks
          .join(emitters, Seq("node"), "left_anti")
          .agg(coalesce(sum(col("rank").cast(DecimalType(38, 15))), lit(0))
            .cast("double").as("dm"))
        val next = ranks
          .join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            round(lit((1 - damping) / n)
              + lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") / n),
              12).as("rank"))
        ranks = Components.cut(next)
      }
      ranks
    } finally {
      nodes.unpersist()
      norm.unpersist()
      emitters.unpersist()
      e.unpersist()
    }
  }

  /** Personalized PageRank: teleportation lands on a SEED set instead of
    * uniformly — rank becomes "authority relative to the seeds" (random
    * walk with restart), the form recommendation and related-item
    * pipelines actually run. Differences from [[run]], which is otherwise
    * mirrored expression-for-expression:
    *
    *   r₀(v)   = round(rv(v), 12)
    *   r_k(v)  = round((1−d)·rv(v) + d·(Σ contrib + dm·rv(v)), 12)
    *
    * where rv(v) = 1/|S| on seeds, 0 elsewhere — both the teleport AND
    * the dangling fold follow the reset distribution (mass returns to the
    * seeds, not to the whole graph). rv rides one extra same-key join per
    * round against a persisted (node, rv) frame; the seed count stays
    * in-plan via a broadcast scalar, so the per-row 1/|S| division is the
    * identical IEEE op a serial replay performs. Seeds not present in the
    * graph are ignored (inner join against the node census).
    */
  def runPersonalized(
      edges: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      weightCol: Option[String] = None,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")

    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val eSel = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))

    // seeds must be bounded too — the replay collects both
    DriverReplay.probeAll(
        Seq(eSel, seeds.select(col(seeds.columns.head).as("node")).distinct()),
        ReplayBound).foreach { rows =>
      return runLocal(edges.sparkSession, rows(0), iterations, damping,
        Some(rows(1).map(_.get(0)).toSet))
    }

    val e = eSel
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // reset distribution: 1/|S∩V| on the surviving seeds, 0 elsewhere;
    // the seed count stays in-plan (broadcast) so the division is the
    // same per-row IEEE op the serial replay performs
    val seedNodes = seeds.select(col(seeds.columns.head).as("node")).distinct()
      .join(nodes, "node")
    val sn = seedNodes.agg(count(lit(1)).cast("double").as("sn"))
    val reset = nodes
      .join(seedNodes.withColumn("__seed", lit(1)), Seq("node"), "left")
      .crossJoin(broadcast(sn))
      .select(col("node"),
        when(col("__seed").isNotNull, lit(1.0) / col("sn")).otherwise(lit(0.0)).as("rv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val outW = e.groupBy(col("src").as("node"))
      .agg(sum(col("w").cast(DecimalType(38, 15))).cast("double").as("out_w"))
    val norm = e
      .select(col("src").as("node"), col("dst"), col("w"))
      .join(outW, "node")
      .filter(col("out_w") > 0)
      .select(col("node"), col("dst"), (col("w") / col("out_w")).as("frac"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emitters = norm.select("node").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var ranks = reset.select(col("node"), round(col("rv"), 12).as("rank"))
    try {
      for (_ <- 1 to iterations) {
        val contribs = ranks
          .join(norm, "node")
          .select(col("dst").as("node"),
            round(col("rank") * col("frac"), 15)
              .cast(DecimalType(38, 15)).as("c"))
          .groupBy("node")
          .agg(sum(col("c")).cast("double").as("contrib"))
        val dangling = ranks
          .join(emitters, Seq("node"), "left_anti")
          .agg(coalesce(sum(col("rank").cast(DecimalType(38, 15))), lit(0))
            .cast("double").as("dm"))
        val next = ranks
          .join(contribs, Seq("node"), "left")
          .join(reset, "node")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            round(lit(1 - damping) * col("rv")
              + lit(damping) * (coalesce(col("contrib"), lit(0.0)) + col("dm") * col("rv")),
              12).as("rank"))
        ranks = Components.cut(next)
      }
      ranks
    } finally {
      nodes.unpersist()
      norm.unpersist()
      emitters.unpersist()
      reset.unpersist()
      e.unpersist()
    }
  }

  // ---- driver-local exact replay --------------------------------------

  private def rnd(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  private def dec15(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)

  /** Serial replay of the distributed recurrence — uniform teleport when
    * `seedSet` is None ([[run]]), reset-distribution teleport otherwise
    * ([[runPersonalized]]). Every arithmetic step mirrors a plan
    * expression 1:1: out-weight decimal sums, double `frac` divides,
    * rnd15+dec15 contributions, coalesced dangling decimal sum, the
    * round-12 rank update. A null weight is skipped by every sum and
    * yields a null fraction, exactly as the plan's null propagation does.
    */
  private def runLocal(
      spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[Row],
      iterations: Int, damping: Double,
      seedSet: Option[Set[Any]]): DataFrame = {
    val edges = edgeRows.map(r =>
      (r.get(0), r.get(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val nodes: Array[Any] = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.length.toDouble

    // out-weight per src: decimal sum → correctly-rounded double
    val outW = new java.util.HashMap[Any, java.math.BigDecimal]()
    edges.foreach { case (s, _, w) =>
      w.foreach(x => outW.merge(s, dec15(x), (a, b) => a.add(b)))
    }
    // normalized fractions, srcs with a null or <= 0 out_w dropped (same
    // filter)
    val norm = edges.flatMap { case (s, d, w) =>
      Option(outW.get(s)).map(_.doubleValue()).filter(_ > 0)
        .map(ow => (s, d, w.map(_ / ow)))
    }
    val emitters: Set[Any] = norm.map(_._1).toSet

    // teleport vector: uniform 1/n (plain run) or the reset distribution
    val rv: Any => Double = seedSet match {
      case None => _ => 1.0 / n // unused on the uniform path (teleport is scalar)
      case Some(seeds) =>
        val inGraph = seeds.intersect(nodes.toSet)
        val sn = inGraph.size.toDouble
        v => if (inGraph.contains(v)) 1.0 / sn else 0.0
    }
    var ranks: Map[Any, Double] = seedSet match {
      case None    => nodes.map(_ -> rnd(1.0 / n, 12)).toMap
      case Some(_) => nodes.map(v => v -> rnd(rv(v), 12)).toMap
    }

    val uniformTeleport = (1 - damping) / n // same scala-side fold as lit(...)
    for (_ <- 1 to iterations) {
      val sums = new java.util.HashMap[Any, java.math.BigDecimal]()
      norm.foreach { case (s, d, frac) =>
        frac.foreach(f => sums.merge(d, dec15(rnd(ranks(s) * f, 15)), (a, b) => a.add(b)))
      }
      val dmAcc = nodes.filterNot(emitters.contains)
        .map(v => dec15(ranks(v)))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
      val dm = dmAcc.doubleValue() // coalesce(sum, 0) on the empty set = 0
      ranks = nodes.map { v =>
        val contrib = Option(sums.get(v)).map(_.doubleValue()).getOrElse(0.0)
        val next = seedSet match {
          case None    => rnd(uniformTeleport + damping * (contrib + dm / n), 12)
          case Some(_) => rnd((1 - damping) * rv(v) + damping * (contrib + dm * rv(v)), 12)
        }
        v -> next
      }.toMap
    }

    val nodeType = if (edgeRows.isEmpty) StringType else edgeRows.head.schema.fields(0).dataType
    val schema = StructType(Seq(StructField("node", nodeType), StructField("rank", DoubleType)))
    val out = nodes.toSeq.map(v => Row(v, ranks(v)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

}
