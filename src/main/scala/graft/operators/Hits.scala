package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, StructField, StructType}

/** HITS (hubs and authorities) over an edge-list DataFrame — the
  * complement to [[PageRank]]: authority scores reward being pointed at
  * by good hubs, hub scores reward pointing at good authorities
  * (Kleinberg's algorithm, L1-normalized per half-step).
  *
  * Round k (the classic ordering — authorities from the k−1 hubs, then
  * hubs from the FRESH authorities):
  *   a'(v) = Σ_{u→v} w(u,v)·h(u),  a = round(a'/‖a'‖₁, 12)
  *   h'(u) = Σ_{u→v} w(u,v)·a(v),  h = round(h'/‖h'‖₁, 12)
  *
  * Scale/determinism contract is [[PageRank]]'s: each half-step is one
  * shuffle join (scores ⋈ edges) + one hash aggregate; per-edge products
  * round at 15 dp and accumulate as DECIMAL(38,15) (associative ⇒
  * partition-order free); the L1 norm is the decimal sum of the rounded
  * scores kept in-plan via broadcast crossJoin; lineage is cut every
  * round (the round plan reads the previous scores multiple times — an
  * uncut tree grows geometrically, see PageRank's note).
  */
object Hits {

  /** Edge-count bound below which the whole computation runs serially on
    * the driver ([[DriverReplay]]): iterative graph rounds at
    * aggregate-graph sizes (trade graphs, category graphs) are pure
    * job-scheduling overhead on a cluster, while real web/doc graphs
    * exceed the bound and take the distributed path. The serial path
    * replays the distributed arithmetic EXACTLY (same BigDecimal.valueOf
    * round/cast sequence Catalyst executes), so the two paths are
    * bit-identical — pinned by HitsSpec's differential test and the q112
    * oracle.
    */
  private val ReplayBound = 100000

  /** (node, authority, hub) for every node of `edges`, both columns
    * L1-normalized and rounded at 12 dp.
    */
  def run(
      edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None,
      iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")

    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val eSel = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"), w.as("w"))

    DriverReplay.probe(eSel, ReplayBound).foreach { probe =>
      return runLocal(edges.sparkSession, probe, iterations)
    }

    val e = eSel
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count().toDouble

    def l1Normalize(scores: DataFrame, c: String): DataFrame = {
      val norm = scores.agg(
        sum(col(c).cast(DecimalType(38, 15))).cast("double").as("__l1"))
      scores.crossJoin(broadcast(norm))
        .select(col("node"), round(col(c) / col("__l1"), 12).as(c))
    }

    var scores = nodes.select(col("node"),
      round(lit(1.0) / n, 12).as("auth"), round(lit(1.0) / n, 12).as("hub"))
    try {
      for (_ <- 1 to iterations) {
        // authorities from current hubs
        val aRaw = scores.select(col("node"), col("hub"))
          .join(e, col("node") === col("src"))
          .select(col("dst").as("node"),
            round(col("hub") * col("w"), 15).cast(DecimalType(38, 15)).as("c"))
          .groupBy("node")
          .agg(sum(col("c")).cast("double").as("a_raw"))
        // persist (not cut) the half-step frames: each is read by its L1
        // norm aggregate, the normalized select, and the next half-step —
        // the cache makes those readers share ONE computation, while the
        // single round-end cut below truncates the round's whole lineage.
        // (Three cuts per round = three count jobs; at 25-node graph sizes
        // the job-scheduling floor, not the arithmetic, was q112's cost.)
        val aPre = nodes.join(aRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("a_raw"), lit(0.0)).as("auth"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = l1Normalize(aPre, "auth")
        // hubs from the fresh authorities
        val hRaw = a
          .join(e, col("node") === col("dst"))
          .select(col("src").as("node"),
            round(col("auth") * col("w"), 15).cast(DecimalType(38, 15)).as("c"))
          .groupBy("node")
          .agg(sum(col("c")).cast("double").as("h_raw"))
        val hPre = nodes.join(hRaw, Seq("node"), "left")
          .select(col("node"), coalesce(col("h_raw"), lit(0.0)).as("hub"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val h = l1Normalize(hPre, "hub")
        scores = Components.cut(a.join(h, "node"))
        // the cut's count materialized everything downstream of the caches
        aPre.unpersist()
        hPre.unpersist()
      }
      scores
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }

  // ---- driver-local exact replay --------------------------------------

  /** `round(x, s)` exactly as Catalyst's Round on DoubleType:
    * BigDecimal.valueOf (shortest decimal repr) → setScale HALF_UP →
    * doubleValue.
    */
  private def rnd(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** `CAST(x AS DECIMAL(38,15))` exactly as Catalyst: valueOf then
    * changePrecision's HALF_UP setScale.
    */
  private def dec15(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(15, java.math.RoundingMode.HALF_UP)

  /** The identical recurrence, serially: per round, Σ dec15(rnd15(h·w))
    * per dst (exact decimal adds → correctly-rounded doubleValue), L1
    * norm as the dec15 sum of the coalesced doubles, round-12 normalize;
    * then the hub half from the fresh authorities. Every step maps 1:1
    * to a distributed-plan expression, so partials/order can't diverge
    * (decimal adds are associative there, sequential here — same total).
    * A null-weight edge contributes nothing, as its null product does to
    * the plan's sum.
    */
  private def runLocal(
      spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[Row],
      iterations: Int): DataFrame = {
    val edges = edgeRows.filterNot(_.isNullAt(2))
      .map(r => (r.get(0), r.get(1), r.getDouble(2)))
    val nodes: Array[Any] =
      (edgeRows.map(_.get(0)) ++ edgeRows.map(_.get(1))).distinct
    val n = nodes.length.toDouble
    val init = rnd(1.0 / n, 12)
    var auth = nodes.map(_ -> init).toMap
    var hub = nodes.map(_ -> init).toMap

    def half(scores: Map[Any, Double], bySrc: Boolean): Map[Any, Double] = {
      val sums = new java.util.HashMap[Any, java.math.BigDecimal]()
      edges.foreach { case (src, dst, w) =>
        val (from, to) = if (bySrc) (src, dst) else (dst, src)
        val c = dec15(rnd(scores(from) * w, 15))
        sums.merge(to, c, (a, b) => a.add(b))
      }
      val raw = nodes.map { v =>
        v -> (Option(sums.get(v)).map(_.doubleValue()).getOrElse(0.0))
      }
      // L1 norm: decimal sum of the coalesced doubles, then double divide
      val l1 = raw.map(kv => dec15(kv._2))
        .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue()
      raw.map { case (v, x) => v -> rnd(x / l1, 12) }.toMap
    }

    for (_ <- 1 to iterations) {
      auth = half(hub, bySrc = true)   // authorities from current hubs
      hub = half(auth, bySrc = false)  // hubs from the FRESH authorities
    }

    val nodeType = if (edgeRows.isEmpty) StringType else edgeRows.head.schema.fields(1).dataType
    val schema = StructType(Seq(StructField("node", nodeType),
      StructField("auth", DoubleType), StructField("hub", DoubleType)))
    val out = nodes.toSeq.map(v => Row(v, auth(v), hub(v)))
    spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
