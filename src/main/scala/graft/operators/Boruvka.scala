package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Borůvka's minimum-spanning-forest algorithm (1926) — the parallel MST:
  * every component selects its minimum incident cross edge, selected edges
  * join the forest, touched components contract, repeat. MST over a
  * similarity graph is the backbone of single-linkage clustering (cutting
  * the forest at a distance threshold yields exactly the single-link
  * dendrogram's flat clusters), which is why a curation engine wants it
  * next to the connected-components operator.
  *
  * Determinism & replay contract (unlike [[Components]], which may finish
  * on a driver union-find): BOTH the round count and the per-round
  * contraction depth are FIXED (`rounds`, `jumps`), and every selection is
  * totally ordered — min edge per component by (w, a, b) via one
  * degree-bounded window, contraction labels by min-label propagation
  * exactly `jumps` hops down the selected forest. Fixed depth means the
  * contraction may be PARTIAL in a round (a long selected chain keeps >1
  * label); that costs extra rounds, never correctness, and it is what
  * makes the recurrence an exact chained-CTE replay for the oracle — no
  * convergence loop an SQL engine can't express. A production run sizes
  * `rounds` ≈ log₂(components) + slack; the census output exposes
  * `n_components` per round so an undersized budget is visible, not
  * silent.
  *
  * Scale shape per round: one edges⋈labels join (co-partitioned on the
  * node key), one per-component window over candidate min edges (bounded
  * by component degree), `jumps` label joins over the FOREST edges
  * (≤ components rows, two orders smaller than the graph). Edge volume is
  * touched once per round; everything else is component-sized.
  */
object Boruvka {

  /** Edge count at or below which the census replays on the driver. */
  private val ReplayBound = 200000

  /** Per-round census of the growing forest over canonical weighted edges
    * `(a, b, w)` with a < b. Returns one row per round:
    * (round, n_selected, round_weight, n_components).
    *
    * Adaptive ([[DriverReplay]]): the recurrence is a fixed number of
    * driver-synchronous rounds, each ~25 shuffle stages (cross join,
    * per-component window, `jumps` label joins, census aggregates) —
    * measured 133 AQE-stage jobs ≈ 7.6 s at sf0.1 for a 10 k-edge knn
    * graph, pure scheduling tax. Below `ReplayBound` edges (integral ids
    * + double weights) the SAME recurrence replays on the driver:
    * identical selection order (w, a, b), identical fixed-depth
    * contraction, identical decimal(38,6) weight census — differential-
    * pinned against the distributed rounds in BoruvkaSpec. Larger graphs
    * take the distributed path unchanged.
    */
  def forestCensus(edges: DataFrame, rounds: Int, jumps: Int): DataFrame = {
    val dec6 = DecimalType(38, 6)
    // one materialization of the edge list: every round's cross-edge join,
    // and nothing else, re-reads it (without the cut, each of the ~6
    // consumers per round would replay the caller's edge derivation).
    // Its count doubles as the routing probe — no extra job.
    val (e, nE) = Components.cutCounted(edges.select("a", "b", "w"))
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, DoubleType}
      Seq("a", "b").forall(c => Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(e.schema(c).dataType)) && e.schema("w").dataType == DoubleType
    }
    if (DriverReplay.admits(e.sparkSession, nE, ReplayBound, integralIds))
      return forestCensusDriver(e, rounds, jumps)
    // Round 13 (guide §2.2/§2.4 — VERDICT item 7): the rounds carry the
    // CONTRACTED cross-edge frame (w, a, b, ca, cb) instead of a
    // node→comp map. The old shape re-joined the FULL edge list against
    // node-sized comp twice per round, relabeled the node map once more,
    // and propagated labels over ALL component ids; now
    //  - candidate selection reads eR's own label columns (no join),
    //  - the `jumps` min-label hops run over the ACTIVE components only
    //    (the nodes of the selected forest, ≤ 2·|sel| — every inactive
    //    component's label is provably the identity through every hop),
    //  - the relabel joins touch the shrinking cross-edge set (edges the
    //    contraction internalized drop out),
    //  - no node-sized state exists after the one-time n₀ count, and
    //  - n_components is pure bookkeeping: n₀ − Σ per-round merges, where
    //    a round merges |active| − |distinct active labels| components
    //    (active label images are always active ids, so they can never
    //    collide with an inactive component's identity label).
    // An edge's (ca, cb) after r rounds equals lab_r(…lab_1(a)…) —
    // exactly the old comp-join labels — so selection, contraction and
    // census see identical inputs (differential-pinned vs the driver
    // replay in BoruvkaSpec, incl. a forced-distributed run).
    var nComp = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct().count()
    var eR = Components.cut(
      e.select(col("w"), col("a"), col("b"),
        col("a").as("ca"), col("b").as("cb"))
        .filter(col("ca") =!= col("cb")))
    val censuses = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val cand = eR.select(col("ca").as("c"), col("w"), col("a"), col("b"),
          col("ca"), col("cb"))
        .union(eR.select(col("cb").as("c"), col("w"), col("a"), col("b"),
          col("ca"), col("cb")))
      // materialized per round: the selection feeds the contraction's
      // `jumps` label joins AND the census aggregate — uncut, each consumer
      // replays the per-component window
      val sel = Components.cut(cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("c").orderBy(col("w"), col("a"), col("b"))))
        .filter(col("rn") === 1)
        .select("w", "a", "b", "ca", "cb")
        .distinct())
      // contract along the selected forest: min-label propagation over the
      // ACTIVE component ids, exactly `jumps` hops (partial contraction is
      // allowed — see scaladoc)
      val cg = sel.select(col("ca").as("x"), col("cb").as("y"))
        .union(sel.select(col("cb").as("x"), col("ca").as("y")))
      var lab = cg.select(col("x").as("c")).distinct()
        .select(col("c"), col("c").as("lab"))
      for (_ <- 1 to jumps) {
        // the Components.propagate shape: neighbor-min as its own
        // aggregate (fresh attributes), then a left join back — never a
        // direct self-join of the label frame
        val nbrMin = cg
          .join(lab.select(col("c").as("y"), col("lab").as("nlab")), "y")
          .groupBy(col("x").as("c"))
          .agg(min("nlab").as("mn"))
        lab = lab.join(nbrMin, Seq("c"), "left")
          .select(col("c"),
            least(col("lab"), coalesce(col("mn"), col("lab"))).as("lab"))
      }
      // materialize the jumps chain ONCE (three consumers: the merge
      // census and both relabel sides); its cut count IS |active|, and
      // the label-image size is one tiny scan of the checkpointed frame
      val (labCut, nActive) = Components.cutCounted(lab)
      lab = labCut
      nComp -= nActive -
        lab.agg(countDistinct(col("lab"))).head().getLong(0)
      // relabel the cross edges along the contraction and drop the edges
      // it internalized. Every eR endpoint component is active (it
      // selected an edge, and that edge's sel row carries it), so the
      // left join + coalesce is identity-safe belt and braces.
      eR = Components.cut(
        eR.join(lab.select(col("c").as("ca"), col("lab").as("la")), Seq("ca"), "left")
          .join(lab.select(col("c").as("cb"), col("lab").as("lb")), Seq("cb"), "left")
          .select(col("w"), col("a"), col("b"),
            coalesce(col("la"), col("ca")).as("ca"),
            coalesce(col("lb"), col("cb")).as("cb"))
          .filter(col("ca") =!= col("cb")))
      censuses += sel.agg(
          count(lit(1)).as("n_selected"),
          coalesce(sum(col("w").cast(dec6)), lit(0).cast(dec6)).as("w_sum"))
        .select(lit(r).as("round"), col("n_selected"),
          round(col("w_sum").cast("double"), 6).as("round_weight"),
          lit(nComp).as("n_components"))
    }
    censuses.reduce(_.union(_)).orderBy("round")
  }

  /** Driver replay of the EXACT distributed recurrence over collected
    * edges — same per-component min-edge order (w asc, a asc, b asc),
    * same DISTINCT over selected (w, a, b, eca, ecb), same fixed `jumps`
    * min-label hops (partial contraction preserved), same census
    * arithmetic: each selected w cast to DECIMAL(38,6) (HALF_UP, exactly
    * Spark's double→decimal cast) summed exactly, cast back to double and
    * rounded at 6 (Spark's Round semantics). Input is the already-cut
    * canonical edge frame, at most `ReplayBound` rows.
    */
  private def forestCensusDriver(e: DataFrame, rounds: Int, jumps: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val rows = e.select(col("a").cast("long"), col("b").cast("long"), col("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // comp0: every endpoint its own component
    val comp = new java.util.HashMap[Long, Long]()
    rows.foreach { case (a, b, _) => comp.put(a, a); comp.put(b, b) }
    // (w, a, b) ascending — java.lang.Double.compare matches Spark's sort
    // order on the non-NaN weights a canonical edge list carries
    def lt(x: (Double, Long, Long, Long, Long), y: (Double, Long, Long, Long, Long)): Boolean = {
      val c = java.lang.Double.compare(x._1, y._1)
      if (c != 0) c < 0
      else if (x._2 != y._2) x._2 < y._2
      else x._3 < y._3
    }
    val out = Vector.newBuilder[(Int, Long, Double, Long)]
    for (r <- 1 to rounds) {
      // min cross edge per component, considered from BOTH endpoints
      val byC = new java.util.HashMap[Long, (Double, Long, Long, Long, Long)]()
      rows.foreach { case (a, b, w) =>
        val ca = comp.get(a); val cb = comp.get(b)
        if (ca != cb) {
          val t = (w, a, b, ca, cb)
          val curA = byC.get(ca)
          if (curA == null || lt(t, curA)) byC.put(ca, t)
          val curB = byC.get(cb)
          if (curB == null || lt(t, curB)) byC.put(cb, t)
        }
      }
      import scala.jdk.CollectionConverters._
      val sel = byC.values.asScala.toSet // DISTINCT (w, a, b, eca, ecb)
      // contraction graph on component labels, `jumps` min-label hops
      val adj = new java.util.HashMap[Long, List[Long]]()
      sel.foreach { case (_, _, _, x, y) =>
        adj.merge(x, List(y), (o, n) => n ::: o)
        adj.merge(y, List(x), (o, n) => n ::: o)
      }
      var lab: Map[Long, Long] =
        comp.values().asScala.iterator.map(c => (c.toLong, c.toLong)).toMap
      for (_ <- 1 to jumps) {
        val prev = lab
        lab = prev.map { case (c, l) =>
          val ns = adj.get(c)
          val nbrMin = if (ns == null) Long.MaxValue else ns.iterator.map(prev).min
          c -> math.min(l, nbrMin)
        }
      }
      val labF = lab
      comp.replaceAll((_, c) => labF(c))
      // census: decimal(38,6)-exact weight sum, then double round at 6
      var wSum = java.math.BigDecimal.ZERO
      sel.foreach { case (w, _, _, _, _) =>
        wSum = wSum.add(java.math.BigDecimal.valueOf(w)
          .setScale(6, java.math.RoundingMode.HALF_UP))
      }
      val roundWeight = java.math.BigDecimal.valueOf(wSum.doubleValue)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
      val nComp = comp.values().asScala.toSet.size.toLong
      out += ((r, sel.size.toLong, roundWeight, nComp))
    }
    out.result().toDF("round", "n_selected", "round_weight", "n_components")
      .orderBy("round")
  }
}
