package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — turns near-dup PAIRS (from
  * [[NearDup]]) into dedup CLUSTERS (transitive closure), so "keep one doc
  * per duplicate group" is well-defined even when A~B, B~C but A≁C.
  *
  * Algorithm: min-label propagation — every node starts labeled with its
  * own id; each round every node takes the min of its own and its
  * neighbors' labels; converged when nothing changes. Rounds ≤ graph
  * diameter, and near-dup graphs are unions of small dense blobs
  * (diameter ~2-3), so 3-5 rounds close them. Each round is one
  * join + groupBy shuffle on the edge list; lineage is cut per round with
  * [[cut]] so the plan doesn't grow. If propagation runs out of rounds, it
  * auto-finishes on [[largeStarSmallStar]] over the label-contracted
  * graph, so callers never receive silently-split clusters.
  */
object Components {

  /** The engine's lineage cut: [[cutCounted]] without the count. */
  private[graft] def cut(df: DataFrame): DataFrame = cutCounted(df)._1

  /** Cut `df`'s lineage with a `localCheckpoint` and return it with its
    * row count. Iterative operators cut after every round so the plan
    * doesn't grow; queries cut a frame that downstream plans reference
    * several times, so each reuse is a block read instead of a recompute.
    * Unlike `persist`, the blocks are NOT registered in the session
    * CacheManager — the ContextCleaner frees them once the returned plan
    * is unreachable, so a lazy result can safely escape its operator.
    *
    * The checkpoint is lazy and materialized by a `count` (not
    * `eager = true`, whose internal count is discarded), so iterative
    * operators that terminate on an empty frontier ([[Bfs]], the
    * distributed components loop) get the termination scalar from the
    * materialization job itself — no second `isEmpty` job per round.
    */
  private[graft] def cutCounted(df: DataFrame): (DataFrame, Long) = {
    // Width control (round-12 measurement, guide §2.2/§2.4): a checkpoint
    // materializes through `.toRdd`, and AQE never re-optimizes THAT final
    // stage — the cut frame keeps the session's pre-coalesce shuffle width
    // (initialPartitionNum = 512) no matter how small it is, and every
    // downstream job over the checkpointed RDD relaunches 512+ tasks.
    // Measured on q144 (25-node SCC): 513/1025-task jobs of 0.8-1.6 s each,
    // pure task-scheduling tax. `coalesce` (narrow, no shuffle) caps the
    // materialized width at the session's BASE shuffle partition count —
    // the same width the AQE-disabled fallback would give every shuffle;
    // only the never-coalesced 512-wide tail is merged. NOTE: must be
    // defaultNumShufflePartitions — numShufflePartitions returns the AQE
    // initialPartitionNum (512) when coalescing is enabled, which would
    // make this cap a no-op.
    val width = df.sparkSession.sessionState.conf.defaultNumShufflePartitions
    val cp = df.coalesce(width).localCheckpoint(eager = false)
    (cp, cp.count()) // first action materializes the marked RDD
  }

  /** (id, cluster_id) for every node appearing in `pairs`, cluster_id =
    * min node id of the component.
    *
    * Adaptive ([[DriverReplay]]): near-dup edge lists are typically a
    * vanishing fraction of the corpus (duplicates are the exception), so
    * below `ReplayBound` edges the closure runs as driver-side union-find
    * — microseconds instead of O(diameter) distributed rounds. Larger
    * graphs take the distributed label-propagation path.
    */
  def connectedComponents(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20): DataFrame = {
    // scoped persist: the probe AND the chosen path both execute `pairs`
    // (often an expensive near-dup pipeline). Persist before the probe,
    // unpersist after the path has materialized (the driver path holds the
    // probed rows; the distributed path eagerly localCheckpoints `sym`), so
    // the upstream pipeline runs once and nothing outlives this call.
    val cached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      DriverReplay.probe(cached.select(col(srcCol), col(dstCol)), ReplayBound) match {
        case Some(edges) =>
          driverUnionFind(pairs.sparkSession, edges, pairs.schema(srcCol).dataType)
        case None => distributedCC(cached, srcCol, dstCol, maxIters)
      }
    } finally cached.unpersist()
  }

  /** Edge count at or below which [[connectedComponents]] closes on the
    * driver.
    */
  private val ReplayBound = 1000000

  /** Union-find with path compression over collected edges; ids keep their
    * type through a local index mapping.
    */
  private def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val index = new java.util.LinkedHashMap[Any, Int]()
    edges.foreach { r =>
      index.computeIfAbsent(r.get(0), _ => index.size)
      index.computeIfAbsent(r.get(1), _ => index.size)
    }
    val parent = Array.tabulate(index.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { r =>
      val a = find(index.get(r.get(0)))
      val b = find(index.get(r.get(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    // the union-find root is an insertion index; the exposed cluster_id is
    // the minimum id VALUE of the component (same as least()/min() in the
    // distributed path), computed in one pass
    val ids = index.keySet().toArray
    val minOfRoot = new java.util.HashMap[Int, Any]()
    ids.indices.foreach { i =>
      val r = find(i)
      val smaller = (ids(i), minOfRoot.get(r)) match {
        case (x, null) => x
        // every external id type Spark hands back here (boxed numerics,
        // String, Decimal, Timestamp/Date) is Comparable to its own class —
        // matching the distributed path's min() ordering, unlike a
        // lexicographic toString fallback ("10" < "9")
        case (x: Comparable[_], c) if x.getClass == c.getClass =>
          if (x.asInstanceOf[Comparable[Any]].compareTo(c) < 0) x else c
        case (x, c) => if (x.toString < c.toString) x else c
      }
      minOfRoot.put(r, smaller)
    }
    val out = ids.indices.map(i => org.apache.spark.sql.Row(ids(i), minOfRoot.get(find(i))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster_id", idType))))
  }

  private def distributedCC(
      pairs: DataFrame, srcCol: String, dstCol: String, maxIters: Int): DataFrame = {
    // no cast: the algorithm only needs an orderable id type, and casting
    // would silently null non-numeric ids
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val sym = cut(edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    var labels = cut(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    def propagate(ls: DataFrame): DataFrame = {
      val nbrMin = sym
        .join(ls.select(col("id").as("dst"), col("label").as("nbr_label")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("nbr_label").as("nbr_label"))
      ls.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
    }
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      // two hops per materialization: halves the checkpoint/convergence-
      // check job count (label propagation converges in O(diameter) hops).
      // The intermediate hop is cached — it feeds both the second hop's
      // aggregation and its final join, and would otherwise recompute.
      val mid = propagate(labels).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val next = cut(propagate(mid)
        .withColumnRenamed("label", "new_label")
        .join(labels, "id")
        .select(col("id"), col("label").as("old_label"), col("new_label").as("label")))
      changed = next.filter(col("label") =!= col("old_label")).count()
      mid.unpersist()
      labels = next.select("id", "label")
      iter += 1
    }
    if (changed > 0) {
      // O(diameter) propagation ran out of rounds — labels are a valid
      // coarsening (every label is a node id of the same component, and the
      // component-min node always labels itself), but components may still
      // be split. Finish EXACTLY with diameter-independent O(log²n)
      // large-star/small-star over the label-CONTRACTED graph — far
      // smaller than the input after the rounds already run — then map
      // each node through its label's final root. Callers therefore never
      // receive a silent coarsening.
      System.err.println(
        s"[Components] min-label propagation hit the ${maxIters}×2-hop cap " +
          s"($changed labels still changing) — finishing on " +
          "largeStarSmallStar over the label-contracted graph")
      val contracted = sym
        .join(labels.select(col("id").as("src"), col("label").as("lsrc")), "src")
        .join(labels.select(col("id").as("dst"), col("label").as("ldst")), "dst")
        .select(col("lsrc"), col("ldst"))
        .filter(col("lsrc") =!= col("ldst"))
        .distinct()
      val roots = largeStarSmallStar(contracted, "lsrc", "ldst")
        .select(col("id").as("label"), col("cluster_id").as("root"))
      // labels whose component fully converged have no cross-label edge →
      // absent from `contracted`; their label IS the component min
      return labels.join(roots, Seq("label"), "left")
        .select(col("id"), coalesce(col("root"), col("label")).as("cluster_id"))
    }
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): alternating
    * rounds where every node links its larger neighbors (large-star) /
    * its smaller neighbors and itself (small-star) to the minimum of its
    * neighborhood. Converges in O(log² n) rounds — crucially INDEPENDENT
    * of graph diameter, where [[distributedCC]]'s min-label propagation
    * needs O(diameter) rounds and a long path/lattice (linked page chains,
    * boilerplate ladders) would stall it. Differential-tested against the
    * propagation path on chains, blobs, and multi-component graphs
    * (AnnSpec). Same output contract: (id, cluster_id = component min).
    *
    * Non-convergence in `maxIters` rounds (pathological — the bound is
    * O(log²n) worst case, single digits in practice) THROWS: a truncated
    * edge set is a valid coarsening but NOT full components.
    */
  def largeStarSmallStar(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 50): DataFrame = {
    // canonical (hi, lo) orientation, self-loops dropped
    val (edges0, nEdges0) = cutCounted(pairs
      .select(greatest(col(srcCol), col(dstCol)).as("hi"),
        least(col(srcCol), col(dstCol)).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct())
    var edges = edges0
    var iter = 0
    var done = nEdges0 == 0
    while (!done && iter < maxIters) {
      // LARGE-STAR: for each u, link every strictly-larger neighbor v to
      // m(u) = min(Γ(u) ∪ {u}) — each (u,v) edge is covered from its
      // smaller endpoint, so this set REPLACES the edge list
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mLarge = sym.groupBy("u").agg(min("v").as("mn"))
      val ls = sym.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), least(col("u"), col("mn")).as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
      // SMALL-STAR: for each hi, link its smaller neighbors and itself to
      // the smallest of them
      val mSmall = ls.groupBy("hi").agg(min("lo").as("mn"))
      val next = cut(ls.join(mSmall, "hi")
        .select(col("lo").as("a"), col("mn").as("b"))
        .union(mSmall.select(col("hi").as("a"), col("mn").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .distinct())
      done =
        next.except(edges).limit(1).count() == 0 &&
          edges.except(next).limit(1).count() == 0
      edges = next
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(s"[Components] large-star/small-star did NOT converge in " +
        s"$maxIters rounds — components may still be split; raise maxIters")
    // converged: every non-root points straight at its component min
    val roots = edges.groupBy(col("hi").as("id")).agg(min("lo").as("root"))
    val nodes = pairs.select(col(srcCol).as("id"))
      .union(pairs.select(col(dstCol).as("id")))
      .distinct()
    nodes.join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
  }

  /** Cluster assignment for near-duplicate documents plus the survivor
    * flag (lowest doc_id in each cluster survives — the cross-document
    * generalization of [[Dedup.firstWriterWins]]). [[DriverReplay]]'s
    * switch forces the distributed closure (how q77 proves that path end-to-end
    * under the oracle).
    */
  def neardupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_survivor"))

  /** [[neardupClusters]] with EXACT-CLONE CONTRACTION — the scale path
    * for clone-heavy pair graphs. On a scraped corpus the dominant
    * duplication mode is exact clones, and the exact pair list encodes
    * each clone family as a jaccard = 1.0 CLIQUE (identical shingle sets
    * pair at exactly 1.0 with each other and at identical values with
    * everyone else; J = 1.0 is set equality, so it is transitive and the
    * emitted expansion covers every member pair, including the family
    * minimum against every member). The closure therefore never needs
    * the clique edges: each node contracts to its family minimum (one
    * aggregate over the 1.0 edges — the min 1.0-partner below, self when
    * none), the J < 1 edges project to representative pairs and dedup
    * (a g×g' cross-family expansion collapses back to ONE edge), and the
    * component closure runs on the contracted graph — at a ×100
    * clone-verbatim probe that is hundreds of edges instead of 25 M.
    * Labels are unchanged: the contracted component minimum IS the
    * member minimum (every family's rep is its min), singleton families
    * keep their rep — output is row-identical to [[neardupClusters]] on
    * any exact pair list (re-gated per consumer at sf0.01, pinned in
    * OpsProps).
    */
  def neardupClustersContracted(
      pairs: DataFrame,
      clique: Column = col("jaccard") === 1.0): DataFrame = {
    // read once: rep aggregate, node census, and cross projection all
    // consume the pair list. `clique` marks the edges that are clique
    // edges BY CONSTRUCTION (J = 1.0 set equality for text pairs,
    // hamming = 0 hash equality for perceptual pairs) — any transitive
    // equality whose expansion emits every member pair qualifies.
    val p = cut(pairs.select(col("doc_a"), col("doc_b"), clique.as("__clique")))
    val rep = p.filter(col("__clique"))
      .groupBy(col("doc_b").as("doc_id")).agg(min(col("doc_a")).as("rep"))
    val repOf = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
      .join(rep, Seq("doc_id"), "left")
      // the family min has no clique-partner below itself: rep = self
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
    val cross = p.filter(!col("__clique"))
      .join(repOf.select(col("doc_id").as("doc_a"), col("rep").as("ra")), "doc_a")
      .join(repOf.select(col("doc_id").as("doc_b"), col("rep").as("rb")), "doc_b")
      .select(least(col("ra"), col("rb")).as("doc_a"),
        greatest(col("ra"), col("rb")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val comp = connectedComponents(cross, "doc_a", "doc_b")
    repOf.join(comp.select(col("id").as("rep"), col("cluster_id")), Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
  }
}
