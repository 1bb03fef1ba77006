package graft.operators

import graft.functions.{Sketches, Similarity, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over text and embeddings (driver north star
  * §2b). Every operator is a shuffle-on-key pipeline — candidate generation
  * never materializes the O(n²) pair space — and every pairwise verify is
  * two-phase: a codegen'd double-precision prefilter with a guard band,
  * then the decimal-exact cosine/jaccard only for survivors (the exact
  * decimal form is what the DuckDB oracle hash-compares, but it is ~10×
  * the cost of the double loop, so it must only ever run on candidates).
  *
  *  - [[ngramJaccardPairs]]: inverted-index join on hashed shingles. Exact
  *    (any pair with J ≥ τ > 0 shares a shingle), cost Σ df(shingle)². Hub
  *    shingles are capped via `maxDocFreq` when exactness may be traded for
  *    scale (off by default so the result stays oracle-comparable).
  *  - [[minhashLshPairs]]: O(n·k) signatures + slim (id, bucket) band join,
  *    then exact Jaccard verification of candidates only.
  *  - [[simhashPairs]]: 64-bit SimHash, complete 4×16-bit blocking for
  *    Hamming ≤ 3.
  *  - [[embeddingNearDupPairs]] / [[knnBruteForce]]: exact cosine pairs /
  *    top-k, norms precomputed per vector (1 dot per pair, not 3).
  *  - [[embeddingNearDupLsh]]: random-hyperplane signature bucketing — the
  *    100 TB path (buckets shrink the candidate space ~2^bits-fold);
  *    [[embeddingNearDupPairsAuto]] routes exact-vs-LSH on corpus size
  *    with [[scaledPairLshKnobs]] holding bucket occupancy constant.
  */
object NearDup {

  /** Margin added below a cosine threshold for the double-precision
    * prefilter: |double_dot − exact_dot| ≤ dim·ε·Σ|aᵢbᵢ|, which for unit-ish
    * 64-dim vectors is ≲ 1e-13 — 1e-6 is a ~10⁷× safety factor and still
    * filters essentially everything below threshold.
    */
  private val CosGuard = 1e-6

  /** Cell-count ceiling for broadcasting the ball-cover rep-geometry
    * table in [[embeddingNearDupLsh]]: one row per LSH signature cell,
    * each ~500 B (64-float vector + norm + radius + row overhead), so
    * 100k cells ≈ 50 MB per broadcast side — comfortably inside a
    * production executor/driver budget. Above the ceiling the geometry
    * join runs as a shuffle instead (identical output, pinned in
    * NearDupSpec). Overridable via `-Dgraft.neardup.bcMaxCells` so the
    * spec can force the shuffle route on a small corpus.
    */
  private[graft] def ballCoverBroadcastMaxCells: Long =
    sys.props.get("graft.neardup.bcMaxCells").map(_.toLong).getOrElse(100000L)

  /** Distinct (doc_id, shingle) pairs for an n-gram size. */
  /** `widen = true` (the CORPUS-scale pair builds: ngramJaccardPairs,
    * minhashLshPairs, ngramContainmentPairs) fans a 1-task small-file
    * scan out before the per-doc shingle pass — the compute-dense stage
    * those builds funnel ~everything through (see Tables.widen). The
    * verify paths (pairsWithShingles) and the incremental build keep
    * `widen = false`: their doc sets are candidate-bounded, and the A/B
    * measured the shuffle costing more than the serial shingling there
    * (q21 1.25→1.73, q35 1.98→2.61, q205 1.66→2.02 with it on).
    */
  private def shingleSets(docs: DataFrame, n: Int, widen: Boolean = false): DataFrame = {
    val in = docs.select(col("doc_id"), col("text"))
    (if (widen) graft.Tables.widen(in) else in)
      .select(col("doc_id"), Sketches.wordShingles(col("text"), n).as("shingles"))
      .filter(size(col("shingles")) > 0)
  }

  /** Materialize a DataFrame that downstream plans reference several times,
    * without a cache leak. Default: `localCheckpoint(eager = true)` stores
    * the rows in the executors' block manager (MEMORY_AND_DISK) and cuts
    * lineage, so each reuse is a block read instead of a recompute; unlike
    * `persist`, the blocks are NOT registered in the session CacheManager —
    * the ContextCleaner frees them once the returned plan is unreachable,
    * so a lazy result can safely escape this operator. On a real cluster
    * with dynamic allocation, local checkpoint blocks die with their
    * executor — pass `checkpointDir` (threaded through every public
    * operator here) to cut to reliable storage via [[Components.cut]]
    * instead, the same knob Components/Packing expose.
    */
  private def materialized(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    Components.cut(df, checkpointDir)

  /** Exact n-gram Jaccard near-dup pairs: J(a,b) ≥ threshold, a < b.
    * Inverted-index join: explode shingles, self-join on a 64-bit shingle
    * hash (8-byte shuffle keys instead of ~25-byte strings; a collision
    * would need two distinct shingles in the same corpus at the same hash —
    * P ≈ m²/2⁶⁵, negligible), count common, divide by union size.
    * `maxDocFreq` > 0 drops shingles appearing in more documents than that
    * (skew guard; makes the result approximate).
    */
  def ngramJaccardPairs(
      docs: DataFrame, n: Int, threshold: Double, maxDocFreq: Long = 0L,
      checkpointDir: Option[String] = None): DataFrame = {
    // referenced three times (sizes + both join sides): materialize once —
    // `materialized` (localCheckpoint) avoids the per-call cache leak that
    // ruled out persist here, and one shingle pass beats three.
    // `__ck` canonicalizes IDENTICAL shingle sets (exact clones — the
    // dominant duplication mode in scraped corpora): the quadratic
    // inverted-index join runs over one REPRESENTATIVE per set, and pairs
    // expand back afterwards — group-of-g clones cost g·pairs instead of
    // g² candidate rows per shared shingle. The expansion is exact, not
    // approximate: identical sets ⇒ identical jaccard against every
    // third document, and 1.0 within the group. (Key collision would
    // need two distinct shingle ARRAYS at the same xxhash64 —
    // P ≈ n_docs²/2⁶⁵, the same risk already accepted per shingle.)
    val sets = materialized(
      shingleSets(docs, n, widen = true)
        .withColumn("__ck", xxhash64(concat_ws("\u0001", col("shingles")))),
      checkpointDir)
    val groups = sets.select("doc_id", "__ck")
    val repIds = groups.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    val repSets = sets.join(repIds, Seq("__ck", "doc_id"))
    val sizes = repSets.select(col("doc_id"), size(col("shingles")).as("n_shingles"))
    val inv0 = repSets.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    val inv =
      if (maxDocFreq <= 0) inv0
      else {
        // df counts DISTINCT shingle sets, not raw documents: a hub
        // shingle's posting list is what drives the quadratic cost, and
        // clones no longer multiply it
        val rare = inv0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("s")
        inv0.join(rare, "s")
      }
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val repPairs = common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // expand representatives back to members: cross-group pairs inherit
    // the rep pair's exact jaccard (identical sets), intra-group pairs
    // are exactly 1.0 (n_common = na = nb ⇒ the direct division yields
    // 1.0 bit-for-bit)
    val ckOfRep = repIds.select(col("doc_id").as("__rep"), col("__ck"))
    val expanded = repPairs
      .join(ckOfRep.select(col("__rep").as("doc_a"), col("__ck").as("cka")), "doc_a")
      .join(ckOfRep.select(col("__rep").as("doc_b"), col("__ck").as("ckb")), "doc_b")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("ma")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("mb")), "ckb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    val intra = groups.as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("jaccard"))
    expanded.unionByName(intra)
  }

  /** Incremental near-dup maintenance: exact n-gram Jaccard pairs that
    * TOUCH a new document batch, against an already-ingested corpus — the
    * daily-increment production shape. The inverted index covers
    * corpus ∪ batch, but the pair join is DRIVEN by the batch's postings
    * (a-side), so per-shingle cost is df_new(s)·df_all(s) — linear in the
    * increment for bounded document frequency — where a full recompute
    * would pay Σ df_all² again for pairs the previous run already knows.
    * Orientation guard: an (old, old) pair never forms (a is always new),
    * a (new, new) pair forms once (a < b required when b is new), a
    * (new, old) pair forms once (only the new side drives). Returns
    * (doc_a, doc_b, jaccard), doc_a < doc_b, the exact arithmetic of
    * [[ngramJaccardPairs]]. Caller contract: corpus and batch doc_ids are
    * disjoint.
    */
  /** Exact DIRECTED n-gram containment pairs: C(a→b) = |S_a ∩ S_b| / |S_a|
    * ≥ threshold, a ≠ b — the asymmetric twin of [[ngramJaccardPairs]]
    * (Broder 1997 distinguishes resemblance from containment). Jaccard
    * misses the training-corpus case that matters most: a short document
    * fully quoted INSIDE a much longer one scores near-zero Jaccard
    * (union is large) but containment 1.0. Same inverted-index bound
    * (Σdf² via the optional `maxDocFreq` cap), same clone
    * canonicalization — identical shingle sets join once as a
    * representative and expand back exactly, with DIRECTION preserved
    * (the denominator follows the source side's set size; intra-group
    * pairs are 1.0 both ways by identity).
    */
  def ngramContainmentPairs(
      docs: DataFrame, n: Int, threshold: Double, maxDocFreq: Long = 0L,
      checkpointDir: Option[String] = None): DataFrame = {
    val sets = materialized(
      shingleSets(docs, n, widen = true)
        .withColumn("__ck", xxhash64(concat_ws("\u0001", col("shingles")))),
      checkpointDir)
    val groups = sets.select("doc_id", "__ck")
    val repIds = groups.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    val repSets = sets.join(repIds, Seq("__ck", "doc_id"))
    val sizes = repSets.select(col("doc_id"), size(col("shingles")).as("n_shingles"))
    val inv0 = repSets.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    val inv =
      if (maxDocFreq <= 0) inv0
      else {
        val rare = inv0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("s")
        inv0.join(rare, "s")
      }
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("ra"), col("n_shingles").as("na")), "ra")
      .join(sizes.select(col("doc_id").as("rb"), col("n_shingles").as("nb")), "rb")
    // directed rep pairs: denominator = the SOURCE side's set size
    val repDir = common
      .select(col("ra"), col("rb"), col("na").as("n_a"), col("n_common"),
        (col("n_common").cast("double") / col("na").cast("double")).as("containment"))
      .unionByName(common
        .select(col("rb").as("ra"), col("ra").as("rb"), col("nb").as("n_a"),
          col("n_common"),
          (col("n_common").cast("double") / col("nb").cast("double")).as("containment")))
      .filter(col("containment") >= threshold)
    val ckOfRep = repIds.select(col("doc_id").as("__rep"), col("__ck"))
    // expansion keeps direction: source members come from the SOURCE
    // rep's group, destination members from the destination's
    val expanded = repDir
      .join(ckOfRep.select(col("__rep").as("ra"), col("__ck").as("cka")), "ra")
      .join(ckOfRep.select(col("__rep").as("rb"), col("__ck").as("ckb")), "rb")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("doc_a")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("doc_b")), "ckb")
      .select("doc_a", "doc_b", "n_a", "n_common", "containment")
    val grpSize = sets.select(col("__ck"), size(col("shingles")).as("n_a"))
      .dropDuplicates("__ck")
    val intra = groups.as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.doc_id") =!= col("y.doc_id"))
      .join(grpSize.withColumnRenamed("__ck", "ck2"),
        col("x.__ck") === col("ck2"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("n_a"), col("n_a").cast("long").as("n_common"),
        lit(1.0).as("containment"))
    expanded.unionByName(intra)
  }

  def ngramJaccardPairsIncremental(
      corpus: DataFrame, batch: DataFrame, n: Int, threshold: Double,
      maxDocFreq: Long = 0L,
      checkpointDir: Option[String] = None): DataFrame = {
    val all = corpus.select(col("doc_id"), col("text"), lit(false).as("is_new"))
      .unionByName(batch.select(col("doc_id"), col("text"), lit(true).as("is_new")))
    // same clone canonicalization as ngramJaccardPairs — a batch of
    // verbatim re-crawls (the COMMON increment in practice) must not pay
    // g clones x df postings each; only DIRTY groups (containing >= 1 new
    // member) drive the index join, one representative per distinct set
    val sets0 = materialized(
      shingleSets(all.select("doc_id", "text"), n)
        .withColumn("__ck", xxhash64(concat_ws("\u0001", col("shingles"))))
        .join(all.select("doc_id", "is_new"), "doc_id"), checkpointDir)
    val groups = sets0.select("doc_id", "__ck", "is_new")
    val repIds = groups.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    val dirty = groups.filter(col("is_new")).select("__ck").distinct()
      .withColumn("__dirty", lit(true))
    val repSets = sets0.join(repIds, Seq("__ck", "doc_id"))
      .join(dirty, Seq("__ck"), "left")
      .withColumn("__dirty", coalesce(col("__dirty"), lit(false)))
    val sizes = repSets.select(col("doc_id"), size(col("shingles")).as("n_shingles"))
    val inv0 = repSets.select(col("doc_id"), col("__dirty"), explode(col("shingles")).as("s0"))
      .select(col("doc_id"), col("__dirty"), xxhash64(col("s0")).as("s"))
    val inv =
      if (maxDocFreq <= 0) inv0
      else inv0.join(
        inv0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDocFreq).select("s"), "s")
    // orientation guard at the GROUP level: a dirty rep always drives;
    // dirty-dirty pairs form once (a < b), dirty-clean once (only the
    // dirty side drives), clean-clean never
    val common = inv.filter(col("__dirty")).as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id")
          && (!col("b.__dirty") || col("a.doc_id") < col("b.doc_id")))
      .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("ra"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("rb"))
      .agg(count(lit(1)).as("n_common"))
    val repPairs = common
      .join(sizes.withColumnRenamed("doc_id", "ra").withColumnRenamed("n_shingles", "na"), "ra")
      .join(sizes.withColumnRenamed("doc_id", "rb").withColumnRenamed("n_shingles", "nb"), "rb")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("ra", "rb", "jaccard")
    // expand group pairs to member pairs that TOUCH the batch
    val ckOfRep = repIds.select(col("doc_id").as("rep"), col("__ck"))
    val expanded = repPairs
      .join(ckOfRep.select(col("rep").as("ra"), col("__ck").as("cka")), "ra")
      .join(ckOfRep.select(col("rep").as("rb"), col("__ck").as("ckb")), "rb")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("ma"),
        col("is_new").as("ma_new")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("mb"),
        col("is_new").as("mb_new")), "ckb")
      .filter(col("ma_new") || col("mb_new"))
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    // intra-group clone pairs touching the batch: exactly 1.0, driven by
    // new members only (a clean group never self-joins)
    val intra = groups.filter(col("is_new")).as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.doc_id") =!= col("y.doc_id")
          && (!col("y.is_new") || col("x.doc_id") < col("y.doc_id")))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        lit(1.0).as("jaccard"))
    expanded.unionByName(intra)
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard over shingles.
    * Returns (doc_a, doc_b, est_jaccard, jaccard) for verified pairs.
    *
    * The band-bucket self-join runs on slim (doc_id, bucket) rows; the
    * signature and shingle arrays are re-attached to the deduplicated
    * candidate pairs by key afterwards, so the widest shuffle carries two
    * longs per row instead of the full arrays × bands.
    */
  def minhashLshPairs(
      docs: DataFrame, n: Int, threshold: Double,
      numPerms: Int = 64, bands: Int = 16,
      checkpointDir: Option[String] = None): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val rowsPerBand = numPerms / bands
    // `__ck` canonicalizes IDENTICAL shingle sets (exact clones), the
    // ngramJaccardPairs contraction: signature, band buckets, est and
    // exact jaccard are all FUNCTIONS of the set, so one representative
    // per set runs the whole bucket-join + verify and pairs expand back
    // exactly afterwards — a group of g clones costs g·pairs instead of
    // g²·bands candidate rows (measured ×9 over linear on a ×100
    // clone-heavy corpus without this).
    val sets0 = materialized(shingleSets(docs, n, widen = true)
      .withColumn("__ck", xxhash64(concat_ws("\u0001", col("shingles")))),
      checkpointDir)
    val repIds = sets0.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    // referenced three times (bucketing + both re-attach joins)
    val sets = materialized(sets0
      .join(repIds, Seq("__ck", "doc_id"))
      .withColumn("sig", Sketches.minhashSignature(col("shingles"), numPerms))
      .filter(col("sig").isNotNull), checkpointDir)
    // members of groups whose rep survived the sig filter (sig is
    // set-determined, so survival is group-uniform by construction)
    val groups = sets0.select("doc_id", "__ck")
      .join(sets.select(col("__ck")), "__ck")
    val buckets = sets
      .select(col("doc_id"), explode(Sketches.bandKeys(col("sig"), bands, rowsPerBand)).as("bucket"))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val repPairs = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("est_jaccard", Sketches.estJaccard(col("sig_a"), col("sig_b")))
      .withColumn("jaccard", Sketches.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
    // expand representatives back to members: cross-group pairs inherit
    // the rep pair's est/jaccard bit-for-bit (identical signatures and
    // sets); intra-group pairs are exactly est = 1.0 (all numPerms
    // components equal) and jaccard = 1.0 (|∩| = |∪|), which every
    // threshold ≤ 1 keeps — identical to what the un-canonicalized join
    // emits for clone pairs
    val ckOfRep = repIds.select(col("doc_id").as("__rep"), col("__ck"))
    val expanded = repPairs
      .join(ckOfRep.select(col("__rep").as("doc_a"), col("__ck").as("cka")), "doc_a")
      .join(ckOfRep.select(col("__rep").as("doc_b"), col("__ck").as("ckb")), "doc_b")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("ma")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("mb")), "ckb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        col("est_jaccard"), col("jaccard"))
    val intra = groups.as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("est_jaccard"), lit(1.0).as("jaccard"))
    expanded.unionByName(intra)
  }

  /** Partial-overlap (containment) pairs via winnowing fingerprints
    * ([[graft.expressions.WinnowExpr]]): documents sharing ≥ `minShared`
    * fingerprints, paired through a fingerprint inverted index. Catches a
    * copied paragraph inside otherwise-different documents — which
    * whole-set Jaccard dilutes below any usable threshold.
    */
  def winnowingPairs(
      docs: DataFrame, k: Int = 16, w: Int = 12, minShared: Int = 5,
      checkpointDir: Option[String] = None): DataFrame = {
    // materialize the fingerprint pass BEFORE filter + self-join: without
    // the cut, Catalyst substitutes the `size(fps) > 0` filter below the
    // project (evaluating the winnow expression ~3x per row) and the
    // self-join recomputes the whole pipeline on each side — profiled at
    // 6 evaluations per document vs 1 here (q35 round-5 triage, PLANS.md)
    // `__ck` canonicalizes identical fingerprint SETS (exact clones) —
    // the ngramJaccardPairs contraction: the quadratic inverted-index
    // join runs over one representative per set, pairs expand back
    // exactly (shared counts are set-determined), and intra-group pairs
    // share ALL fingerprints (winnow emits a distinct set, so
    // n_shared = |fps| bit-for-bit)
    // no widen here: measured 1.59 → 1.99 s at sf0.1 — the winnow pass is
    // cheaper than the text shuffle it would buy (contrast shingleSets)
    val fps0 = materialized(
      docs.select(col("doc_id"),
        graft.expressions.WinnowExpr.winnowFingerprints(
          TextFunctions.normalizeText(col("text")), k, w).as("fps")),
      checkpointDir)
      .filter(size(col("fps")) > 0)
      .withColumn("__ck", xxhash64(col("fps")))
    val groups = fps0.select(col("doc_id"), col("__ck"), size(col("fps")).as("nfp"))
    val repIds = groups.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    val fps = fps0.join(repIds, Seq("__ck", "doc_id"))
    val inv = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    val repPairs = inv.as("a").join(inv.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val ckOfRep = repIds.select(col("doc_id").as("__rep"), col("__ck"))
    val expanded = repPairs
      .join(ckOfRep.select(col("__rep").as("doc_a"), col("__ck").as("cka")), "doc_a")
      .join(ckOfRep.select(col("__rep").as("doc_b"), col("__ck").as("ckb")), "doc_b")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("ma")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("mb")), "ckb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("n_shared"))
    val intra = groups.as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.nfp").cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
    expanded.unionByName(intra)
  }

  /** SimHash near-dup pairs within `maxHamming` (≤ 3 for complete 4-block
    * blocking). Returns (doc_a, doc_b, hamming).
    *
    * Canonicalized on the FINGERPRINT itself (the ngramJaccardPairs
    * contraction, one step simpler): the simhash is a pure function of the
    * token stream, so exact clones share it, the block self-join runs over
    * one representative per DISTINCT fingerprint, and pairs expand back —
    * cross-group pairs inherit the rep pair's hamming (same fingerprints),
    * intra-group pairs are hamming 0 ≤ every maxHamming. A clone group of
    * g costs g·pairs in the expansion instead of g²·4 block-join rows.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame =
    // no widen here: measured 1.08 → 1.84 s at sf0.1 — the simhash pass is
    // cheaper than the text shuffle it would buy (contrast shingleSets)
    hammingPairs64(
      docs.select(col("doc_id"),
        Sketches.simhash(TextFunctions.tokens(col("text"))).as("simhash")),
      "doc_id", "simhash", maxHamming, checkpointDir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))

  /** Hamming ≤ `maxHamming` pairs over ANY (id, 64-bit hash) table —
    * complete 4×16-bit band blocking (two hashes within Hamming 3 agree
    * on at least one 16-bit block, pigeonhole), with identical-hash
    * canonicalization: the block join runs over one REPRESENTATIVE per
    * distinct hash and pairs expand back afterwards, so an exact-clone
    * group costs g·pairs instead of g² candidate rows per block (the
    * ngramJaccardPairs `__ck` discipline applied to the hash domain).
    * Emits (id_a, id_b, hamming) with id_a < id_b. Shared by
    * [[simhashPairs]] (text) and the perceptual-image dedup query
    * (dHash over decoded media, q283).
    */
  def hammingPairs64(hashed0: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, checkpointDir: Option[String] = None): DataFrame = {
    require(maxHamming <= 3, "4x16-bit blocking is only complete for hamming <= 3")
    // referenced three ways (rep derivation + both expansion sides + intra):
    // one hash pass over the corpus, not five
    val hashed = materialized(
      hashed0.select(col(idCol).as("__id"), col(hashCol).as("__h")), checkpointDir)
    val repIds = hashed.groupBy("__h").agg(min(col("__id")).as("__id"))
    val blocks = repIds.select(col("__id"), col("__h"),
      explode(Sketches.simhashBlocks(col("__h"))).as("blk"))
    val repPairs = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.__id") < col("b.__id"))
      .select(
        col("a.__h").as("h_a"), col("b.__h").as("h_b"),
        bit_count(col("a.__h").bitwiseXOR(col("b.__h"))).as("hamming"))
      .dropDuplicates("h_a", "h_b")
      .filter(col("hamming") <= maxHamming)
    val expanded = repPairs
      .join(hashed.select(col("__h").as("h_a"), col("__id").as("ma")), "h_a")
      .join(hashed.select(col("__h").as("h_b"), col("__id").as("mb")), "h_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hamming"))
    val intra = hashed.as("x").join(hashed.as("y"),
        col("x.__h") === col("y.__h") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        bit_count(lit(0L)).as("hamming"))
    expanded.unionByName(intra)
  }

  /** Hamming-ball dedup CLUSTERS over a 64-bit hash table WITHOUT pair
    * expansion — the closure twin of [[hammingPairs64]] for consumers that
    * want the DELETE list, not the pairs. Identical-hash families are
    * Hamming-0 cliques by construction, so the family needs no edges at
    * all: one hash aggregate contracts every id to its family minimum,
    * the band blocking runs over DISTINCT hashes only, the component
    * closure runs on the rep pairs (cross-family edges), and members
    * rejoin by hash. Output (doc_id, cluster_id, is_survivor) is
    * row-identical to `Components.neardupClustersContracted(
    * hammingPairs64(...), clique = hamming === 0)` — spec-pinned — but
    * the clone quadratic (Σ family² emitted pair rows) never exists: at
    * a ×100 clone-heavy probe the pair-expanded route spent ~10 minutes
    * mostly emitting and re-aggregating ~10⁸ Hamming-0 rows this path
    * never builds.
    */
  def hammingDedupClusters(hashed0: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val hashed = materialized(
      hashed0.select(col(idCol).as("__id"), col(hashCol).as("__h")), checkpointDir)
    val fam = hashed.groupBy("__h").agg(min(col("__id")).as("rep"))
    val repPairs = hammingPairs64(
        fam.select(col("rep").as("id"), col("__h").as("h")), "id", "h",
        maxHamming, checkpointDir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val comp = Components.connectedComponents(repPairs, "doc_a", "doc_b",
      checkpointDir = checkpointDir)
    hashed.join(fam, "__h")
      .join(comp.select(col("id").as("rep"), col("cluster_id")), Seq("rep"), "left")
      .select(col("__id").as("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
  }

  /** Dedup CLUSTERS by set overlap over ANY (id, element) table — the
    * set-valued generalization of [[hammingDedupClusters]]'s family-first
    * discipline: two ids are near-dups when they share at least half of
    * the smaller one's distinct elements (the gate is the INTEGER
    * comparison 2·shared ≥ min(|a|,|b|) — no float threshold), and
    * clusters are the transitive closure. Identical element SETS form
    * overlap-1 cliques, so each id first contracts to its set-signature
    * family minimum (one collect_set + md5 aggregate), the inverted-index
    * pair join runs over DISTINCT sets only (Σ per-element df² of
    * distinct-set reps, never the clone quadratic), the component closure
    * over qualifying rep pairs, and members rejoin by signature. Used by
    * the video near-dup query (q290: elements = per-frame dHashes); the
    * operator is domain-agnostic (any exact-match element works —
    * shingle hashes, frame hashes, minhash bands).
    */
  def setOverlapDedupClusters(items: DataFrame, idCol: String, elemCol: String,
      checkpointDir: Option[String] = None): DataFrame = {
    val sets = items.select(col(idCol).as("__id"), col(elemCol).as("__e")).distinct()
    val sigs = materialized(
      sets.groupBy("__id")
        .agg(sort_array(collect_set(col("__e"))).as("__hs"))
        .withColumn("__sig", md5(to_json(col("__hs")))), checkpointDir)
    val fam = materialized(
      sigs.groupBy("__sig")
        .agg(min(col("__id")).as("rep"), first(col("__hs")).as("__hs")),
      checkpointDir)
    val repElems = fam.select(col("rep"), size(col("__hs")).as("nf"),
      explode(col("__hs")).as("__e"))
    val shared = repElems.as("a").join(repElems.as("b"),
        col("a.__e") === col("b.__e") && col("a.rep") < col("b.rep"))
      .groupBy(col("a.rep").as("doc_a"), col("b.rep").as("doc_b"),
        col("a.nf").as("na"), col("b.nf").as("nb"))
      .agg(count(lit(1)).as("shared"))
    val repPairs = shared
      .filter(col("shared") * 2 >= least(col("na"), col("nb")))
      .select("doc_a", "doc_b")
    val comp = Components.connectedComponents(repPairs, "doc_a", "doc_b",
      checkpointDir = checkpointDir)
    sigs.join(fam.select(col("__sig"), col("rep")), "__sig")
      .join(comp.select(col("id").as("rep"), col("cluster_id")), Seq("rep"), "left")
      .select(col("__id").as("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
  }

  /** Both shingle sets attached to a candidate pair list — the shingling
    * pass runs ONCE (materialized) even though it feeds both join sides,
    * and ONLY over docs that appear in a pair: the downstream joins are
    * inner on pair doc ids, so shingling non-participants is pure waste —
    * at corpus scale the candidate list is vanishingly small next to the
    * corpus, making the verify pass O(pairs), not O(corpus). Pairs whose
    * docs have no n-grams (< n tokens) drop out (inner join), matching
    * the shingle-CTE oracle shape.
    */
  private def pairsWithShingles(docs: DataFrame, pairs: DataFrame, n: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    val ids = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // no broadcast hint: AQE picks broadcast while the pair list is small
    // (the normal case) and falls back to a shuffled semi-join if a
    // pathological candidate list outgrows the threshold
    val sets = materialized(
      shingleSets(docs.join(ids, Seq("doc_id"), "left_semi"), n),
      checkpointDir)
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
  }

  /** Exact n-gram Jaccard recomputed for an explicit (doc_a, doc_b)
    * candidate list — the verification half of a sketch pipeline, exposed
    * separately so the emitted pairs can be oracle-replayed: the sketch
    * generates candidates, this computes the exact score a serial engine
    * can hash-compare.
    */
  def verifyPairsJaccard(docs: DataFrame, pairs: DataFrame, n: Int,
      checkpointDir: Option[String] = None): DataFrame =
    pairsWithShingles(docs, pairs, n, checkpointDir)
      .withColumn("jaccard", Sketches.jaccard(col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")

  /** Exact n-gram containment |A∩B| / min(|A|,|B|) for an explicit
    * candidate list — the partial-overlap twin of [[verifyPairsJaccard]]
    * (containment is the score winnowing candidates are judged by, since
    * whole-set Jaccard dilutes a copied paragraph).
    */
  def verifyPairsContainment(docs: DataFrame, pairs: DataFrame, n: Int,
      checkpointDir: Option[String] = None): DataFrame =
    pairsWithShingles(docs, pairs, n, checkpointDir)
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
      .drop("sh_a", "sh_b")

  /** (vec_id, embedding, nrm) with the exact per-vector norm — computed
    * once per vector so pair verification needs a single dot product.
    */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      Similarity.normExact(col("embedding")).as("nrm"))

  /** Exact cosine near-dup pairs over embeddings: cos ≥ threshold, a < b.
    * O(n²) compare — correct-by-construction baseline; use
    * [[embeddingNearDupLsh]] at scale. The double prefilter + guard band
    * keeps the decimal-exact recompute off the n² hot path.
    */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val v = withNorm(emb)
    val a = v.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .filter(Similarity.cosineFromParts(
        Similarity.dotFast(col("ea"), col("eb")), col("na"), col("nb"))
        >= threshold - CosGuard)
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** SemDeDup candidate pairs (Abbas et al. 2023): exact-cosine near-dup
    * pairs generated only WITHIN a clustering cell — `assign` is a
    * (vec_id, cluster) frame (typically [[KMeans.run]] output). Same
    * double-prefilter + decimal-exact recompute as
    * [[embeddingNearDupPairs]], but the self-join carries the cluster key,
    * so candidate volume is Σ|cell|² ≈ n²/k instead of n² — k grows with
    * the corpus (SemDeDup runs 50k cells on LAION) and per-cell work stays
    * constant; cross-cell near-dups are consciously forfeited (the
    * documented recall trade).
    */
  def semDedupPairs(emb: DataFrame, assign: DataFrame,
      threshold: Double): DataFrame = {
    val v = withNorm(emb).join(assign.select("vec_id", "cluster"), "vec_id")
    val a = v.select(col("cluster"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = v.select(col("cluster"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(Similarity.cosineFromParts(
        Similarity.dotFast(col("ea"), col("eb")), col("na"), col("nb"))
        >= threshold - CosGuard)
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("cluster", "vec_a", "vec_b", "cos")
  }

  /** Random-hyperplane LSH bucketing: vectors agreeing on all `bits` sign
    * bits of a table land in one bucket; exact cosine verifies candidates.
    * Recall < 1 by construction (per-table hit prob (1−θ/π)^bits; tested
    * against the brute-force baseline). Bucket join is slim (vec_id,
    * table, bucket); embeddings re-attach to deduped candidates by key.
    */
  /** (vec_id, bkt) rows: one struct(table_idx, bucket) per LSH table, the
    * shared bucketing behind [[embeddingNearDupLsh]] (threshold pairs) and
    * [[knnTopKLsh]] (graph building). Planes are deterministic ~N(0,1)
    * via Box–Muller over splitmix64 streams — no RNG state to ship.
    */
  /** Deterministic single-table hyperplane partition of the corpus:
    * (vec_id, cluster) with cluster = the `bits`-bit sign signature —
    * directionally-similar vectors share a cell. The one-pass coarse
    * partitioner for [[semDedupPairs]] above kmeans-tractable sizes: the
    * paper's kmeans cells exist for semantic coherence, which sign
    * agreement approximates at a single scan (no Lloyd iterations, no
    * n·k assignment dots — at 20k vectors the k = n/250 kmeans
    * assignment alone cost 4.8M decimal dot products).
    */
  def lshCells(emb: DataFrame, bits: Int, dim: Int = 64): DataFrame =
    hyperplaneBuckets(emb, bits, dim, tables = 1)
      .select(col("vec_id"), col("bkt.bucket").as("cluster"))

  private def hyperplaneBuckets(
      emb: DataFrame, bits: Int, dim: Int, tables: Int): DataFrame = {
    val planes: Seq[Seq[Float]] = (0 until tables * bits).map { p =>
      (0 until dim).map { d =>
        val u1 = (Sketches.splitmix64((p * dim + d) * 2L + 1) >>> 11) / 9007199254740992.0
        val u2 = (Sketches.splitmix64((p * dim + d) * 2L + 2) >>> 11) / 9007199254740992.0
        (math.sqrt(-2.0 * math.log(u1 + 1e-300)) * math.cos(2.0 * math.Pi * u2)).toFloat
      }
    }
    val sigCols = (0 until tables).map { t =>
      val key = (0 until bits).map { b =>
        when(Similarity.dotFast(col("embedding"),
          typedLit(planes(t * bits + b))) >= 0, lit(1)).otherwise(lit(0))
      }.reduceLeft((a, b) => a * 2 + b)
      struct(lit(t).as("table_idx"), key.as("bucket"))
    }
    emb.select(col("vec_id"), explode(array(sigCols: _*)).as("bkt"))
  }

  def embeddingNearDupLsh(
      emb: DataFrame, threshold: Double, bits: Int = 4, dim: Int = 64,
      tables: Int = 8, checkpointDir: Option[String] = None): DataFrame = {
    // `__ck` canonicalizes on the FULL LSH SIGNATURE (every table's
    // bucket, order-canonical, hashed): vectors in the same cell agree on
    // ALL tables × bits sign bits — exact clones always, perturbed
    // re-crawl copies usually (at θ ≈ 0.6° a pair agrees on all 273
    // planes of the ×100 knobs with p ≈ 0.6). Candidate generation runs
    // ONCE per cell pair instead of once per (table, member, member):
    //  - the per-table bucket join runs over cell REPRESENTATIVES only;
    //  - rep pairs expand to member pairs AFTER the rep-level dedup, so
    //    a near-clone cluster's quadratic enters the candidate stream
    //    once, not `tables` times (the fixed ×100 failure mode: 21 tables
    //    × Σ|cluster|²/2 ≈ 7×10⁹ candidate rows filled the shuffle disk);
    //  - within-cell member pairs are candidates by construction (they
    //    share every bucket).
    // Unlike an exact-clone contraction, same-cell vectors are NOT
    // identical — so every expanded pair is still individually verified
    // with the double prefilter + decimal-exact cosine; the contraction
    // changes WHERE candidates come from, never the emitted arithmetic.
    // Recall for a cross-cell pair now keys on its REPS sharing a bucket
    // (rep angle ≈ pair angle ± cell diameter — cells are signature-tight
    // by construction).
    val v0 = materialized(withNorm(emb), checkpointDir)
    val allBuckets = materialized(
      hyperplaneBuckets(emb, bits, dim, tables), checkpointDir)
    val groups = materialized(
      allBuckets.groupBy("vec_id")
        .agg(xxhash64(sort_array(collect_list(col("bkt")))).as("__ck")),
      checkpointDir)
    val repIds = groups.groupBy("__ck").agg(min(col("vec_id")).as("vec_id"))
    val repBuckets = allBuckets.join(repIds, Seq("vec_id"))
    // Ball-cover pruning of the rep candidate join (round-11 ×100
    // decomposition: 93 M rep bucket pairs expanded to 352 M member
    // candidates of which only 11.2 M verified — 31× bloat, all of it
    // spent on exact cosines that fail). Each cell carries its angular
    // RADIUS (max member↔rep angle); by the triangle inequality a member
    // pair's angle is at least angle(reps) − radius_a − radius_b, so a
    // rep pair with acos(cos(reps)) > acos(threshold) + radius_a +
    // radius_b + ε cannot produce ANY member pair at or above the
    // threshold — dropping it BEFORE expansion changes nothing in the
    // emitted set (the bound is sound; ε = 1e-5 rad dominates the
    // ≲1e-7 rad double-dot error, and NULL geometry keeps the pair).
    // Rep geometry (vector, norm, radius) is a cell-level table —
    // occupancy-bounded in the design regime, where it broadcasts under
    // the same small-side rule as every other dimension join here. But
    // "occupancy-bounded" is a property of the CORPUS, not the operator:
    // on a low-duplication corpus above the routing cutoff the cell count
    // approaches n, and a forced broadcast of ~n 64-float rows is a
    // driver OOM, not a plan choice. So the hint is size-gated on the
    // measured cell count (the q128/q187 hash-gate routing precedent):
    // at or below [[ballCoverBroadcastMaxCells]] (~50 MB serialized at
    // the 64-dim row width) the join broadcasts; above it the hint is
    // dropped and the join degrades to a shuffle — same rows either way,
    // pinned by NearDupSpec across both routes.
    val repVec = repIds.join(v0, "vec_id")
      .select(col("__ck"), col("embedding").as("re"), col("nrm").as("rn"))
    val clampCos = (c: Column) => least(greatest(c, lit(-1.0)), lit(1.0))
    val radius = groups.join(v0, "vec_id").join(repVec, "__ck")
      .select(col("__ck"),
        acos(clampCos(Similarity.cosineFromParts(
          Similarity.dotFast(col("embedding"), col("re")),
          col("nrm"), col("rn")))).as("ang"))
      .groupBy("__ck").agg(max(col("ang")).as("radius"))
    val repGeo = materialized(
      repIds.join(v0, "vec_id").join(radius, "__ck")
        .select(col("vec_id").as("rid"), col("embedding").as("rv"),
          col("nrm").as("rnrm"), col("radius")),
      checkpointDir)
    // cheap after materialization: a block-stat count, no recompute
    val broadcastGeo = repGeo.count() <= ballCoverBroadcastMaxCells
    val geoSide = (suffix: String) => {
      val side = repGeo.select(
        col("rid").as(s"r$suffix"), col("rv").as(s"rv$suffix"),
        col("rnrm").as(s"rn$suffix"), col("radius").as(s"rad$suffix"))
      if (broadcastGeo) broadcast(side) else side
    }
    val acosT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val repCand = repBuckets.as("a").join(repBuckets.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ra"), col("b.vec_id").as("rb"))
      .join(geoSide("a"), "ra").join(geoSide("b"), "rb")
      .filter(coalesce(
        acos(clampCos(Similarity.cosineFromParts(
          Similarity.dotFast(col("rva"), col("rvb")), col("rna"), col("rnb"))))
          <= lit(acosT) + col("rada") + col("radb") + lit(1e-5),
        lit(true)))
      .select(col("ra"), col("rb"))
      .dropDuplicates("ra", "rb")
    val ckOfRep = repIds.select(col("vec_id").as("__rep"), col("__ck"))
    // cells are disjoint, so an expanded member pair arises from exactly
    // one rep pair — no post-expansion dedup needed
    val cross = repCand
      .join(ckOfRep.select(col("__rep").as("ra"), col("__ck").as("cka")), "ra")
      .join(ckOfRep.select(col("__rep").as("rb"), col("__ck").as("ckb")), "rb")
      .join(groups.select(col("__ck").as("cka"), col("vec_id").as("ma")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("vec_id").as("mb")), "ckb")
      .select(least(col("ma"), col("mb")).as("vec_a"),
        greatest(col("ma"), col("mb")).as("vec_b"))
    val intra = groups.as("x").join(groups.as("y"),
        col("x.__ck") === col("y.__ck") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    cross.unionByName(intra)
      .join(v0.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")), "vec_a")
      .join(v0.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")), "vec_b")
      .filter(Similarity.cosineFromParts(
        Similarity.dotFast(col("ea"), col("eb")), col("na"), col("nb"))
        >= threshold - CosGuard)
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact(col("ea"), col("eb")), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Size-scaled hyperplane knobs for THRESHOLD-pair LSH
    * ([[embeddingNearDupLsh]]) — the [[scaledLshKnobs]] contract applied
    * to the pair join, with `tables` solved from the recall target at the
    * caller's threshold instead of fixed. At or below `smallN` the
    * defaults (4 bits, 8 tables) hold — verification scales keep their
    * hash-stable pair sets. Above it:
    *
    *  - `bits` grows with log₂(n/250) so expected bucket occupancy — and
    *    therefore candidate volume, ~n·occupancy per table — stays LINEAR
    *    in n instead of quadratic. This is the guard the ×100 probe
    *    demanded: fixed 4-bit buckets put n/16 vectors in each bucket and
    *    the candidate join wrote ~1.25×10¹¹ rows to shuffle disk at 200k
    *    vectors; scaled bits hold occupancy at ~250 regardless of n.
    *  - `tables` is the smallest count whose compounded per-table hit
    *    probability p = (1−θ/π)^bits reaches `recallTarget` at the DESIGN
    *    POINT cos = max(threshold, 0.9) — the near-dup regime the
    *    operator exists for — capped at `maxTables`. Solving at a loose
    *    caller threshold instead would be a trap twice over: no table
    *    count holds 0.95 recall at θ ≈ 66° (the solve just slams into
    *    the cap), and every extra table RE-EMITS every near-clone
    *    cluster's true-pair quadratic into the candidate join (clones
    *    share all buckets of all tables — the clone-cluster floor is
    *    tables·Σ|cluster|²/2, measured as the dominant ×100 candidate
    *    term). Pairs between the threshold and the design point recall
    *    lower — the documented forfeit for loose thresholds; pairs at
    *    ≥ 0.95 recall higher than the target.
    */
  def scaledPairLshKnobs(
      n: Long, threshold: Double, smallN: Long = 10000L,
      recallTarget: Double = 0.95, maxTables: Int = 24): (Int, Int) =
    if (n <= smallN) (4, 8)
    else {
      val bits = math.max(4,
        math.ceil(math.log(n / 250.0) / math.log(2.0)).toInt)
      val design = math.max(threshold, 0.9)
      val theta = math.acos(math.max(-1.0, math.min(1.0, design)))
      val pTable = math.pow(1.0 - theta / math.Pi, bits)
      val tables =
        if (pTable >= 1.0) 1
        else math.min(maxTables, math.max(6,
          math.ceil(math.log1p(-recallTarget) / math.log1p(-pTable)).toInt))
      (bits, tables)
    }

  /** Adaptive exact-vs-LSH routing for threshold pairs — the
    * [[graft.queries.GraphQueries.knnGraphEdges]] contract applied to
    * [[embeddingNearDupPairs]]: at or below `smallN` vectors the exact
    * O(n²) join runs (verification scales demand the exact pair set and
    * n² is affordable there); above it the corpus routes through
    * [[embeddingNearDupLsh]] at [[scaledPairLshKnobs]], whose candidate
    * volume follows bucket occupancy (~250·n) instead of n² — recall < 1
    * by construction for pairs near the threshold (the documented trade;
    * the knobs hold ≥ `0.95` where geometry allows, see the knob doc).
    */
  def embeddingNearDupPairsAuto(
      emb: DataFrame, threshold: Double, smallN: Long = 10000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val n = emb.count()
    if (n <= smallN) embeddingNearDupPairs(emb, threshold)
    else {
      val (bits, tables) = scaledPairLshKnobs(n, threshold, smallN)
      embeddingNearDupLsh(emb, threshold, bits = bits, tables = tables,
        checkpointDir = checkpointDir)
    }
  }

  /** Exact top-k cosine neighbors for each query vector (brute force with a
    * broadcast query side; ties broken by vec_id). Ranking uses the exact
    * cosine so the order is reproducible against a serial oracle.
    *
    * Phase 1 cuts the field to k + margin per query with double-precision
    * scores (|fast − exact| ≲ 1e-13, so an exact-top-k member can only be
    * lost if ≥ margin candidates sit within that band of the cut — not a
    * thing on real data) — through [[graft.functions.TopKAgg]], NOT a
    * window: a window sort shuffles every scored (query, candidate) row
    * (O(|Q|·|C|)), while the bounded aggregator's map-side partials carry
    * ≤ k+margin rows per query per partition, so the exchange is
    * O(|Q|·k·partitions) no matter how big the corpus is. Same output:
    * the aggregator's (score DESC, id ASC, NaN first) order is the window
    * ordering verbatim. Phase 2: decimal-exact re-rank of the survivors
    * only, with the slim shortlist broadcast back onto the corpus.
    */
  def knnBruteForce(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(queries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn")))
    // fan out the 1-task small-file corpus scan: the |corpus|×|queries|
    // dot products fuse onto it and run serially otherwise (measured
    // 1.3-1.4 s single-task jobs behind q22/q163/q214; see Tables.widen)
    val c = withNorm(graft.Tables.widen(corpus))
      .select(col("vec_id").as("n_id"), col("embedding").as("ne"), col("nrm").as("nn"))
    val margin = 20
    val topkFn = graft.functions.TopKAgg.topK(k + margin)
    val shortlist = c.join(q, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), Similarity.cosineFromParts(
        Similarity.dotFast(col("qe"), col("ne")), col("qn"), col("nn")).as("fast"))
      .groupBy("q_id")
      .agg(topkFn(col("fast"), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    c.join(broadcast(shortlist.join(q, "q_id")), "n_id")
      .withColumn("cos", Similarity.cosineFromParts(
        Similarity.dotExact(col("qe"), col("ne")), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Sparse LEXICAL cosine near-dup pairs: documents as TF-IDF vectors over
    * the corpus vocabulary, candidate pairs from the term inverted index
    * (cost Σ df(term)² like [[ngramJaccardPairs]] — never O(n²)), cosine
    * assembled from decimal-exact dot products and norms (the q22 cosSql
    * discipline, so a serial engine replays it bit-for-bit). The sparse
    * twin of [[embeddingNearDupPairs]]: lexical overlap where that one is
    * semantic.
    *
    * `maxDocFreqFrac` caps the vocabulary RELATIVE to corpus size: terms
    * in more than that fraction of documents are dropped from the VECTORS
    * entirely (dot AND norm — a well-defined capped-vocabulary cosine,
    * replayed identically by the oracle). A fraction, not an absolute df:
    * on a fixed vocabulary every term's df scales linearly with the
    * corpus, so an absolute cap that keeps the discriminative mid-band at
    * one scale silently empties the whole vocabulary at 10× (measured on
    * the harness data: df ≤ 64 kept 300 pairs at sf0.01 and exactly zero
    * candidates at sf0.1). The cap is the 100 TB knob: IDF already pushes
    * hub terms toward zero weight while their df² candidate blowup is
    * what actually kills the join — dropping them bounds the inverted
    * index the way ngramJaccardPairs' hub-shingle cap does. Weights are
    * tf·ln(D/df) rounded at 12 dp (the q115 scoring fragment).
    */
  def tfidfCosinePairs(
      docs: DataFrame, threshold: Double, maxDocFreqFrac: Double = 0.15,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val occ = docs.select(col("doc_id"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
    // (doc × word)-sized cut: __ck derivation and the rep projection read it
    val tf = materialized(
      occ.groupBy("doc_id", "word").agg(count(lit(1)).as("tf")), checkpointDir)
    // `__ck` canonicalizes IDENTICAL token MULTISETS (exact clones), the
    // ngramJaccardPairs contraction: tf·idf weights, norms, dots and cosine
    // are all functions of the multiset (df counts members, see below), so
    // the Σ df² inverted-index join runs over one REPRESENTATIVE per
    // multiset — a corpus where every doc has g clones costs the g=1 join,
    // not g²·Σdf² (measured ×10 over linear on a ×100 clone-heavy corpus
    // without this). sort_array makes the hash input order-canonical.
    val ck = materialized(tf
      .groupBy("doc_id")
      .agg(xxhash64(sort_array(collect_list(struct(col("word"), col("tf")))))
        .as("__ck")), checkpointDir)
    val repIds = ck.groupBy("__ck").agg(min(col("doc_id")).as("doc_id"))
    val gsz = ck.groupBy("__ck").agg(count(lit(1)).as("gsz"))
    val dTot = docs.agg(count(lit(1)).as("d_total"))
    // df counts DOCUMENTS (clones included): rep tf rows weighted by
    // group size reproduce the raw per-word document frequency exactly
    val repTf = tf.join(ck, "doc_id").join(repIds, Seq("__ck", "doc_id"))
    val dfreq = repTf.join(gsz, "__ck")
      .groupBy("word").agg(sum(col("gsz")).as("df"))
      .crossJoin(broadcast(dTot))
      .filter(col("df") <= ceil(lit(maxDocFreqFrac) * col("d_total")))
      .select("word", "df")
    // read four ways below (norms + self-dots + both join sides) — cut once
    val wts = materialized(repTf
      .join(dfreq, "word")
      .crossJoin(broadcast(dTot))
      .select(col("doc_id"), col("word"),
        round(col("tf").cast("double")
          * log(col("d_total").cast("double") / col("df").cast("double")), 12)
          .as("w")), checkpointDir)
    val norms = wts.groupBy("doc_id")
      .agg(sqrt(sum((col("w") * col("w")).cast(DecimalType(38, 20)))
        .cast("double")).as("nrm"))
    val dots = wts.as("a").join(wts.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.w") * col("b.w")).cast(DecimalType(38, 20)).as("p"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("p")).cast("double").as("dot"))
    val repPairs = dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 12).as("cos"))
    // expand representatives back to members. Cross-group pairs inherit
    // the rep pair's cos bit-for-bit (identical weight vectors). An
    // intra-group pair's dot is Σ w·w over the ONE shared vector — the
    // identical decimal sum the direct join would produce — divided by
    // nrm² (NOT analytically 1.0: sqrt(x)² ≠ x in IEEE, and the oracle
    // replays the same two-step arithmetic).
    val selfCos = wts
      .groupBy("doc_id")
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 20)))
        .cast("double").as("dself"))
      .join(norms, "doc_id")
      .withColumn("cos", col("dself") / (col("nrm") * col("nrm")))
      .filter(col("cos") >= threshold)
      .select(col("doc_id"), round(col("cos"), 12).as("cos"))
    val ckOfRep = repIds.select(col("doc_id").as("__rep"), col("__ck"))
    val groups = ck.select("doc_id", "__ck")
    val expanded = repPairs
      .join(ckOfRep.select(col("__rep").as("doc_a"), col("__ck").as("cka")), "doc_a")
      .join(ckOfRep.select(col("__rep").as("doc_b"), col("__ck").as("ckb")), "doc_b")
      .join(groups.select(col("__ck").as("cka"), col("doc_id").as("ma")), "cka")
      .join(groups.select(col("__ck").as("ckb"), col("doc_id").as("mb")), "ckb")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("cos"))
    val intra = selfCos
      .join(ckOfRep.select(col("__rep").as("doc_id"), col("__ck")), "doc_id")
      .join(groups.select(col("__ck"), col("doc_id").as("ma")), "__ck")
      .join(groups.select(col("__ck"), col("doc_id").as("mb")), "__ck")
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("doc_a"), col("mb").as("doc_b"), col("cos"))
    expanded.unionByName(intra)
  }

  /** Approximate top-k cosine neighbors for EVERY vector via hyperplane-LSH
    * candidate generation + exact re-rank — the 100 TB similarity-GRAPH
    * constructor. [[knnBruteForce]] with the whole corpus as the query side
    * is O(n²) dots (a 100× corpus means 10,000× work); here candidates come
    * from the [[hyperplaneBuckets]] join, so per-vector work follows bucket
    * occupancy (~n/2^bits per table), and a corpus scale-up re-tunes with
    * `bits`/`tables` instead of collapsing. Same output contract as
    * knnBruteForce — (q_id, n_id, cos, rank), exact cosines, (cos DESC,
    * n_id ASC) order — with recall < 1 by construction: a true neighbor
    * sharing no bucket in any table is missed (per-table hit probability
    * (1−θ/π)^bits). AnnSpec pins recall ≥ 0.95 against the brute-force
    * baseline at the default knobs; vectors whose every candidate falls
    * outside all their tables' buckets can emit < k rows.
    *
    * Selection is the bounded [[graft.functions.TopKAgg]] per q_id (no
    * corpus-wide window sort), identical to the brute-force path, so plan
    * shape stays O(candidates) end to end.
    *
    * Knob guidance: candidate volume per table is ~n²/2^bits, recall per
    * neighbor at angle θ is 1−(1−(1−θ/π)^bits)^tables. The defaults
    * (3 bits, 16 tables) hold recall ≥ 0.95 for θ ≲ 80° neighbors — the
    * top-k regime, where "nearest" is not necessarily NEAR — at the cost
    * of n/8-sized buckets, the right trade below ~10⁵ vectors. At larger
    * n, grow `bits` with log₂(n/target_bucket) and `tables` to hold the
    * recall product, or prefer [[Ann.ivfTopK]] with the corpus as the
    * query side: on clustered corpora (the realistic case) IVF's learned
    * cells give a better recall/candidate trade than data-oblivious
    * hyperplanes. On corpora whose top-k neighbors sit near 90° (no
    * cluster structure at all), no sublinear candidate scheme holds high
    * recall — the fused-codegen [[knnBruteForce]] is then the honest
    * exact path until the corpus outgrows a single pass.
    */
  /** Size-scaled hyperplane knobs for FULL-CORPUS graph builds: at or
    * below `smallN` (where exact brute force is affordable anyway) the
    * defaults hold the measured 0.98 recall on wide-angle corpora; above
    * it, bits grow with log₂(n/16) so bucket occupancy — and therefore
    * candidate volume — stays ~constant per vector (measured at 20k
    * vectors: 98 s at 7 bits → 13 s at 11 bits, recall 1.0), and 24
    * tables compound per-table misses. Caveat (also in [[knnTopKLsh]]):
    * on corpora whose top-k neighbors sit near 90°, recall at high bits
    * collapses by geometry — no sublinear candidate scheme survives
    * there, and the honest path is brute force until the corpus
    * outgrows a single pass. Realistic large embedding corpora are
    * clustered (neighbors at small angles), which is precisely where
    * the scaled knobs hold recall.
    */
  def scaledLshKnobs(n: Long, smallN: Long = 10000L): (Int, Int) =
    if (n <= smallN) (3, 16)
    else (math.max(3,
      math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt), 24)

  def knnTopKLsh(
      emb: DataFrame, k: Int, bits: Int = 3, dim: Int = 64,
      tables: Int = 16): DataFrame = {
    val bucketed = hyperplaneBuckets(emb, bits, dim, tables)
    // directed candidates: each vector collects neighbors from its own
    // buckets (both orientations of every shared-bucket pair)
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"))
      .dropDuplicates("q_id", "n_id")
    val v = withNorm(emb)
    val qside = v.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      col("nrm").as("qn"))
    val nside = v.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      col("nrm").as("nn"))
    // two-phase verify (file-header discipline, the embeddingKnn shape):
    // the codegen'd DOUBLE dot ranks all candidates and a bounded top
    // (k + margin) per vector survives; only survivors pay the ~10×
    // decimal-exact cosine. On a clone-heavy corpus candidates per vector
    // track cluster size (hyperplanes cannot split near-0° neighbors), so
    // exact-scoring every candidate was the dominant cost of the ×100
    // graph build. margin covers double-vs-decimal ordering churn
    // (|fast − exact| ≲ 1e-13 for unit-ish 64-dim vectors); when a
    // vector's candidates fit inside k + margin the result is identical
    // to exact-scoring everything, by construction.
    val margin = 20
    val shortFn = graft.functions.TopKAgg.topK(k + margin)
    val shortlist = cand
      .join(qside, "q_id")
      .join(nside, "n_id")
      .select(col("q_id"), col("n_id"), Similarity.cosineFromParts(
        Similarity.dotFast(col("qe"), col("ne")), col("qn"), col("nn")).as("fast"))
      .groupBy("q_id")
      .agg(shortFn(col("fast"), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    val topkFn = graft.functions.TopKAgg.topK(k)
    shortlist
      .join(qside, "q_id")
      .join(nside, "n_id")
      .select(col("q_id"), col("n_id"), Similarity.cosineFromParts(
        Similarity.dotExact(col("qe"), col("ne")), col("qn"), col("nn")).as("cos"))
      .groupBy("q_id")
      .agg(topkFn(col("cos"), col("n_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"), col("t.score").as("cos"),
        (col("pos") + 1).as("rank"))
  }
}
