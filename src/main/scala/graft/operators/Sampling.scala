package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus sampling and rank-binning primitives that avoid the two naive
  * shapes that die at 100 TB: a global ORDER BY ... LIMIT n (single-task
  * sort of the corpus) and an unpartitioned ranking window.
  *
  * [[sampleExactN]] draws EXACTLY n rows, deterministically, as "the n
  * smallest values of a seeded id scramble" — a fixed-size uniform-ish
  * sample whose membership is reproducible in any engine (unlike
  * `df.sample`, which is fraction-based, partitioning-dependent, and
  * non-replayable). The selection rides [[graft.functions.TopKAgg]]: each
  * partition's partial carries at most n candidates, so the exchange is
  * O(partitions·n) instead of a corpus sort.
  *
  * [[rankBins]] assigns each row its global rank-based bin (decile,
  * percentile, ...) under a total order — the "quality bucketing" step of
  * curriculum/filter pipelines — via [[Packing.prefixSumBy]]'s two-phase
  * scan: range-repartition, per-partition counts to the driver, broadcast
  * base offsets. No single-partition stage anywhere.
  */
object Sampling {

  /** Exactly `min(n, |df|)` rows of `df`, chosen as the n smallest seeded
    * scrambles of `idCol` (non-negative, unique). Deterministic for a
    * given (corpus, seed) and replayable as
    * `ORDER BY scramble(id), id LIMIT n` — the partitioning does not change
    * membership, because TopKAgg's (score, id) comparator is a total order.
    */
  def sampleExactN(df: DataFrame, idCol: String, n: Int, seed: Long): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val topkFn = graft.functions.TopKAgg.topK(n)
    // TopKAgg keeps the HIGHEST scores: negate the scramble so "n smallest
    // scrambles" is the kept set; scrambles are < 2^30, exact in a double
    val scored = df
      .select(col(idCol), (-Sharding.scramble(col(idCol), seed).cast("double")).as("__neg"))
    val picked = scored
      .agg(topkFn(col("__neg"), col(idCol)).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as(idCol))
    // n rows — always the broadcast side
    df.join(broadcast(picked), idCol)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, "Weighted random sampling with a reservoir"): keep the
    * n rows with the largest priority  uᵢ^(1/wᵢ)  — equivalently the
    * largest  ln(uᵢ)/wᵢ  — where uᵢ ∈ (0,1] is a seeded uniform derived
    * from the row id ([[Sharding.scramble]], so membership is replayable
    * in any engine as `ORDER BY round(ln(u)/w, 12) DESC, id LIMIT n`).
    * Inclusion probability is proportional-to-weight without replacement —
    * the quality-weighted corpus subsample that doesn't need a global
    * sort: selection rides the same bounded [[graft.functions.TopKAgg]]
    * partials as [[sampleExactN]] (O(partitions·n) exchange), never
    * ORDER BY ... LIMIT over the corpus.
    *
    * Priorities are rounded to 12 dp BEFORE selection (ties broken by id)
    * so the last-ulp of two engines' `ln` cannot flip membership. Rows
    * with weight ≤ 0 are excluded by contract (weight 0 = never drawn).
    */
  def sampleWeighted(df: DataFrame, idCol: String, weightCol: String, n: Int,
      seed: Long): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val topkFn = graft.functions.TopKAgg.topK(n)
    val u = (Sharding.scramble(col(idCol), seed).cast("double") + 1.0) / 1000000008.0
    val scored = df
      .filter(col(weightCol) > 0)
      .select(col(idCol),
        round(log(u) / col(weightCol).cast("double"), 12).as("__pri"))
    val picked = scored
      .agg(topkFn(col("__pri"), col(idCol)).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.id").as(idCol))
    df.join(broadcast(picked), idCol)
  }

  /** Adds `bin` ∈ [0, nBins): the row's global rank-based bin under
    * ascending (orderCols...) — bin = rank·nBins div total, so bins differ
    * in size by at most 1 (the ntile split without ntile's unpartitioned
    * window). The order-key tuple must be duplicate-free (append a unique
    * tiebreaker, exactly like [[Packing.prefixSumBy]] requires).
    */
  def rankBins(df: DataFrame, orderCols: Seq[String], nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    val (ranked, total) = Packing.prefixSumByWithTotal(
      df.withColumn("__one", lit(1L)), orderCols, "__one", "__rank")
    // total comes from the SAME per-partition counts the ranks were built
    // from (prefixSumByWithTotal), so it cannot disagree with max(__rank)+1
    // even on a nondeterministic input — and it saves the independent count
    // scan. rank·nBins rides DECIMAL(38,0): exact past the ~10¹⁸-row point
    // where the Long product would silently wrap.
    ranked
      .withColumn("bin",
        expr(s"CAST((CAST(__rank AS DECIMAL(38,0)) * ${nBins}L) div ${total}L AS INT)"))
      .drop("__one", "__rank")
  }

  /** Quantile normalization across strata: adds `calibrated` = the GLOBAL
    * score value at the same quantile the row occupies WITHIN its stratum
    * — the cross-source score-calibration step that makes per-source
    * quality scores comparable before a global threshold (heterogeneous
    * scorers / source-specific score distributions are the norm in
    * web-scale curation).
    *
    * target global rank = r_s·(n−1) div max(m−1, 1), with r_s the row's
    * 0-based within-stratum rank, m its stratum size, n the corpus size.
    *
    * Scale shape: within-stratum ranks do NOT use a stratum-partitioned
    * window (one task per stratum = one task per SOURCE — fatal when a
    * source is a third of the corpus). Instead: one global two-phase
    * prefix scan over (stratum, score, id) gives a global rank from which
    * each stratum's broadcast base offset is subtracted; a second scan
    * over (score, id) gives the global value-by-rank table, equi-joined
    * on the target rank. Every stage is parallel; driver state is bounded
    * by partition count + stratum count. Rank arithmetic multiplies
    * r_s·(n−1), which exceeds a Long past ~3·10⁹ rows — the product is
    * routed through DECIMAL(38,0) ([[targetRank]]), exact to 10³⁸, i.e.
    * for any corpus whose row count fits in a Long.
    *
    * (score, id) tuples must be duplicate-free per [[Packing.prefixSumBy]];
    * `idCol` is the usual unique tiebreaker.
    */
  def quantileNormalize(df: DataFrame, strataCol: String, scoreCol: String,
      idCol: String): DataFrame = {
    val keyed = df.withColumn("__one", lit(1L))
    val (bySrc, n) = Packing.prefixSumByWithTotal(
      keyed, Seq(strataCol, scoreCol, idCol), "__one", "__gr")
    val strata = bySrc.groupBy(strataCol)
      .agg(min(col("__gr")).as("__base"), count(lit(1)).as("__m"))
    val globalRanked = Packing.prefixSumBy(
      keyed, Seq(scoreCol, idCol), "__one", "__rg")
      .select(col("__rg").as("__target"), col(scoreCol).as("calibrated"))
    bySrc
      .join(broadcast(strata), strataCol)
      .withColumn("__target", targetRank("__gr", "__base", "__m", n))
      .join(globalRanked, "__target")
      .drop("__one", "__gr", "__base", "__m", "__target")
  }

  /** Target-rank arithmetic for [[quantileNormalize]]: (gr − base)·(n−1)
    * div max(m−1, 1). The product exceeds Long past ~3·10⁹ rows (√2⁶³), so
    * it rides DECIMAL(38,0) — exact up to 10³⁸, which covers any Long row
    * count (max product ≈ 8.5·10³⁷) — and only the final integral-divide
    * result, always < n, returns to BIGINT. Package-private so the
    * overflow spec can drive it with synthetic near-boundary ranks.
    */
  private[graft] def targetRank(grCol: String, baseCol: String, mCol: String,
      nTotal: Long): org.apache.spark.sql.Column =
    expr(s"CAST((CAST($grCol - $baseCol AS DECIMAL(38,0)) * ${nTotal - 1}L)" +
      s" div greatest($mCol - 1, 1L) AS BIGINT)")
}
