package graft.operators

import graft.functions.Sketches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data curation operators (driver north star §2b): the sampling /
  * filtering stages between raw corpus and training mix.
  *
  *  - [[stratifiedSample]]: deterministic per-stratum downsampling — the
  *    data-mixing primitive ("keep 5% of web, 100% of reference text").
  *    Hash-gated rather than random: reproducible across retries, stable
  *    under repartitioning, and joinable (the same row is kept in every
  *    derived dataset). One codegen'd filter, no shuffle at all.
  *  - [[decontaminate]]: drop corpus documents sharing ≥ `minShared`
  *    word n-grams with a benchmark/blocklist corpus — the standard
  *    eval-contamination guard. Same inverted-index shape as
  *    [[NearDup.ngramJaccardPairs]]: the blocklist side collapses to
  *    DISTINCT shingle hashes (8 bytes each), the join is shuffle-on-hash,
  *    and nothing is ever O(|corpus| · |blocklist|).
  */
object Curation {

  /** Uniform-ish [0,1) from a key column via xxhash64 — the production
    * sampling gate (well-mixed bits; salt gives independent draws for
    * independent sampling decisions).
    */
  def uniformFromHash(key: Column, salt: Long = 0L): Column =
    pmod(xxhash64(key, lit(salt)), lit(1000000L)).cast("double") / lit(1000000.0)

  /** Keep each row iff `u` < its stratum's rate; strata absent from `rates`
    * are dropped (rate 0). `u` defaults to [[uniformFromHash]] of
    * `keyCol` — pass an explicit expression when the gate must be
    * reproducible in another engine (see q50's integer-arithmetic gate).
    */
  def stratifiedSample(
      df: DataFrame, strataCol: String, rates: Map[String, Double],
      u: Column): DataFrame = {
    val rateCol = rates.foldLeft(lit(0.0)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(u < rateCol)
  }

  def stratifiedSample(
      df: DataFrame, strataCol: String, keyCol: String,
      rates: Map[String, Double]): DataFrame =
    stratifiedSample(df, strataCol, rates, uniformFromHash(col(keyCol)))

  /** Corpus rows whose text shares ≥ `minShared` distinct word `n`-grams
    * with ANY blocklist document are removed. Counting is against the
    * blocklist's shingle UNION (one hit per distinct shingle), so a phrase
    * appearing in many benchmark docs still counts once — the conservative
    * contamination definition.
    */
  def decontaminate(
      corpus: DataFrame, blocklist: DataFrame, n: Int, minShared: Int): DataFrame = {
    val corpusShingles = corpus
      .select(col("doc_id"), explode(Sketches.wordShingles(col("text"), n)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
    val blocked = blocklist
      .select(explode(Sketches.wordShingles(col("text"), n)).as("s"))
      .select(xxhash64(col("s")).as("s"))
      .distinct()
    val contaminated = corpusShingles.join(blocked, "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select("doc_id")
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** FineWeb-style source balancing: cap any single source's share of the
    * corpus at `maxShare` by deterministically downsampling
    * overrepresented sources — rate_s = min(1, maxShare·total/n_s), so
    * underrepresented sources pass untouched and a capped source's kept
    * volume lands at ≈ maxShare·total. Rates are DATA-DERIVED (they move
    * as the corpus grows) while the keep decision per row is a pure
    * function of the id, so a kept row stays kept across reruns and
    * repartitionings of the same snapshot.
    *
    * Two stages: a per-source count aggregate (tiny — source cardinality,
    * not corpus; its total is a broadcast single-row cross join, no
    * driver collect), broadcast back onto the corpus, then one codegen'd
    * filter. The corpus itself never shuffles. The keep gate is the q74
    * integer-scramble arithmetic, replayable in any engine. Output = the
    * kept rows plus their source's `source_keep_rate`.
    *
    * Gate resolution: the gate has 1/10000 granularity, so the effective
    * keep rate floors at ~1e-4 — a source so overrepresented (or a
    * `maxShare` so small) that its computed rate falls below that keeps
    * ~1e-4 of its rows, not the target share. It stays at 10^4 because the
    * q86 oracle replays this exact arithmetic.
    */
  def capSourceShare(
      df: DataFrame, sourceCol: String, idCol: String, maxShare: Double): DataFrame = {
    require(maxShare > 0.0 && maxShare <= 1.0, s"maxShare in (0,1], got $maxShare")
    // pmod, not %: Spark's % is sign-preserving, so a signed id column
    // (e.g. xxhash64-derived) would make the gate negative and those rows
    // bypass the cap entirely; pmod == % on non-negative ids, so the q86
    // oracle replay is unaffected (a signed-id oracle needs ((x%m)+m)%m)
    val g = pmod((col(idCol) % 100003L) * 53L + 11L, lit(10000L)).cast("double") / lit(10000.0)
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(sum("__n").as("__total"))))
      .withColumn("source_keep_rate",
        least(lit(1.0), lit(maxShare) * col("__total") / col("__n")))
      .select(col(sourceCol), col("source_keep_rate"))
    df.join(broadcast(rates), sourceCol)
      .filter(g < col("source_keep_rate"))
  }

  /** C4/RefinedWeb-style boilerplate removal: any segment whose
    * fingerprint occurs in ≥ `minDocs` DISTINCT documents is boilerplate
    * and is removed from EVERY document — including its first occurrence,
    * which is what distinguishes the frequency-threshold rule from
    * passage DEDUP's keep-first (q73): navigation bars, cookie banners
    * and license headers should survive in no document at all.
    *
    * Natural-text pipelines segment on newlines/sentences; the harness
    * corpus has no line structure, so segments are `chunkTokens`-token
    * stride-aligned windows (same segmentation as q73) — the threshold
    * semantics are identical either way.
    *
    * Scale shape: fingerprints shuffle once to count distinct docs (the
    * boiler set is then a vanishing fraction of the corpus), the verdict
    * equi-joins back on fingerprint, and the per-doc reassembly is one
    * hash aggregate carrying ≤ n_chunks (chunk_id, text) pairs per doc.
    * Nothing is all-pairs.
    *
    * Per doc: `n_chunks`, `n_boiler`, `retention`, and `kept_md5` — the
    * md5 of the surviving token stream in chunk order, which pins the
    * actual reconstruction, not just the counts.
    */
  def boilerplateChunkFilter(
      docs: DataFrame, chunkTokens: Int, minDocs: Int): DataFrame = {
    require(chunkTokens > 0 && minDocs > 1,
      s"need chunkTokens > 0 and minDocs > 1, got $chunkTokens / $minDocs")
    val chunks = docs
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(chunkTokens))))
      .select(col("doc_id"), expr(s"start div $chunkTokens").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkTokens))).as("txt"))
      .withColumn("fp", md5(col("txt")))
    val boiler = chunks.groupBy("fp")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("fp"), lit(true).as("is_boiler"))
    chunks.join(boiler, Seq("fp"), "left")
      .withColumn("keep", !coalesce(col("is_boiler"), lit(false)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_boiler"),
        // nulls (dropped chunks) are skipped by collect_list; sort_array
        // on (chunk_id, txt) structs restores document order
        sort_array(collect_list(when(col("keep"), struct(col("chunk_id"), col("txt")))))
          .as("kept"))
      .select(
        col("doc_id"), col("n_chunks"), col("n_boiler"),
        round(lit(1.0) - col("n_boiler").cast("double") / col("n_chunks"), 12)
          .as("retention"),
        md5(concat_ws(" ", transform(col("kept"), k => k.getField("txt"))))
          .as("kept_md5"))
  }
}
