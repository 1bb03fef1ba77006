package graft

import graft.operators.{Sampling, Sharding}
import org.apache.spark.sql.functions._

/** Exact-N sampling and global rank binning: differential equality with
  * the naive single-node formulations, determinism, and the plan shapes
  * that let them scale (bounded TopKAgg partials; no single-partition
  * rank stage).
  */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  test("sampleExactN == ORDER BY scramble LIMIT n; deterministic; subset of input") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val got = Sampling.sampleExactN(docs, "doc_id", n = 100, seed = 7L)
      .select("doc_id").as[Long].collect().sorted
    assert(got.length === 100)
    val naive = docs
      .withColumn("scr", Sharding.scramble(col("doc_id"), 7L))
      .orderBy("scr", "doc_id").limit(100)
      .select("doc_id").as[Long].collect().sorted
    assert(got === naive)
    val again = Sampling.sampleExactN(docs, "doc_id", n = 100, seed = 7L)
      .select("doc_id").as[Long].collect().sorted
    assert(got === again)
    // different seed -> different draw (overwhelmingly)
    val other = Sampling.sampleExactN(docs, "doc_id", n = 100, seed = 8L)
      .select("doc_id").as[Long].collect().sorted
    assert(got !== other)
  }

  test("sampleExactN caps at the corpus size without error") {
    val tiny = Seq(1L, 2L, 3L).toDF("doc_id")
    assert(Sampling.sampleExactN(tiny, "doc_id", n = 100, seed = 1L).count() === 3)
  }

  test("rankBins: bin sizes differ by at most 1, bins monotone in the order key") {
    val binned = Sampling.rankBins(
      Tables.documents(spark, sf).select("doc_id", "n_chars"),
      Seq("n_chars", "doc_id"), nBins = 10)
      .select("doc_id", "n_chars", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val sizes = binned.groupBy(_._3).map(_._2.length)
    assert(sizes.size === 10 && sizes.max - sizes.min <= 1, s"bin sizes: $sizes")
    // ascending (n_chars, doc_id) never decreases the bin
    val sorted = binned.sortBy(r => (r._2, r._1)).map(_._3)
    assert(sorted.sameElements(sorted.sorted))
  }

  test("quantileNormalize: row-preserving, order-preserving within source, extremes map to global extremes") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "n_chars")
    val out = Sampling.quantileNormalize(docs, "source", "n_chars", "doc_id")
      .select("doc_id", "source", "n_chars", "calibrated")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length === docs.count())
    val (gMin, gMax) = (out.map(_._3).min, out.map(_._3).max)
    out.groupBy(_._2).foreach { case (src, rows) =>
      // within a source, ascending (score, id) order is preserved by calibration
      val sorted = rows.sortBy(r => (r._3, r._1))
      val cal = sorted.map(_._4)
      assert(cal.sameElements(cal.sorted), s"$src: calibration broke order")
      // stratum extremes land on (near-)global extremes: rank 0 -> global rank 0
      assert(cal.head === gMin, s"$src: min not calibrated to global min")
      assert(cal.last === gMax, s"$src: max not calibrated to global max")
    }
  }

  test("sampleExactN: the draw at 64 partitions equals the draw at the default width") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source")
    val direct = Sampling.sampleExactN(docs, "doc_id", n = 100, seed = 7L)
      .select("doc_id").as[Long].collect().sorted
    val wide = Sampling.sampleExactN(docs.repartition(64), "doc_id", n = 100, seed = 7L)
      .select("doc_id").as[Long].collect().sorted
    assert(direct.length === 100)
    assert(wide === direct)
  }

  test("quantileNormalize targetRank: exact past the Long-overflow boundary") {
    // 4·10⁹ rows: (gr−base)·(n−1) ≈ 1.6·10¹⁹ > Long.MaxValue — the old
    // Long route wraps silently; the DECIMAL(38,0) route must stay exact
    val n = 4000000000L
    val rows = Seq(
      (0L, 0L, n), // rank 0 — safe in both routes
      (n - 1, 0L, n), // top rank — (n−1)² wraps a Long
      (2500000000L, 0L, n),
      (1234567890L, 1000L, 3000000000L))
    val df = rows.toDF("gr", "base", "m")
    val want = rows.map { case (gr, b, m) =>
      ((BigInt(gr - b) * BigInt(n - 1)) / BigInt(math.max(m - 1, 1L))).toLong }
    val got = df.select(Sampling.targetRank("gr", "base", "m", n)).as[Long].collect()
    assert(got.toSeq === want)
    // the guard is load-bearing: the plain Long route cannot compute these
    // ranks — under ANSI (the session default) it throws ARITHMETIC_OVERFLOW
    // at runtime, and with ANSI off it would silently wrap
    val e = intercept[Exception] {
      df.selectExpr(s"((gr - base) * ${n - 1}L) div greatest(m - 1, 1L)")
        .as[Long].collect()
    }
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }

  test("sampleWeighted == ORDER BY priority LIMIT n; deterministic; width-invariant") {
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    val got = Sampling.sampleWeighted(docs, "doc_id", "n_chars", n = 50, seed = 11L)
      .select("doc_id").as[Long].collect().sorted
    assert(got.length === 50)
    val naive = docs
      .filter(col("n_chars") > 0)
      .withColumn("pri",
        round(log((Sharding.scramble(col("doc_id"), 11L).cast("double") + 1.0)
          / 1000000008.0) / col("n_chars").cast("double"), 12))
      .orderBy(col("pri").desc, col("doc_id")).limit(50)
      .select("doc_id").as[Long].collect().sorted
    assert(got === naive)
    val wide = Sampling.sampleWeighted(
        docs.repartition(64), "doc_id", "n_chars", n = 50, seed = 11L)
      .select("doc_id").as[Long].collect().sorted
    assert(wide === got)
    assert(got !== Sampling.sampleWeighted(docs, "doc_id", "n_chars", n = 50, seed = 12L)
      .select("doc_id").as[Long].collect().sorted)
  }

  test("sampleWeighted: non-positive weights are never drawn; heavier ids dominate") {
    val df = (1L to 200L).map(i => (i, if (i <= 100) 0L else if (i <= 190) 1L else 1000000L))
      .toDF("doc_id", "w")
    val picked = Sampling.sampleWeighted(df, "doc_id", "w", n = 20, seed = 3L)
      .select("doc_id").as[Long].collect().toSet
    assert(picked.forall(_ > 100L), "zero-weight rows must be excluded")
    // the ten 10⁶-weight rows are ~10⁶× likelier per draw than weight-1
    // rows; all ten landing in a 20-of-110 sample is the E-S guarantee,
    // not luck (P(miss any) < 10⁻³ per seed)
    assert((191L to 200L).toSet.subsetOf(picked), s"heavy ids missing: $picked")
  }

  test("rankBins rank window is per-__pid partitioned, not a global window") {
    val p = Sampling.rankBins(
      Tables.documents(spark, sf).select("doc_id", "n_chars"),
      Seq("n_chars", "doc_id"), nBins = 10)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("Window"), "expected the per-partition running window")
    // the window's required exchange hashes on the pinned partition id —
    // the corpus is never collapsed onto one task for ranking. (The bin
    // divisor is a literal from prefixSumByWithTotal's already-collected
    // per-partition counts — no separate count scan or crossJoin at all.)
    assert(p.contains("hashpartitioning(__pid"),
      "rank window must partition by __pid:\n" + p.take(1200))
  }
}
