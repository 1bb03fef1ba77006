package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys. A plain shuffle join sends every row
  * of a hot key to one reducer; salting fans the probe side out over
  * `factor` salt buckets (hash-derived, deterministic) and replicates the
  * build side once per bucket, so a hot key's work spreads across `factor`
  * tasks. Result is row-identical to the unsalted join.
  *
  * AQE's skew-join split handles sort-merge cases adaptively; explicit
  * salting remains the lever when AQE can't help (aggregations over the
  * join, or key skew known ahead of time). Cost: build side ×factor — use
  * on dimension-sized build sides only.
  */
object SkewJoin {

  /** Inner equi-join of `probe` and `build` on `keys`, salted `factor`
    * ways. `build` is replicated `factor` times (keep it the small side).
    */
  def saltedEquiJoin(
      probe: DataFrame, build: DataFrame, keys: Seq[String], factor: Int): DataFrame = {
    require(factor >= 1)
    // salt must be DETERMINISTIC per row: a nondeterministic salt (row id,
    // rand) used as a shuffle key duplicates/loses rows under partial
    // stage retry (same class as SPARK-23207); hash of the whole row keeps
    // retries stable and spreads a hot key by its non-key columns
    val salted = probe.withColumn("_salt",
      pmod(xxhash64(probe.columns.toIndexedSeq.map(col): _*), lit(factor.toLong)).cast("int"))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(replicated, keys :+ "_salt").drop("_salt")
  }
}
