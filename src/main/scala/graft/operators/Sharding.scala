package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-data export: deterministic global shuffle, round-robin
  * sharding, and hash-bucket train/val/test splits.
  *
  * Every LLM pre-training pipeline ends the same way: the curated corpus
  * is written out in a SEEDED RANDOM ORDER (so a sequential reader sees an
  * unbiased sample stream), cut into N equal shards (so N loader workers
  * stream disjoint files), with a held-out split whose membership is a
  * pure function of the document id (so membership never changes as the
  * corpus grows — the property a rank-percentile split lacks).
  *
  * The naive Spark expression of "global random permutation rank" is
  * `row_number()` over an unpartitioned window — a single-task sort of the
  * whole corpus. [[shuffleShards]] instead rides [[Packing.prefixSumBy]]'s
  * two-phase scan: range-repartition on (scramble, id), per-partition
  * counts to the driver (numPartitions rows), broadcast base offsets back.
  * Every stage is parallel and the driver state is bounded by the
  * partition count, so the permutation holds at any corpus size.
  *
  * Ordering is by an overflow-safe Knuth multiplicative scramble (reduce
  * mod p BEFORE multiplying — see the q71 note: the raw product overflows
  * Long exactly when ids get big, where Spark wraps silently but an
  * oracle engine widens, breaking equivalence). The scramble is a
  * bijection on [0, p) so ids below p collide only via the id tiebreaker;
  * production would swap in `xxhash64(id, seed)` — same operator shape,
  * not DuckDB-replayable.
  */
object Sharding {

  private val P = 1000000007L

  /** Seed-mixed multiplicative scramble of a non-negative integral id
    * column; values in [0, p). Deterministic across engines: every step
    * stays inside Long for ANY non-negative id — both operands reduce
    * mod p BEFORE the add (id + seed raw could wrap Long for ids within
    * `seed` of Long.MaxValue — silently in Spark, an error in a widening
    * oracle engine) and before the multiply (max intermediate is
    * (p−1)·mult ≈ 2.65e18 < 2⁶³).
    */
  def scramble(id: Column, seed: Long, mult: Long = 2654435761L): Column =
    ((id % P + lit(((seed % P) + P) % P)) % P * mult) % P

  /** SQL twin of [[scramble]] for oracle replay — identical arithmetic,
    * every step in BIGINT range, so a widening engine (DuckDB) computes
    * the exact same values.
    */
  def scrambleSql(idExpr: String, seed: Long, mult: Long = 2654435761L): String =
    s"(((($idExpr % $P) + ${((seed % P) + P) % P}) % $P) * $mult) % $P"

  /** Adds to each row:
    *   `rank`      — position in the seeded global permutation (0-based),
    *   `shard_id`  — rank % nShards (round-robin: shard sizes differ by
    *                 at most 1, with no knowledge of the corpus size),
    *   `shard_pos` — rank div nShards (read order within the shard),
    *   `split`     — 'train'/'val'/'test' by hash bucket of the id under
    *                 an INDEPENDENT scramble (different multiplier and
    *                 shifted seed), so split membership is uncorrelated
    *                 with shard order and stable under corpus growth.
    *
    * `idCol` must be unique and non-negative.
    */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int, seed: Long,
      trainPct: Int = 90, valPct: Int = 5): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val keyed = df
      .withColumn("__scr", scramble(col(idCol), seed))
      .withColumn("__one", lit(1L))
    val bucket = scramble(col(idCol), seed + 1, mult = 2246822519L) % 100
    Packing.prefixSumBy(keyed, Seq("__scr", idCol), "__one", "rank")
      .withColumn("shard_id", (col("rank") % nShards).cast("int"))
      .withColumn("shard_pos", expr(s"rank div ${nShards}L"))
      .withColumn("split",
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test"))
      .drop("__scr", "__one")
  }
}
