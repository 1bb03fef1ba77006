package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sum + training-sequence packing.
  *
  * LLM pre-training concatenates documents in a fixed order and chunks the
  * token stream into fixed-capacity sequences ("concat-and-chunk" packing).
  * The primitive is an exclusive running sum of token counts in a total
  * order — which naive Spark expresses as a GLOBAL window (`Window.orderBy`
  * with no partition), collapsing 100 TB onto one task.
  *
  * [[prefixSum]] is the classic two-phase scan instead:
  *   1. range-repartition on the (unique) order key, so partition i holds
  *      keys strictly below partition i+1, and pin the layout with
  *      [[Components.cut]];
  *   2. one tiny job computes per-partition totals (numPartitions rows to
  *      the driver), whose exclusive scan gives each partition's base
  *      offset;
  *   3. a broadcast join attaches the base offset and a WITHIN-partition
  *      running window adds local position — every stage parallel, driver
  *      state bounded by the partition count.
  */
object Packing {

  /** Adds `out` = exclusive prefix sum of `valueCol` (cast to long) in
    * ascending `orderCol` order. `orderCol` values must be unique (ties
    * would make the total order, and so the sum, ambiguous). The scan is
    * `spark.sql.shuffle.partitions` wide.
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String, out: String): DataFrame =
    prefixSumBy(df, Seq(orderCol), valueCol, out)

  /** [[prefixSum]] over a composite order key: ascending lexicographic
    * (orderCols...) order, which must be duplicate-free as a TUPLE — this
    * is how a non-unique primary sort column (a hash, a score) gets a
    * deterministic total order by appending a unique tiebreaker.
    */
  def prefixSumBy(df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String): DataFrame =
    prefixSumByWithTotal(df, orderCols, valueCol, out)._1

  /** As [[prefixSumBy]], but also returns the grand total of `valueCol` —
    * read off the per-partition counts the scan already collected for its
    * base offsets, NOT an independent re-scan of `df`. Callers that need
    * "rank out of total" (rank binning, quantile mapping) must use this
    * total: a second scan of a nondeterministic input could disagree with
    * the materialized ranks, and even on deterministic input it is a wasted
    * pass.
    */
  def prefixSumByWithTotal(df: DataFrame, orderCols: Seq[String], valueCol: String,
      out: String): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "prefixSumBy needs at least one order column")
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = Components.cut(df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.head, orderCols.tail: _*)
      .withColumn("__pid", spark_partition_id())) // pin partition ids + cut lineage
    val totals = parted.groupBy("__pid").agg(sum(col(valueCol).cast("long")).as("t"))
      // an all-NULL partition sums to NULL — treat as 0, matching the
      // window sum below which skips nulls
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val offsets = (0 until n).scanLeft(0L)((acc, i) => acc + totals.getOrElse(i, 0L))
    val offsetDf = df.sparkSession.createDataFrame(
      (0 until n).map(i => (i, offsets(i))).toList).toDF("__pid", "__base")
    val local = Window.partitionBy("__pid").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = parted
      .join(broadcast(offsetDf), "__pid")
      .withColumn(out,
        coalesce(sum(col(valueCol).cast("long")).over(local), lit(0L)) + col("__base"))
      .drop("__pid", "__base")
    (ranked, offsets(n))
  }

  /** Concat-and-chunk packing: documents in ascending `orderCol` order are
    * laid head-to-tail on a token tape cut every `capacity` tokens. Adds
    *   `offset`  — the document's start position on the tape,
    *   `bin_id`  — the training sequence its first token lands in,
    *   `bin_pos` — position within that sequence.
    * Documents may straddle sequence boundaries (GPT-style packing; the
    * no-split greedy variant is prefix-dependent and inherently
    * sequential, so it does not distribute).
    */
  def packBins(df: DataFrame, orderCol: String, tokenCol: String,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    prefixSum(df, orderCol, tokenCol, "offset")
      .withColumn("bin_id", expr(s"offset div ${capacity}L")) // integral div (`/` would widen to double)
      .withColumn("bin_pos", col("offset") % capacity)
  }
}
