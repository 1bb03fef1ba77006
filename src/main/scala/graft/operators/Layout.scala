package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout utilities: how tables should be WRITTEN so reads scale.
  *
  * - [[writePartitioned]]: hive-style directory partitioning on low-
  *   cardinality columns → equality/IN predicates prune whole directories
  *   before any I/O (`PartitionFilters` in the scan, vs `PushedFilters`
  *   which still opens files). The first lever for 100 TB time-series:
  *   partition by date, prune to the queried window.
  */
object Layout {

  /** Write hive-partitioned parquet: one directory per distinct value
    * combination of `cols` (keep them low-cardinality).
    */
  def writePartitioned(df: DataFrame, dir: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(dir)

  /** Morton (Z-order) value over numeric columns, each first normalized to
    * a `bits`-bit bucket index by [[bucketize]], then bit-interleaved
    * (result bit i·k+j = bit i of column j). Built entirely from codegen'd
    * shift/and/or built-ins — no UDF on the write path.
    */
  def zValue(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty && bits * buckets.size <= 63,
      s"z-value needs bits*cols <= 63, got $bits*${buckets.size}")
    val k = buckets.size
    buckets.zipWithIndex.map { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Scale a numeric column to integer buckets [0, 2^bits) between lo and
    * hi (inclusive). Width-based (min/max come from ONE corpus aggregate —
    * no global window, no sort): heavily skewed columns get uneven bucket
    * occupancy, where a range-partitioner rank would equalize them at the
    * cost of a sampling pass; both normalizations feed the same interleave.
    */
  def bucketize(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val n = 1L << bits
    least(lit(n - 1), greatest(lit(0L),
      floor((c.cast("double") - lo) / nullif(hi - lo, lit(0.0)) * n).cast("long")))
  }

  /** Z-ordered parquet: rows clustered by the Morton value of `cols`, so
    * per-file (and row-group) min/max stay tight on EVERY listed column —
    * multi-dimensional box predicates skip files, where a linear sort only
    * serves its leading column. The curve value is computed per row from
    * broadcast min/max, range-partitioned, sorted within files, dropped
    * before write.
    */
  def writeZOrdered(df: DataFrame, dir: String, cols: Seq[String], files: Int,
      bits: Int = 12): Unit = {
    val aggExprs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__lo_$c"),
      max(col(c).cast("double")).as(s"__hi_$c")))
    val agg = df.agg(aggExprs.head, aggExprs.tail: _*)
    // fan out the 1-task small-file scan before the per-row curve-key
    // computation — the range partitioner's sampling pass and the final
    // exchange's map side otherwise both run it serially (see Tables.widen)
    val z = graft.Tables.widen(df)
      .crossJoin(broadcast(agg))
      .withColumn("__z", zValue(
        cols.map(c => bucketize(col(c), col(s"__lo_$c"), col(s"__hi_$c"), bits)), bits))
    z.repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop(cols.map(c => Seq(s"__lo_$c", s"__hi_$c")).flatten :+ "__z": _*)
      .write.mode("overwrite").parquet(dir)
  }

  /** 2-D Hilbert curve index of two bucketized coordinates (each already in
    * [0, 2^bits), e.g. from [[bucketize]]) — a native codegen'd loop
    * ([[graft.expressions.HilbertIndex]]; a built-ins composition nests the
    * per-plane CASEs exponentially in `bits` and OOMs analysis at 12 bits).
    * Same no-UDF write-path contract as [[zValue]].
    *
    * Why a second curve: Morton order teleports between quadrant
    * boundaries (consecutive curve positions can be spatially far), while
    * every Hilbert step moves to a spatially ADJACENT cell — so equal-size
    * curve ranges map to tighter spatial boxes, i.e. tighter per-file
    * min/max on both columns for the same file count. LayoutSpec pins the
    * adjacency property (every consecutive step has Manhattan distance 1)
    * and that Hilbert's total spatial jump length beats Morton's on the
    * same grid.
    */
  def hilbertValue(xb: Column, yb: Column, bits: Int): Column =
    graft.expressions.HilbertIndex(xb, yb, bits)

  /** Hilbert-ordered parquet over exactly two numeric columns — the
    * locality-preserving sibling of [[writeZOrdered]]: curve value from
    * broadcast min/max, range-partitioned, sorted within files, dropped
    * before write.
    */
  def writeHilbertOrdered(df: DataFrame, dir: String, cols: Seq[String],
      files: Int, bits: Int = 12): Unit = {
    require(cols.size == 2, s"2-D Hilbert layout needs exactly 2 columns, got ${cols.size}")
    val aggExprs = cols.flatMap(c => Seq(
      min(col(c).cast("double")).as(s"__lo_$c"),
      max(col(c).cast("double")).as(s"__hi_$c")))
    val agg = df.agg(aggExprs.head, aggExprs.tail: _*)
    val buck = cols.map(c => bucketize(col(c), col(s"__lo_$c"), col(s"__hi_$c"), bits))
    // same fan-out rationale as writeZOrdered above
    val h = graft.Tables.widen(df)
      .crossJoin(broadcast(agg))
      .withColumn("__h", hilbertValue(buck(0), buck(1), bits))
    h.repartitionByRange(files, col("__h"))
      .sortWithinPartitions("__h")
      .drop(cols.map(c => Seq(s"__lo_$c", s"__hi_$c")).flatten :+ "__h": _*)
      .write.mode("overwrite").parquet(dir)
  }
}
