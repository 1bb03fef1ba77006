package graft

import graft.operators.Layout
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Written layout drives read-side pruning. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("hive-partitioned write prunes directories on the partition predicate") {
    val root = Files.createTempDirectory("graft-layout").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Layout.writePartitioned(events, s"$root/by_type", Seq("event_type"))

    // a scan prunes at plan time when it carries a non-empty partition
    // filter (inspected on the plan nodes: the display string truncates)
    def prunes(condition: String): Boolean =
      spark.read.parquet(s"$root/by_type").filter(condition).queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }
        .exists(_.partitionFilters.exists(!_.references.isEmpty))
    assert(prunes("event_type = 'click'"))
    assert(!prunes("value > 5.0"))
    // directory layout is hive-style and the data round-trips
    assert(new java.io.File(s"$root/by_type/event_type=click").isDirectory)
    val back = spark.read.parquet(s"$root/by_type")
      .filter(col("event_type") === "click").count()
    assert(back === events.filter(col("event_type") === "click").count())
  }

  test("z-order beats linear sort on 2-D box skipping; interleave is correct") {
    // zValue: interleave of buckets 0b101 (cols=1: identity-ish) — hand case
    val z = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zValue(Seq(col("a"), col("b")), bits = 3).as("z"))
      .head().getLong(0)
    // a=101, b=011 -> bits (a0,b0)(a1,b1)(a2,b2) = (1,1)(0,1)(1,0) -> z = 0b011011 = 27
    assert(z === 27L)

    val root = Files.createTempDirectory("graft-layout-z").toString
    // deterministic decorrelated 2-D points (events sf0.001 has only 15
    // distinct user_ids — too lumpy to measure curve locality)
    val pts = spark.range(65536).select(
      (col("id") * 40503 % 4096).as("user_id"),
      (col("id") * 10859 % 4096).as("event_id"))
    Layout.writeZOrdered(pts, s"$root/z", Seq("user_id", "event_id"), files = 64)
    pts.repartitionByRange(64, col("user_id")).sortWithinPartitions("user_id")
      .write.parquet(s"$root/linear")

    assert(spark.read.parquet(s"$root/z").count() === pts.count())

    // candidate ROWS for a 2-D box = rows in files whose min/max intersect
    // the box on BOTH columns — the stats any row-group/file pruner uses.
    // Row mass, not file count: repartitionByRange boundaries come from
    // run-order-seeded sampling, so exact file counts wobble by ±1-2 and
    // a file-count compare flakes; the scanned-row ratio is stable.
    def candidateRows(dir: String, uLo: Long, uHi: Long, eLo: Long, eHi: Long): Long =
      spark.read.parquet(dir)
        .select(input_file_name().as("f"), col("user_id"), col("event_id"))
        .groupBy("f")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("ulo"), max("user_id").as("uhi"),
          min("event_id").as("elo"), max("event_id").as("ehi"))
        .filter(col("uhi") >= uLo && col("ulo") <= uHi &&
          col("ehi") >= eLo && col("elo") <= eHi)
        .agg(coalesce(sum("n"), lit(0L)))
        .head().getLong(0)

    val stats = pts.agg(
      min("user_id"), max("user_id"), min("event_id"), max("event_id")).head()
    val (uLo, uHi) = (stats.getLong(0), stats.getLong(1))
    val (eLo, eHi) = (stats.getLong(2), stats.getLong(3))
    // a box covering 1/8 of each dimension, offset 1/16 past the quarter
    // mark so it sits strictly INSIDE curve-cell boundaries: with 64 files
    // the range split on z lands near the top 6 interleaved bits (an 8x8
    // cell grid), and a quarter-aligned quarter-width box would touch
    // exactly the cell walls — leaving which side wins to sampler noise
    // (the r06 flake). Interior placement makes the gap structural: the
    // box spans ~2x2 of 64 cells (~1/16 of rows) while the linear layout
    // must scan its full user stripe (~1/8 of rows, any event_id).
    val box = (uLo + (uHi - uLo) / 4 + (uHi - uLo) / 16,
      uLo + (uHi - uLo) / 4 + (uHi - uLo) / 16 + (uHi - uLo) / 8,
      eLo + (eHi - eLo) / 4 + (eHi - eLo) / 16,
      eLo + (eHi - eLo) / 4 + (eHi - eLo) / 16 + (eHi - eLo) / 8)

    val zCand = candidateRows(s"$root/z", box._1, box._2, box._3, box._4)
    val linCand = candidateRows(s"$root/linear", box._1, box._2, box._3, box._4)
    assert(zCand < linCand, s"z-order candidate rows $zCand not < linear $linCand")
  }

  test("hilbert curve: bijective, every step spatially adjacent, jumps beat morton") {
    val bits = 5
    val n = 1 << bits // 32x32 grid
    val grid = spark.range(n.toLong * n).select(
      (col("id") % n).as("x"), floor(col("id") / n).cast("long").as("y"))
    val d = grid.select(col("x"), col("y"),
        Layout.hilbertValue(col("x"), col("y"), bits).as("d"),
        Layout.zValue(Seq(col("x"), col("y")), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // bijection onto [0, n^2)
    assert(d.map(_._3).sorted.toSeq === (0L until n.toLong * n).toSeq)
    // walk the curve: every consecutive pair of cells is Manhattan-adjacent
    val walk = d.sortBy(_._3)
    val steps = walk.sliding(2).map { case Array(a, b) =>
      math.abs(a._1 - b._1) + math.abs(a._2 - b._2)
    }.toSeq
    assert(steps.forall(_ == 1L), s"non-adjacent hilbert steps: ${steps.count(_ != 1L)}")
    // morton teleports; hilbert's total spatial jump length is strictly less
    val mortonJumps = d.sortBy(_._4).sliding(2).map { case Array(a, b) =>
      math.abs(a._1 - b._1) + math.abs(a._2 - b._2)
    }.sum
    assert(steps.sum < mortonJumps,
      s"hilbert total jumps ${steps.sum} not < morton $mortonJumps")
  }
}
