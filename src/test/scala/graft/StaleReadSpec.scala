package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.queries.Scratch
import org.apache.spark.sql.functions._

/** A query re-run in the same JVM after its inputs were rewritten in place
  * must answer from the new data: no artifact or fixture built from the
  * old files may be served. q108 reads the trade-edge artifact (built from
  * `nation` among others), q161 the CSV fixture built from `orders`.
  */
class StaleReadSpec extends SparkSpec {

  /** The smallest harness scale dir, where the other specs read it. */
  private val source = Paths.get(sys.props("user.home"), "testdata", "sf0.001")

  private def copyOf(dir: Path): Path = {
    val d = Files.createTempDirectory("graft_stale_read_")
    val files = Files.list(dir)
    try files.forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    finally files.close()
    d
  }

  /** Replaces `<dir>/<table>.parquet` with `f(table)` as one parquet file. */
  private def rewrite(dir: Path, table: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val out = Paths.get(tmpDir("graft_stale_rewrite_"))
    try {
      f(Tables.parquet(spark, dir.resolve(s"$table.parquet").toString))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/t")
      val parts = Files.list(out.resolve("t"))
      val part = try parts.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally parts.close()
      Files.move(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
    } finally Scratch.deleteRecursively(out)
  }

  private def rows(name: String, dir: Path) =
    Registry.byName(name).run(spark, dir.toString).collect().toSeq

  test("q108 and q161 answer from inputs rewritten in place, not from the old build") {
    val queries = Seq("q108_pagerank_trade", "q161_csv_quarantine_ingest")
    val dir = copyOf(source)
    val rewritten = copyOf(source)
    val (before, after, fresh) = try {
      val before = queries.map(q => rows(q, dir))
      rewrite(dir, "nation")(_.withColumn("n_name", concat(lit("renamed_"), col("n_name"))))
      rewrite(dir, "orders")(_.filter(col("o_orderkey") % 3 =!= 0))
      val after = queries.map(q => rows(q, dir))
      Seq("nation", "orders").foreach(t => Files.copy(dir.resolve(s"$t.parquet"),
        rewritten.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
      (before, after, queries.map(q => rows(q, rewritten)))
    } finally Seq(dir, rewritten).foreach(Scratch.deleteRecursively)
    val unchanged = queries.indices.filter(i => fresh(i) == before(i)).map(queries)
    assert(unchanged.isEmpty, s"the rewrite must change the answer of $unchanged")
    val stale = queries.indices.filter(i => after(i) != fresh(i)).map(queries)
    assert(stale.isEmpty, s"served results built from the old inputs: $stale")
  }
}
