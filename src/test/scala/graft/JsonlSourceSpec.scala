package graft

import graft.sources.TextSources
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

class JsonlSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def stage(lines: Seq[String]): String = {
    val dir = graft.queries.Scratch.tempDir("graft_jsonl")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-00000.json"), lines.mkString("\n"))
    dir
  }

  test("declared schema + PERMISSIVE: good lines parse, malformed lines quarantine whole") {
    val dir = stage(Seq(
      """{"doc_id": 1, "text": "hello"}""",
      """{"doc_id": "not-a-number", "text": "bad type"}""",
      """this is not json at all""",
      """{"doc_id": 2, "text": "world"}"""))
    val clean = TextSources.readJsonlClean(spark, dir, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(clean === Seq((1L, "hello"), (2L, "world")))
    // a bare count() prunes all data columns and is ambiguous (nothing
    // left to fail typing on) — Spark's guard must fire, and the
    // documented barrier must produce the full-parse count
    intercept[org.apache.spark.sql.AnalysisException] {
      TextSources.readJsonlClean(spark, dir, schema).count()
    }
    assert(TextSources.readJsonlClean(spark, dir, schema)
      .localCheckpoint(eager = false).count() === 2L)
    // ...and the measurement the guard exists for: DROPMALFORMED's bare
    // count prunes all columns, checks only JSON WELL-FORMEDNESS, and
    // counts the type-bad (but structurally valid) line — 3, not 2
    val dropMalformedCount = spark.read.schema(schema)
      .option("mode", "DROPMALFORMED").json(dir).count()
    assert(dropMalformedCount === 3L,
      s"DROPMALFORMED pruned count was $dropMalformedCount (documented miscount)")
    // PERMISSIVE keeps PARTIAL results on type-bad rows: 'text' is still
    // populated alongside _corrupt_record — corrupt-row detection must
    // test the corrupt column, never a data-column null
    val partial = TextSources.readJsonl(spark, dir, schema)
      .filter(org.apache.spark.sql.functions.col(TextSources.CorruptCol).isNotNull)
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .collect()
    assert(partial.exists(_.getAs[String]("text") == "bad type"),
      "partially-parsed fields survive on quarantined rows")
  }

  test("jsonl round trip preserves rows exactly") {
    import spark.implicits._
    val df = Seq((1L, "a \"quoted\" thing"), (2L, "backslash \\ and\ttab"))
      .toDF("doc_id", "text")
    val dir = graft.queries.Scratch.tempDir("graft_jsonl_rt")
    TextSources.writeJsonl(df, dir)
    val back = TextSources.readJsonlClean(spark, dir, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back === Seq((1L, "a \"quoted\" thing"), (2L, "backslash \\ and\ttab")))
  }
}
