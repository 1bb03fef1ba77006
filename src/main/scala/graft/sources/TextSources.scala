package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSONL (newline-delimited JSON) corpus ingest — the de-facto interchange
  * format for raw text/training corpora. Spark's json source is already
  * distributed and splittable per line; what a pipeline needs on top is
  * DECLARED schema (no sampling-inference pass over 100 TB, no silent
  * type drift between files) and a corrupt-record lane instead of either
  * dropping bad lines silently (DROPMALFORMED) or failing the whole job
  * (FAILFAST).
  */
object TextSources {

  val CorruptCol = "_corrupt_record"

  /** Read JSONL with a declared schema; malformed lines land whole in
    * `_corrupt_record` (PERMISSIVE), so the caller can route them to a
    * quarantine sink and keep the job running. No inference pass: the
    * schema is enforced, not sampled. NOTE Spark keeps PARTIAL results on
    * type-bad rows — fields parsed before the failure stay populated
    * alongside the raw line — so corrupt-row detection must test
    * [[CorruptCol]], never a data-column null (spec-pinned).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(StructField(CorruptCol, StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** The good-lines view: parsed rows only, corrupt lane dropped. Streams
    * with no extra boundary — the hot path at corpus scale.
    *
    * CAVEAT on bare counts: a plan referencing NO data column (e.g.
    * `readJsonlClean(...).count()`) throws
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN by design — with every data column
    * pruned there is nothing to fail typing on, so such a count is
    * ambiguous (DROPMALFORMED in that shape silently counts
    * structurally-valid-but-type-bad lines — measured in
    * JsonlSourceSpec's DROPMALFORMED case). Counting clean lines costs a
    * full parse: insert
    * an explicit materialization barrier first (a lazy `localCheckpoint`)
    * or count a data column.
    */
  def readJsonlClean(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readJsonl(spark, path, schema).filter(org.apache.spark.sql.functions.col(CorruptCol).isNull)
      .drop(CorruptCol)

  /** Write a frame as JSONL (one object per line, one file per partition —
    * the layout every downstream tokenizer/loader consumes).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
