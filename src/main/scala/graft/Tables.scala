package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Readers for the harness parquet tables (see TESTDATA.md).
  *
  * All engine queries receive a scale-factor directory and read only from
  * it. The tables' schemas are fixed by the driver's generator and carried
  * in each file's footer; [[parquet]] reads that footer on the driver
  * instead of letting Spark infer it with a job.
  */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The parquet file or directory at `path`, read with the schema in one
    * data file's footer. Every engine parquet read that declares no schema
    * goes through here (q140's `mergeSchema` read aside; InferringReadSpec
    * keeps it so). A bare `spark.read.parquet` infers the schema with a
    * Spark job (`ParquetFileFormat.mergeSchemasInParallel`) on every call;
    * this opens the same footer on the driver, with no job, and derives the
    * schema the way that job does ([[ParquetFileFormat.readSchemaFromFooter]]:
    * the Spark schema key when a Spark writer left one, else the converted
    * parquet schema under the session's conf). Without `mergeSchema`,
    * inference also reads only the first data file, so the result is the
    * same DataFrame. Fails by name (`<owner>: no parquet file under <path>`)
    * when a directory holds no data file.
    */
  def parquet(spark: SparkSession, path: String, owner: String = "tables"): DataFrame = {
    val schema = ParquetFileFormat.readSchemaFromFooter(
      firstFooter(spark, path, owner), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** The footer (row groups skipped) of the first data file at `path`. A
    * plain file is used as is; in a directory, files named `_*` or `.*`
    * (`_SUCCESS`, checksums) are skipped as Spark's file index skips them,
    * and the first by name is taken — the one inference picks. A directory
    * with no such file searches its subdirectories in name order (a Hive
    * `k=v` layout; Spark adds the partition columns itself).
    */
  private def firstFooter(spark: SparkSession, path: String, owner: String): Footer = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def visible(st: FileStatus) = !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else {
        val (files, dirs) = fs.listStatus(st.getPath).filter(visible)
          .sortBy(_.getPath.getName).partition(_.isFile)
        files.headOption.orElse(dirs.iterator.flatMap(firstFile).nextOption())
      }
    val file = firstFile(fs.getFileStatus(root)).getOrElse(
      throw new IllegalStateException(s"$owner: no parquet file under $path"))
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
  }

  /** Conditional round-robin fan-out for COMPUTE-DENSE per-row stages
    * (round 12, guide §2.5/§1.2): the harness tables are single small
    * parquet files, so every scan is ONE task and a heavy per-row stage
    * fused onto it (tokenization, language-id, trigram explode, z-order
    * keys, Levenshtein) runs serially — measured 1.9-2.5 s single-task
    * jobs behind q60/q82/q164/q243/q274. Widening costs one shuffle of
    * the (projected!) input, orders of magnitude cheaper than the fused
    * compute at these sites. CONDITIONAL so it is a local-layout fix,
    * not a production tax: a scan that already has cluster-width
    * parallelism (any real deployment) passes through untouched — the
    * check reads the planned partition count, never runs a job.
    */
  def widen(df: DataFrame): DataFrame = {
    val width = df.sparkSession.sessionState.conf.defaultNumShufflePartitions
    // The `df.rdd.getNumPartitions` probe is job-free ONLY for scan-shaped
    // plans. When the plan contains exchanges, AQE materializes every
    // upstream query stage to answer it (real jobs whose work the later
    // full execution does NOT reuse — double execution). Gate on a
    // narrow-only plan (bare relation under projections/filters); anything
    // else passes through unwidened — widen is a small-file scan-layout
    // fix, and a post-shuffle frame already has the width its bytes earned
    // (round 13, ADVICE).
    // Narrow = never plans an exchange, so `.rdd` materializes no AQE
    // query stage. Everything else (joins, aggregates, sorts, windows,
    // repartitions) is conservatively treated as probe-unsafe.
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrowOnly(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case p: Project => narrowOnly(p.child)
      case f: Filter => narrowOnly(f.child)
      case g: Generate => narrowOnly(g.child)
      case a: SubqueryAlias => narrowOnly(a.child)
      case e: Expand => narrowOnly(e.child)
      case u: Union => u.children.forall(narrowOnly)
      case _ => false
    }
    if (narrowOnly(df.queryExecution.optimizedPlan) &&
        df.rdd.getNumPartitions < width) df.repartition(width)
    else df
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** Shared by the batch reader and StreamOps.eventsStream so the two
    * paths can never disagree on the events shape. Two physical layouts
    * exist in the wild: a legacy TIMESTAMP(NANOS) column (readable only as
    * a raw long under the nanosAsLong flag) and a plain TIMESTAMP(MICROS)
    * column. [[eventsTsIsNanos]] sniffs which one a given file uses.
    */
  val EventsRawSchemaNanos =
    "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
  val EventsSchemaMicros =
    "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
  val NanosAsLongOption = "spark.sql.legacy.parquet.nanosAsLong"

  /** True when `events.parquet` stores `ts` as TIMESTAMP(NANOS), read
    * from the file's footer annotation on the driver (no Spark job).
    */
  def eventsTsIsNanos(spark: SparkSession, sfDir: String): Boolean =
    firstFooter(spark, s"$sfDir/events.parquet", "tables").getParquetMetadata
      .getFileMetaData.getSchema.getColumnDescription(Array("ts")).getPrimitiveType
      .getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }

  /** Events with `ts` normalized to a µs TimestampType regardless of the
    * file's physical unit. The legacy-nanos path reads the raw long with an
    * explicit schema (the vectorized reader rejects TIMESTAMP(NANOS)
    * otherwise) and truncates ÷1000 to µs; the µs path is a plain typed
    * read. The nanosAsLong flag is a per-read option, never session conf.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    if (eventsTsIsNanos(spark, sfDir))
      spark.read
        .schema(EventsRawSchemaNanos)
        .option(NanosAsLongOption, "true")
        .parquet(s"$sfDir/events.parquet")
        .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    else
      spark.read
        .schema(EventsSchemaMicros)
        .parquet(s"$sfDir/events.parquet")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
