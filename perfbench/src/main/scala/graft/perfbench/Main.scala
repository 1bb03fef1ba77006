package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark process. `perfbench/run.py` builds it and starts it; see the
  * README next to this package for the workloads and metrics.
  *
  * Modes:
  *  - `run`: one workload; prints one result line `{"perfbench": {...}}`.
  *  - `record`: writes the output fingerprints of every registry query the
  *    workloads run.
  */
object Main {
  /** Generated registry tables: fixed data seed and size, so the recorded
    * fingerprints hold for every workload seed (which orders the queries).
    */
  val TablesSeed = 42L
  val TablesScale = 1.0

  /** Passes an untraced timed phase runs at least, so that `wall_s` is a
    * median.
    */
  val MinPasses = 3

  val SparkLayer = Seq("spark.plan_s", "spark.catalyst_s", "spark.jobs", "spark.tasks",
    "spark.task_wait_s", "spark.task_s", "spark.core_util", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.gc_s", "spark.input_mb",
    "spark.output_mb", "spark.task_failures")
  val StreamLayer = Seq("streaming.drains", "streaming.batches", "streaming.start_s",
    "streaming.planning_s", "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.state_rows")
  val PipelineLayer = Seq("pipeline.bronze_s", "pipeline.silver_s", "pipeline.gold_s",
    "pipeline.rows_in", "pipeline.rows_appended", "pipeline.append_ratio",
    "pipeline.bytes_written", "pipeline.write_amp", "pipeline.bytes_per_row")
  val ArtifactLayer = Seq("artifacts.built", "artifacts.build_s", "artifacts.build_s.trade-edges")
  val SelfTimes = Seq("op", "sources.read", "sources.flatten", "pipeline.run",
    "queries.build", "queries.consume", "spark.job", "spark.stage").map(c => s"self_s.$c")

  def layerMetricNames: Seq[String] =
    SparkLayer ++ Seq("sources.read_s", "sources.flatten_s") ++ PipelineLayer ++
      StreamLayer ++ ArtifactLayer ++ QueryMix.layerNames.map(n => s"query.$n.s") ++ SelfTimes ++
      Seq("ops.tail_s", "trace.overhead_ratio", "trace.spans")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val mode = arg(args, "--mode").getOrElse("run")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
      .toAbsolutePath
    val cache = Paths.get(arg(args, "--cache").getOrElse(work.toString)).toAbsolutePath
    val spark = GraftSession.build("perfbench")
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try mode match {
      case "record" =>
        ArtifactCache.redirect(work.resolve("artifacts"))
        record(spark, cache, Paths.get(arg(args, "--fingerprints").get))
      case "run" =>
        ArtifactCache.redirect(work.resolve("artifacts"))
        ArtifactCache.wipe()
        val line = run(spark, work, cache, setupS,
          workload = arg(args, "--workload").get,
          seed = arg(args, "--seed").get.toLong,
          seconds = arg(args, "--seconds").get.toDouble,
          trace = arg(args, "--trace").contains("1"),
          fingerprints = Paths.get(arg(args, "--fingerprints").get),
          spansOut = arg(args, "--spans").map(Paths.get(_)))
        println(line)
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }

  /** Generates the registry tables once per cache directory. */
  def ensureTables(spark: SparkSession, cache: Path): Path = {
    val dir = cache.resolve(s"tables-s$TablesSeed-x$TablesScale")
    if (!Files.exists(dir.resolve("_DONE"))) {
      val tmp = cache.resolve(s"tables-tmp-${ProcessHandle.current().pid()}")
      Workloads.deleteTree(tmp)
      Files.createDirectories(tmp)
      val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      try Gen.writeTables(spark, tmp, TablesSeed, TablesScale)
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
      Files.createFile(tmp.resolve("_DONE"))
      Workloads.deleteTree(dir)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    dir
  }

  def loadFingerprints(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap

  private def record(spark: SparkSession, cache: Path, out: Path): Unit = {
    val tables = ensureTables(spark, cache)
    val rows = QueryMix.layerNames.map { n =>
      val (c, h) = Fingerprint.of(RegistryOps.query(n).run(spark, tables.toString))
      System.err.println(s"[perfbench] recorded $n: $c rows")
      s"$n\t$c\t$h"
    }
    Files.write(out, ("# query\trows\torder-insensitive hash (perfbench/README.md)\n" +
      rows.mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
  }

  private def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def run(spark: SparkSession, work: Path, cache: Path, setupS: Double, workload: String, seed: Long,
      seconds: Double, trace: Boolean, fingerprints: Path, spansOut: Option[Path]): String = {
    val w = Workloads.byName(workload).getOrElse(sys.error(s"unknown workload $workload"))
    val cores = spark.sparkContext.defaultParallelism
    val load0 = loadAvg()
    val ctx = Ctx(spark, work, ensureTables(spark, cache), seed)
    RegistryOps.recorded = loadFingerprints(fingerprints)
    val p0 = System.nanoTime()
    w.prepare(ctx)
    System.err.println(f"[perfbench] $workload prepare ${(System.nanoTime() - p0) / 1e9}%.3f s")

    // `phase` is the untraced timed phase; a traced run also runs a traced one
    val (phase, tracedOps, layers) =
      if (!trace) (w.timed(ctx, Tracer.Off, seconds, MinPasses), Nil, Map.empty[String, Double])
      else {
        // one pass each, untraced, traced, traced, untraced: pass times
        // still fall as the JIT warms, and this order cancels a steady
        // trend out of the overhead ratio
        val tracer = new Tracer(true)
        val runs = Seq(false, true, true, false).map { on =>
          if (!on) on -> w.timed(ctx, Tracer.Off, 0, 1)
          else {
            tracer.attach(spark)
            try on -> w.timed(ctx, tracer, 0, 1) finally tracer.detach(spark)
          }
        }
        val plain = Phase.concat(runs.collect { case (false, p) => p })
        val traced = Phase.concat(runs.collect { case (true, p) => p })
        val spans = tracer.allSpans
        spansOut.foreach { p =>
          Files.createDirectories(p.getParent)
          Files.write(p, Tracer.toJsonLines(spans).getBytes(StandardCharsets.UTF_8))
        }
        val self = Tracer.selfTimes(spans)
        val spanSecs = spans.groupBy(_.name.takeWhile(_ != ':'))
          .map { case (k, ss) => k -> ss.map(s => s.endMs - s.startMs).sum / 1e3 }
        val overhead = Stats.median(traced.passes) / Stats.median(plain.passes)
        System.err.println(f"[perfbench] $workload tracing overhead: traced wall_s " +
          f"${Stats.median(traced.passes)}%.3f vs untraced ${Stats.median(plain.passes)}%.3f " +
          f"(ratio $overhead%.3f)")
        self.toSeq.sortBy(-_._2).foreach { case (k, v) =>
          System.err.println(f"[perfbench] self time $k%-18s $v%9.3f s") }
        val spark0 = SparkLayer.map(k => k -> tracer.get(k)).toMap ++ Map(
          "spark.plan_s" -> tracer.planSeconds,
          "spark.catalyst_s" -> tracer.get("spark.catalyst_s"),
          "spark.core_util" -> tracer.get("spark.task_s") / (traced.passes.sum * cores))
        val all = spark0 ++ StreamLayer.map(k => k -> tracer.get(k)) ++ Map(
          "sources.read_s" -> spanSecs.getOrElse("sources.read", 0.0),
          "trace.overhead_ratio" -> overhead,
          "trace.spans" -> spans.size.toDouble) ++
          SelfTimes.map(k => k -> self.getOrElse(k.stripPrefix("self_s."), 0.0)) ++
          w.layerMetrics(ctx, tracer, traced)
        (plain, traced.ops, all)
      }
    val rss = peakRssMb()
    val failedOps = (phase.ops ++ tracedOps).filter(_.secs.isEmpty)
    val mismatches = w.check(ctx)
    mismatches.foreach(m => System.err.println(s"[perfbench] CHECK FAILED $m"))
    failedOps.foreach(o => System.err.println(s"[perfbench] OP FAILED ${o.name}: ${o.error.getOrElse("")}"))
    val times = phase.ops.flatMap(_.secs) // untraced ops only
    val (tailV, tailP) = Stats.tail(if (times.isEmpty) Seq(0.0) else times)
    val load1 = loadAvg()
    System.err.println(f"[perfbench] env nproc=${Runtime.getRuntime.availableProcessors} " +
      f"SPARK_GRAFT_CPUS=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")} cores=$cores " +
      f"heap_mb=${Runtime.getRuntime.maxMemory / 1048576} loadavg_1m before=$load0%.2f after=$load1%.2f")
    System.err.println(f"[perfbench] $workload passes=${phase.passes.size} ops=${times.size} " +
      f"tail=$tailV%.3f s (p$tailP%.1f) checks=${mismatches.size} mismatches")
    val metrics =
      if (trace) Main.layerMetricNames.map(k =>
        (k, if (k == "ops.tail_s") tailV else layers.getOrElse(k, 0.0), unitOf(k)))
      else Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", if (phase.passes.isEmpty) 0.0 else Stats.median(phase.passes), "s"),
        ("op_p50_s", if (times.isEmpty) 0.0 else Stats.median(times), "s"),
        ("peak_rss_mb", rss, "MB"))
    val attempted = phase.ops.size + tracedOps.size + w.checks
    val failed = failedOps.size + mismatches.size
    s"""{"perfbench": {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${json(metrics)}}}"""
  }

  def unitOf(k: String): String =
    if (k.endsWith("_s") || k.endsWith(".s") || k.contains("_s.")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio") || k.endsWith("_util") || k.endsWith("write_amp")) "ratio"
    else if (k.endsWith("bytes_written")) "bytes"
    else if (k.endsWith("bytes_per_row")) "bytes/row"
    else "count"
}
