package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.Medallion
import graft.schema.MonzoSchemas
import graft.sources.MonzoSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What one timed phase measured. `passes` are the walls of the repeated
  * unit of work (an ingest episode, a query_mix pass); `ops` are the
  * per-op results inside them.
  */
final case class Phase(passes: Seq[Double], ops: Seq[OpResult],
    extra: Map[String, Double] = Map.empty)

object Phase {
  /** The phases' passes and ops in order; their extras summed. */
  def concat(ps: Seq[Phase]): Phase =
    Phase(ps.flatMap(_.passes), ps.flatMap(_.ops),
      ps.flatMap(_.extra).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
}

/** Shared context of one benchmark process. */
final case class Ctx(spark: SparkSession, work: Path, tables: Path, seed: Long)

trait Workload {
  def name: String
  /** Untimed preparation: inputs, warm-up. */
  def prepare(ctx: Ctx): Unit
  /** Timed phase: at least `minPasses` whole passes, more while they fit
    * in about `seconds`.
    */
  def timed(ctx: Ctx, tracer: Tracer, seconds: Double, minPasses: Int): Phase
  /** Per-layer metrics of the traced phase just run. */
  def layerMetrics(ctx: Ctx, tracer: Tracer, phase: Phase): Map[String, Double]
  /** Untimed output checks; returns a description of each mismatch. */
  def check(ctx: Ctx): Seq[String]
  /** How many output checks `check` makes. */
  def checks: Int
}

object Workloads {
  val all: Seq[Workload] = Seq(Ingest, QueryMix)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Repeats `pass` at least `minPasses` times, then while the next pass
    * (by the previous one's duration) still fits in `seconds`.
    */
  def loop(seconds: Double, minPasses: Int)(pass: => Phase): Phase = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = mutable.ArrayBuffer(pass)
    while (out.size < minPasses || elapsed + out.last.passes.sum <= seconds * 1.1)
      out += pass
    Phase.concat(out.toSeq)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = graft.queries.Scratch.deleteRecursively(p)

  /** `xs` rotated left by `k`: the seed moves the starting point of a fixed
    * cyclic order, so every order runs the same ops after the same ones.
    */
  def rotated[T](xs: Seq[T], k: Long): Seq[T] = {
    val i = java.lang.Math.floorMod(k, xs.size.toLong).toInt
    xs.drop(i) ++ xs.take(i)
  }
}

// ===================================================================== ingest

/** The reference's own job as a sequence of scheduled pipeline runs: each
  * op reads one run's API pages, flattens them and commits bronze → silver
  * → gold once. An episode is `RunsPerEpisode` runs on a fresh medallion
  * root; the timed phase repeats whole episodes.
  */
object Ingest extends Workload {
  val name = "ingest"
  /** An assumption: the reference keeps no run history. Three runs let the
    * cost of rewriting a growing history show, and an episode stays short
    * enough for three in one timed phase.
    */
  val RunsPerEpisode = 3
  def checks: Int = 4
  /** 30 days × 10 = 300 rows per run, two pages of at most 200: the
    * reference runs over "hundreds of rows per run" (BASELINE.md).
    */
  val TxPerDay = 10

  private val pageSchema = StructType(Seq(
    StructField("transactions", ArrayType(MonzoSchemas.apiTransaction))))
  private val potsSchema = StructType(Seq(StructField("pots", ArrayType(StructType(
    MonzoSchemas.bronzePots.fields.filterNot(_.name == "date_retrieved"))))))
  private val balanceSchema =
    "balance bigint, total_balance bigint, currency string, spend_today bigint"

  private var gen: Gen.Monzo = _
  private var lastRoot: Option[Path] = None
  private var episodes = 0

  private def runDir(ctx: Ctx, r: Int) = ctx.work.resolve(f"ingest/pages/run-$r%02d")

  def prepare(ctx: Ctx): Unit = {
    gen = new Gen.Monzo(ctx.seed, RunsPerEpisode, TxPerDay)
    gen.schedule.foreach(rp => gen.writeRun(rp, runDir(ctx, rp.run)))
    // warm-up: one episode on a root of its own. The first run in a fresh
    // JVM takes about five times a warm one, and the next two are still
    // about 40 % slower; timing them made the benchmark too noisy to bound.
    episode(ctx, Tracer.Off, RunsPerEpisode)
  }

  private def clock(micros: Long) =
    lit(java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(micros * 1000)))

  private def readPages(ctx: Ctx, r: Int) =
    gen.schedule(r).pages.indices.map { i =>
      ctx.spark.read.schema(pageSchema)
        .json(runDir(ctx, r).resolve(f"pages/page-$i%03d.json").toString)
        .select(explode(col("transactions")).as("t")).select("t.*")
    }

  /** One scheduled run: read → flatten → one atomic commit. */
  private def runOnce(ctx: Ctx, tracer: Tracer, root: Path, r: Int): Unit = {
    val spark = ctx.spark
    val rp = gen.schedule(r)
    val dir = runDir(ctx, r)
    val pages = tracer.span("sources.read")(readPages(ctx, r))
    val flat = tracer.span("sources.flatten")(pages.map(MonzoSource.flattenTransactions))
    val balance = MonzoSource.shapeBalance(
      spark.read.schema(balanceSchema).json(dir.resolve("balance.json").toString))
    val pots = MonzoSource.explodePots(
      spark.read.schema(potsSchema).json(dir.resolve("pots.json").toString))
    var silverDone = 0L
    tracer.span("pipeline.run") {
      Medallion(root.toString).runAtomicBatches(spark,
        flat.zip(rp.pageClocks).map { case (df, c) => df -> clock(c) },
        balance, pots, clock(rp.pageClocks.head),
        afterSilver = () => silverDone = System.nanoTime())
    }
    if (tracer.enabled) tracer.add("pipeline.gold_s", (System.nanoTime() - silverDone) / 1e9)
  }

  /** Row and byte counts of run `r`'s commit, from the ground truth and the
    * new version's files. Taken after the episode's timer.
    */
  private def recordCommit(tracer: Tracer, root: Path, r: Int): Unit = {
    val truthNow = gen.truth(r)
    val before = if (r == 0) 0 else gen.truth(r - 1).firstClock.size
    val appended = truthNow.firstClock.size - before
    tracer.add("pipeline.rows_in", gen.schedule(r).pages.map(_.size).sum)
    tracer.add("pipeline.rows_appended", appended)
    val v = root.resolve(s"v${r + 1}")
    val written = Workloads.dirBytes(v)
    val bronzeBytes = Workloads.dirBytes(v.resolve("bronze/transactions"))
    tracer.add("pipeline.bytes_written", written.toDouble)
    // bytes of the appended rows: their share of the new bronze table
    val appendedBytes = bronzeBytes.toDouble * appended / truthNow.firstClock.size
    if (appendedBytes > 0) tracer.add("pipeline.write_amp_sum", written / appendedBytes)
    tracer.add("pipeline.write_amp_n", 1)
  }

  private def episode(ctx: Ctx, tracer: Tracer, runs: Int): Phase = {
    episodes += 1
    val root = ctx.work.resolve(s"ingest/medallion-$episodes")
    val t0 = System.nanoTime()
    val ops = (0 until runs).map { r =>
      Runner.timeOp(s"run-$r") {
        tracer.op(ctx.spark, s"op-ingest-$episodes-$r", s"ingest run $r") {
          runOnce(ctx, tracer, root, r)
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (tracer.enabled) (0 until runs).foreach(recordCommit(tracer, root, _))
    val bytesPerRow = Workloads.dirBytes(root).toDouble /
      math.max(1, gen.truth(runs - 1).firstClock.size)
    // keep only the newest root, for the checks; older ones go at once
    lastRoot.foreach(Workloads.deleteTree)
    lastRoot = Some(root)
    Phase(Seq(wall), ops, Map("bytes_per_row_sum" -> bytesPerRow, "episodes" -> 1.0))
  }

  def timed(ctx: Ctx, tracer: Tracer, seconds: Double, minPasses: Int): Phase =
    Workloads.loop(seconds, minPasses)(episode(ctx, tracer, RunsPerEpisode))

  /** Seconds to materialise one episode's flattened pages on their own,
    * through the noop sink: the sources layer's time. Measured after the
    * traced phase, outside every op, so it adds nothing to the op times or
    * to the tracing overhead.
    */
  private def flattenSeconds(ctx: Ctx): Double =
    (0 until RunsPerEpisode).map { r =>
      val t0 = System.nanoTime()
      readPages(ctx, r).map(MonzoSource.flattenTransactions).foreach(Runner.consume)
      (System.nanoTime() - t0) / 1e9
    }.sum

  def layerMetrics(ctx: Ctx, tracer: Tracer, phase: Phase): Map[String, Double] = {
    val in = tracer.get("pipeline.rows_in")
    Map(
      "sources.flatten_s" -> flattenSeconds(ctx),
      "pipeline.bronze_s" -> tracer.coveredSeconds(_.startsWith("medallion: stage")),
      "pipeline.silver_s" -> tracer.coveredSeconds(_.startsWith("medallion: silver")),
      "pipeline.gold_s" -> tracer.get("pipeline.gold_s"),
      "pipeline.rows_in" -> in,
      "pipeline.rows_appended" -> tracer.get("pipeline.rows_appended"),
      "pipeline.append_ratio" -> (if (in > 0) tracer.get("pipeline.rows_appended") / in else 0.0),
      "pipeline.bytes_written" -> tracer.get("pipeline.bytes_written"),
      "pipeline.write_amp" -> tracer.get("pipeline.write_amp_sum") /
        math.max(1.0, tracer.get("pipeline.write_amp_n")),
      "pipeline.bytes_per_row" -> phase.extra.getOrElse("bytes_per_row_sum", 0.0) /
        math.max(1.0, phase.extra.getOrElse("episodes", 1.0)))
  }

  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val root = lastRoot.getOrElse(return Seq("ingest: no episode ran"))
    val truth = gen.truth(RunsPerEpisode - 1)
    val m = Medallion(root.toString).committed(spark)
      .getOrElse(return Seq("ingest: nothing committed"))
    val bad = mutable.ArrayBuffer.empty[String]
    val bronze = spark.read.parquet(m.bronzeTx)
      .select(col("id"), unix_micros(col("date_retrieved"))).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    if (bronze.length != truth.firstClock.size || bronze.toMap != truth.firstClock)
      bad += s"ingest.bronze: ${bronze.length} rows, expected one per distinct id " +
        s"(${truth.firstClock.size}) stamped with its first delivery"
    val silverIds = spark.read.parquet(m.silverTx).select("id").collect().map(_.getString(0))
    if (silverIds.sorted.toSeq != bronze.map(_._1).sorted.toSeq)
      bad += s"ingest.silver_fact: ${silverIds.length} rows differ from bronze (${bronze.length})"
    val merchants = spark.read.parquet(m.silverMerchants).select("id", "name").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    if (merchants != truth.merchantAttrs)
      bad += s"ingest.merchants: first-writer-wins attributes differ " +
        s"(${merchants.size} vs ${truth.merchantAttrs.size} merchants)"
    val gold = spark.read.parquet(m.goldMonthly).select("year", "month", "total_spend").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    if (gold != truth.monthlySpend.map { case (k, v) => k -> v.toDouble })
      bad += s"ingest.gold: monthly totals differ from the generator's sums"
    lastRoot.foreach(Workloads.deleteTree)
    lastRoot = None
    bad.toSeq
  }
}

// ================================================================== registry

/** Registry queries as ops: each result is consumed through the noop sink,
  * under a span per layer call, or collected and fingerprinted.
  */
object RegistryOps {
  def query(name: String) = graft.Registry.byName(name)

  def runOp(ctx: Ctx, tracer: Tracer, dir: String, name: String, opId: String): OpResult =
    Runner.timeOp(name) {
      tracer.op(ctx.spark, opId, name) {
        val df = tracer.span("queries.build")(query(name).run(ctx.spark, dir))
        tracer.span("queries.consume")(Runner.consume(df))
      }
    }

  /** Queries whose fingerprint differs from the recorded one. */
  def checkFingerprints(spark: SparkSession, dir: String, names: Seq[String],
      recorded: Map[String, (Long, String)]): Seq[String] =
    names.flatMap { n =>
      try {
        val t0 = System.nanoTime()
        val got = Fingerprint.of(query(n).run(spark, dir))
        System.err.println(f"[check] $n ${(System.nanoTime() - t0) / 1e9}%.3f")
        recorded.get(n) match {
          case Some(exp) if exp == got => None
          case Some(exp) => Some(s"$n: ${got._1} rows hash ${got._2}, recorded ${exp._1} rows hash ${exp._2}")
          case None => Some(s"$n: no recorded fingerprint")
        }
      } catch {
        case t: Throwable => Some(s"$n: check threw ${t.getClass.getSimpleName}: ${t.getMessage}")
      }
    }

  @volatile var recorded: Map[String, (Long, String)] = Map.empty
}

/** One analyst running registry queries over read-only tables, one pass
  * per loop, in a fixed cyclic order that the seed and the pass rotate.
  * Each pass also opens a fresh copy of the tables and runs one artifact
  * consumer on it, which builds its artifact cold. Every pass consumes its
  * results through the noop sink; the checks after the timed phase collect
  * them and compare them with their recorded fingerprints.
  */
object QueryMix extends Workload {
  val name = "query_mix"

  /** Fixed by name: two stream drains, a query the roadmap names and two
    * small fixed-cost-bound queries. Queries that write fixtures outside
    * the benchmark's own directories are left out, and the mix is kept short
    * enough for three passes a run (see the README).
    */
  val Mix: Seq[String] = Seq(
    "q56_stream_dedup", "q177_min_cost_supplier",
    "q01_scan_sort_limit", "q15_text_wordcount_top100")

  /** Runs on a fresh table copy each pass, so its artifact (the trade-edge
    * list) is built cold every time.
    */
  val ColdConsumer = "q108_pagerank_trade"

  /** Every op of a pass; each has a `query.<name>.s` metric. */
  val layerNames: Seq[String] = Mix :+ ColdConsumer
  def checks: Int = layerNames.size

  private var passNo = 0
  private var lastCopy: Option[Path] = None

  /** A copy of the tables under a new path: new artifact and memo keys. */
  private def freshTables(ctx: Ctx): Path = {
    passNo += 1
    val d = ctx.work.resolve(s"query_mix/tables-$passNo")
    val src = Files.walk(ctx.tables)
    try src.iterator().asScala.toSeq.foreach { p =>
      val t = d.resolve(ctx.tables.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally src.close()
    lastCopy.foreach(Workloads.deleteTree)
    lastCopy = Some(d)
    d
  }

  /** Warm-up: five untimed passes through the same noop sink as the timed
    * ones. The first runs each query for the first time in the JVM and takes
    * about five times a warm pass; pass times keep falling by about 10 % a
    * pass until the fifth or sixth.
    */
  def prepare(ctx: Ctx): Unit = (1 to 5).foreach(_ => pass(ctx, Tracer.Off))

  private def pass(ctx: Ctx, tracer: Tracer): Phase = {
    val copy = freshTables(ctx)
    val order = Workloads.rotated(layerNames, ctx.seed + passNo)
    val built0 = ArtifactCache.buildSecs()
    val t0 = System.nanoTime()
    val ops = order.map { n =>
      val dir = if (n == ColdConsumer) copy else ctx.tables
      RegistryOps.runOp(ctx, tracer, dir.toString, n, s"op-q-$passNo-$n")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val built = ArtifactCache.buildSecs().map { case (k, v) => k -> (v - built0.getOrElse(k, 0.0)) }
      .filter(_._2 > 0)
    Phase(Seq(wall), ops, Map("passes" -> 1.0, "artifacts.built" -> built.size.toDouble,
      "artifacts.build_s" -> built.values.sum) ++
      built.map { case (k, v) => s"artifacts.build_s.$k" -> v })
  }

  def timed(ctx: Ctx, tracer: Tracer, seconds: Double, minPasses: Int): Phase =
    Workloads.loop(seconds, minPasses)(pass(ctx, tracer))

  /** Per-query medians, and artifact builds per pass. */
  def layerMetrics(ctx: Ctx, tracer: Tracer, phase: Phase): Map[String, Double] = {
    val passes = math.max(1.0, phase.extra.getOrElse("passes", 1.0))
    layerNames.map { n =>
      val ts = phase.ops.filter(_.name == n).flatMap(_.secs)
      s"query.$n.s" -> (if (ts.isEmpty) 0.0 else Stats.median(ts))
    }.toMap ++ phase.extra.collect { case (k, v) if k.startsWith("artifacts.") => k -> v / passes }
  }

  /** Collects every query of the mix once more and compares it with its
    * recorded fingerprint; the cold consumer runs on a fresh copy again.
    */
  def check(ctx: Ctx): Seq[String] =
    RegistryOps.checkFingerprints(ctx.spark, ctx.tables.toString,
      Workloads.rotated(Mix, ctx.seed), RegistryOps.recorded) ++
      RegistryOps.checkFingerprints(ctx.spark, freshTables(ctx).toString,
        Seq(ColdConsumer), RegistryOps.recorded)
}

/** The program keeps its artifact cache at a fixed path; the benchmark
  * points it at a directory of its own before any query runs.
  */
object ArtifactCache {
  @volatile private var root: Option[Path] = None

  def redirect(to: Path): Unit = {
    Files.createDirectories(to)
    val obj = graft.queries.Artifacts
    val f = obj.getClass.getDeclaredFields.find(f =>
      f.getType == classOf[Path] && f.getName.endsWith("Root"))
      .getOrElse(sys.error("artifact cache root field not found"))
    // a static final field: only Unsafe can write it. Safe here because no
    // query has read it yet.
    val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    u.setAccessible(true)
    val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), to)
    require(graft.queries.Artifacts.cached("perfbench-probe", "v1", Nil)(p => {
      Files.createDirectories(Paths.get(p)); Files.createFile(Paths.get(p, "_SUCCESS"))
    }).startsWith(to.toString), "artifact cache root was not redirected")
    root = Some(to)
  }

  def buildSecs(): Map[String, Double] =
    graft.queries.Artifacts.buildSecs.asScala.toSeq
      .groupMapReduce { case (k, _) => k.split("__").head } { case (_, v) => v.doubleValue } (_ + _)

  /** Empties the cache (at the start of every run), refusing while another
    * live process is building into it.
    */
  def wipe(): Unit = root.foreach { r =>
    val self = ProcessHandle.current().pid()
    val children = Files.list(r)
    try {
      val names = children.iterator().asScala.toSeq
      val live = names.map(_.getFileName.toString).filter(_.contains(".build.")).filter { n =>
        n.split("\\.build\\.").lift(1).flatMap(_.toLongOption)
          .exists(pid => pid != self && ProcessHandle.of(pid).isPresent)
      }
      require(live.isEmpty,
        s"artifact cache $r has live staging directories ${live.mkString(", ")}; refusing to wipe")
      names.foreach(Workloads.deleteTree)
    } finally children.close()
  }
}
