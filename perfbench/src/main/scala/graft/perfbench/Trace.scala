package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` ties every span of one op together. */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startMs: Double, endMs: Double)

/** In-memory span recorder plus the benchmark's Spark, SQL and streaming
  * listeners. Attached only in the traced run; the untraced run uses
  * [[Tracer.Off]], whose calls do nothing but run the body.
  *
  * Spans nest workload → op → layer call → Spark job → Spark stage. Jobs
  * are attributed to ops by the job group the runner sets (pool threads
  * spawned inside an op inherit it); streaming jobs carry Spark's own
  * group, so they fall back to the op active when they started.
  */
class Tracer(val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var currentOp: String = ""
  @volatile private var opSpanId: Long = 0L

  private def nowMs: Double = System.nanoTime() / 1e6
  // Spark listener events carry wall-clock millis; spans use a monotonic
  // clock, so keep the offset between the two.
  private val wallToMono: Double = nowMs - System.currentTimeMillis()

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = nowMs
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, name, currentOp, t0, nowMs))
      }
    }

  /** Runs one op: sets the Spark job group so listener events can be
    * attributed, and opens the op span.
    */
  def op[T](spark: SparkSession, opId: String, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(opId, desc)
    currentOp = opId
    try {
      if (!enabled) body
      else span(s"op:$desc") {
        opSpanId = stack.get().head
        opStart.put(opId, System.currentTimeMillis())
        body
      }
    } finally {
      sc.clearJobGroup()
      currentOp = ""
    }
  }

  /** All spans, each Spark job re-parented to the innermost benchmark span
    * that was open when the job started (listener events arrive later, so
    * this is settled once the run is over).
    */
  def allSpans: Seq[Span] = {
    val all = spans.asScala.toSeq
    val calls = all.filterNot(_.name.startsWith("spark."))
    all.map { s =>
      if (!s.name.startsWith("spark.job:")) s
      else calls.filter(c => c.startMs <= s.startMs && s.startMs <= c.endMs)
        .sortBy(-_.startMs).headOption.map(c => s.copy(parent = c.id)).getOrElse(s)
    }.sortBy(s => (s.startMs, s.id))
  }

  // ------------------------------------------------------- listener state

  private val opStart = new ConcurrentHashMap[String, Long]()
  private val firstJobStart = new ConcurrentHashMap[String, Long]()
  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Double, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** (description, start, end) of every job, wall-clock ms, for layer times. */
  private val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  val counters = new ConcurrentHashMap[String, Double]()
  def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)
  def get(key: String): Double = counters.getOrDefault(key, 0.0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val op = group.filter(opStart.containsKey).getOrElse(currentOp)
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      firstJobStart.putIfAbsent(op, e.time)
      val id = nextId.getAndIncrement()
      jobSpan.put(e.jobId, (id, e.time + wallToMono, desc))
      add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (id, t0, desc) =>
        val op = jobOp.getOrDefault(e.jobId, "")
        spans.add(Span(id, opSpanId, s"spark.job:$desc", op, t0, e.time + wallToMono))
        jobIntervals.add((desc, (t0 - wallToMono).toLong, e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = stageJob.getOrDefault(info.stageId, -1)
      val parent = Option(jobSpan.get(job)).map(_._1).getOrElse(opSpanId)
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(Span(nextId.getAndIncrement(), parent, s"spark.stage:${info.name}",
          jobOp.getOrDefault(job, ""), s + wallToMono, c + wallToMono))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case q: StreamingQueryListener.QueryStartedEvent => streamListener.onQueryStarted(q)
      case q: StreamingQueryListener.QueryProgressEvent => streamListener.onQueryProgress(q)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) add("spark.task_failures", 1)
      val submit = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
      add("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - submit) / 1e3)
      Option(e.taskMetrics).foreach { m =>
        add("spark.task_s", m.executorRunTime / 1e3)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add("spark.input_mb", m.inputMetrics.bytesRead / 1e6)
        add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("spark.catalyst_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamStart = new ConcurrentHashMap[java.util.UUID, Long]()
  /** Streaming query events. The registry's drains run in cloned sessions,
    * whose own listener managers a listener on this session would miss;
    * their events reach every listener on the shared Spark bus.
    */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      add("streaming.drains", 1)
      streamStart.put(e.runId, java.time.Instant.parse(e.timestamp).toEpochMilli)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      Option(streamStart.remove(p.runId)).foreach { t0 =>
        add("streaming.start_s", (java.time.Instant.parse(p.timestamp).toEpochMilli - t0) / 1e3)
      }
      val d = p.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      add("streaming.planning_s", ms("queryPlanning"))
      add("streaming.add_batch_s", ms("addBatch"))
      add("streaming.wal_commit_s", ms("walCommit"))
      add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** Blocks until every queued listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** Op submit → first Spark job start, summed over ops that ran a job. */
  def planSeconds: Double =
    firstJobStart.asScala.iterator.flatMap { case (op, js) =>
      Option(opStart.get(op)).map(s => math.max(0L, js - s) / 1e3)
    }.sum

  /** Wall seconds covered by jobs whose description satisfies `p`. */
  def coveredSeconds(p: String => Boolean): Double = {
    val iv = jobIntervals.asScala.toSeq.filter(j => p(j._1)).map(j => (j._2, j._3)).sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

object Tracer {
  val Off = new Tracer(false)

  /** Self time per span category (the name up to its first ':'): each
    * span's duration minus the part of it covered by its children.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name.takeWhile(_ != ':')).map { case (cat, ss) =>
      cat -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter(k => k._2 > k._1).sortBy(_._1)
        var covered = 0.0; var cs = Double.MinValue; var ce = Double.MinValue
        kids.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (s.endMs - s.startMs - covered) / 1e3
      }.sum
    }
  }

  /** Spans as JSON lines. */
  def toJsonLines(spans: Seq[Span]): String = spans.map { s =>
    val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
    f"""{"id":${s.id},"parent":${s.parent},"name":"$name","op":"${s.op}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("", "\n", "\n")
}
