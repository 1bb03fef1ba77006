package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Plan and job-level wall-time profile of one or more registry queries —
  * the measurement tool behind the round-12 optimization pass (guide §1:
  * measure first). For each named query it prints the formatted physical
  * plan (filter/column pushdown into parquet scans, join strategy choice,
  * whole-stage-codegen coverage), then runs the builder + count twice
  * (cold, then warm-in-JVM) and prints every Spark job the run submitted:
  * job id, wall ms, first stage name — plus the gap between jobs
  * (driver-side think time: planning, collect handling, loops). Printing
  * the plan is kept out of the cold run's total. Each run also counts the
  * OS processes the JVM started (JFR `jdk.ProcessStart`), so a shell-out
  * on the query's path (a `chmod`, a `readlink`) shows as a number.
  *
  * At sf0.1 the corpus is small enough that most of a slow query's time
  * is job COUNT × fixed job cost (driver-synchronous rounds), not data
  * volume — this probe makes that visible per query, where the bench
  * only reports the total.
  *
  * Run: SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.ProbeQueryJobs q144_scc_trade ...'
  */
object ProbeQueryJobs {

  private final case class J(id: Int, start: Long, var end: Long, desc: String, tasks: Int)

  private final class JobLog extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // the job's description (guide §1.5 labels) when set, else the
      // callsite (e.g. "count at Components.scala:69") — attributes it to
      // the operator that submitted it, the whole point of the probe
      val site = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse(""))
      jobs.put(js.jobId, J(js.jobId, js.time, -1L, site,
        js.stageInfos.map(_.numTasks).sum))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val j = jobs.get(je.jobId)
      if (j != null) j.end = je.time
    }
    def clear(): Unit = jobs.clear()
  }

  /** `body`'s result and the command lines of the OS processes this JVM
    * started while it ran, in start order, from a JFR `jdk.ProcessStart`
    * recording (every thread of the JVM, not only the caller's).
    */
  def processStarts[T](body: => T): (T, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    val file = java.nio.file.Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      rec.dump(file)
      (out, jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .sortBy(_.getStartTime).map(_.getString("command")))
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-probe-jobs")
    graft.queries.Landed.setDir(sfDir)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    args.foreach { name =>
      val q = Registry.byName(name)
      (1 to 2).foreach { run =>
        log.clear()
        val t0 = System.nanoTime()
        val ((df, built), buildProcs) = processStarts {
          val df = q.run(spark, sfDir)
          (df, System.nanoTime())
        }
        if (run == 1) println(s"\n=== $name plan ===\n" +
          df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        val t1 = System.nanoTime()
        val (end, countProcs) = processStarts { df.count(); System.nanoTime() }
        val procs = buildProcs.size + countProcs.size
        val total = (built - t0 + end - t1) / 1e6
        // listener bus is async — let the tail events land
        Thread.sleep(300)
        import scala.jdk.CollectionConverters._
        val js = log.jobs.values.asScala.toSeq.sortBy(_.start)
        println(f"\n=== $name run $run: total $total%.0f ms, ${js.size} jobs, $procs processes ===")
        var prevEnd = -1L
        js.foreach { j =>
          val gap = if (prevEnd < 0) 0L else j.start - prevEnd
          val dur = if (j.end < 0) -1L else j.end - j.start
          println(f"  job ${j.id}%4d  ${dur}%6d ms  ${j.tasks}%5d tasks  (+gap ${gap}%5d ms)  ${j.desc.take(90)}")
          prevEnd = math.max(prevEnd, if (j.end < 0) j.start else j.end)
        }
        val jobSum = js.map(j => math.max(0L, j.end - j.start)).sum
        println(f"  job time sum: $jobSum ms; driver gaps: ${total.toLong - jobSum} ms (approx)")
      }
    }
    spark.stop()
  }
}
