package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .appName("perfbench-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  test("Monzo generator: same seed gives the same runs, another seed different ones") {
    def pages(seed: Long) = {
      val g = new Gen.Monzo(seed, runs = 3, txPerDay = 10)
      (g.schedule.map(rp => (rp.pages, rp.pageClocks)),
        g.schedule.flatMap(rp => rp.pages.flatten.map(g.json(_, rp.run))))
    }
    assert(pages(7) == pages(7))
    assert(pages(7)._2 != pages(8)._2)
    val g = new Gen.Monzo(7, runs = 3, txPerDay = 10)
    // consecutive runs share most of their 30-day window: re-deliveries
    val ids = g.schedule.map(_.pages.flatten.map(_.id).toSet)
    assert((ids(0) & ids(1)).size > ids(1).size / 2)
    // within-page duplicates are present
    assert(g.schedule.exists(_.pages.exists(p => p.map(_.id).distinct.size < p.size)))
    // the seed moves values only: every seed delivers the same page sizes
    def sizes(seed: Long) = new Gen.Monzo(seed, runs = 3, txPerDay = 10).schedule.map(_.pages.map(_.size))
    assert(sizes(7) == sizes(8))
    assert(sizes(7).forall(_ == Seq(200 + Gen.DupsPerPage, 100 + Gen.DupsPerPage)))
  }

  test("query order: a rotation of one cyclic order, moved by the seed") {
    val xs = Seq("a", "b", "c", "d")
    assert(Workloads.rotated(xs, 1) == Seq("b", "c", "d", "a"))
    assert(Workloads.rotated(xs, 6) == Workloads.rotated(xs, 2))
    assert(Workloads.rotated(xs, -1) == Seq("d", "a", "b", "c"))
  }

  test("table generator: same seed gives the same rows, another seed different ones") {
    def rows(seed: Long) = {
      val d = tmp("tables")
      Gen.writeTables(spark, d, seed, scale = 0.01)
      Seq("customer", "lineitem", "documents", "embeddings").map(t =>
        spark.read.parquet(d.resolve(s"$t.parquet").toString).collect().map(_.toString).toSeq)
    }
    assert(rows(3) == rows(3))
    assert(rows(3) != rows(4))
  }

  test("tail: highest percentile with at least ten samples beyond it") {
    val xs = (1 to 30).map(_.toDouble)
    val (v, p) = Stats.tail(scala.util.Random.shuffle(xs))
    assert(v == 20.0)                       // ten samples (21..30) lie beyond it
    assert(xs.count(_ > v) == 10)
    assert(math.abs(p - 66.667) < 0.01)
    assert(Stats.tail((1 to 21).map(_.toDouble)) == (11.0, 100.0 * 11 / 21))
    // below 21 samples that percentile is not above the median: the maximum
    assert(Stats.tail((1 to 20).map(_.toDouble)) == (20.0, 100.0))
    assert(Stats.tail(Seq(4.0)) == (4.0, 100.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("a throwing op counts as failed and never as a time") {
    val ok = Runner.timeOp("ok")(Thread.sleep(5))
    val bad = Runner.timeOp("bad")(throw new RuntimeException("deliberately broken"))
    assert(ok.secs.exists(_ > 0.0) && ok.error.isEmpty)
    assert(bad.secs.isEmpty && bad.error.exists(_.contains("deliberately broken")))
    // the loop keeps failed ops out of the timings but in the op list
    val phase = Workloads.loop(0.0, minPasses = 1)(Phase(Seq(0.01), Seq(ok, bad)))
    assert(phase.ops.count(_.secs.isEmpty) == 1)
    assert(phase.ops.flatMap(_.secs) == ok.secs.toSeq)
    // and runs its minimum number of passes even when they overrun
    assert(Workloads.loop(0.0, minPasses = 3)(Phase(Seq(0.01), Nil)).passes.size == 3)
  }

  test("noop consumption keeps the final sort and the full read schema; count() drops both") {
    val d = tmp("noop").resolve("t.parquet").toString
    spark.range(100).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
      .write.parquet(d)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def planOf(action: => Unit): String = {
      plans.clear()
      action
      org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
      val p = plans.peek()
      assert(p != null, "no plan recorded")
      // adaptive plans show their final form only through the AQE node
      p.toString + p.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString }.mkString
    }
    try {
      def q = spark.read.parquet(d).select("k", "s").orderBy("k", "s")
      val noop = planOf(Runner.consume(q))
      val count = planOf(q.count())
      assert(noop.contains("Sort ["))
      assert(noop.contains("ReadSchema: struct<k:bigint,s:string>"))
      assert(!count.contains("Sort ["))
      assert(count.contains("ReadSchema: struct<>"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("self time subtracts the part of a span its children cover") {
    val spans = Seq(
      Span(1, 0, "op:x", "o", 0, 100),
      Span(2, 1, "spark.job:a", "o", 10, 40),
      Span(3, 1, "spark.job:b", "o", 30, 60), // overlaps job a
      Span(4, 2, "spark.stage:s", "o", 10, 20))
    val self = Tracer.selfTimes(spans)
    assert(math.abs(self("op") - 0.05) < 1e-9)        // 100 - 50 covered
    assert(math.abs(self("spark.job") - 0.05) < 1e-9) // (30 - 10) + 30
    assert(math.abs(self("spark.stage") - 0.01) < 1e-9)
  }
}
