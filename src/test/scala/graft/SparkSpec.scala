package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The one local session every suite and property object uses (one
  * SparkContext per JVM).
  */
object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config(GraftSession.SharedConfs)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** A suite on the shared [[SparkSpec.session]]. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def jsonDf(schema: org.apache.spark.sql.types.StructType, rows: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(spark.createDataset(rows))
  }

  /** The descriptions of the Spark jobs started by `body`, in start order
    * (`""` for an unlabelled job). Listener events arrive asynchronously
    * but in order, so one marker job before and one after `body` bracket
    * exactly its jobs once the closing marker has been delivered.
    */
  def jobDescriptionsOf[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        seen.put(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    val open = s"job-count-open-${System.nanoTime()}"
    val close = s"job-count-close-${System.nanoTime()}"
    sc.addSparkListener(listener)
    try {
      marker(open)
      val out = body
      marker(close)
      var jobs: Option[Vector[String]] = None
      var done = false
      while (!done) {
        val d = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(d != null, "listener never saw the closing marker job")
        if (d == open) jobs = Some(Vector.empty)
        else if (d == close) done = true
        else jobs = jobs.map(_ :+ d)
      }
      (out, jobs.getOrElse(Vector.empty))
    } finally sc.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
