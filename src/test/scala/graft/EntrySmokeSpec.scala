package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the driver's t1 smoke: entry() on sf0.001 returns rows. */
class EntrySmokeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config(GraftSession.SharedConfs)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("entry returns >0 rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name has either an oracle or is explicitly rows-only") {
    val qnames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qnames))
  }
}
