package graft

import graft.operators.Components
import org.apache.spark.sql.execution.LogicalRDD

/** The contract of [[Components.cut]] / [[Components.cutCounted]], the
  * engine's one lineage cut that every iterative operator and query uses.
  */
class CutSpec extends SparkSpec {
  import spark.implicits._

  test("cutCounted: same rows and count, one LogicalRDD leaf, width capped, no checkpoint dir set") {
    val width = spark.sessionState.conf.defaultNumShufflePartitions
    val wide = spark.range(0, 1000).select(($"id" % 97).as("k"), $"id")
      .repartition(width * 4)
    assert(wide.rdd.getNumPartitions > width)
    val dirBefore = spark.sparkContext.getCheckpointDir

    val (cut, n) = Components.cutCounted(wide)

    val rows = cut.as[(Long, Long)].collect().sorted
    assert(rows === wide.as[(Long, Long)].collect().sorted)
    assert(n === rows.length.toLong)
    cut.queryExecution.analyzed match {
      case _: LogicalRDD =>
      case plan => fail(s"lineage not cut; analyzed plan:\n$plan")
    }
    assert(cut.rdd.getNumPartitions <= width)
    assert(spark.sparkContext.getCheckpointDir === dirBefore)
  }
}
