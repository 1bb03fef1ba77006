package graft

import graft.operators.Packing
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential check for the two-phase distributed prefix scan: it must
  * equal the single-partition global window on every partition count,
  * including ones that leave some range partitions empty.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def randomDocs(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    // non-contiguous, unique keys; some zero-length docs
    (0 until n).map(i => (i.toLong * 7 + rnd.nextInt(3), rnd.nextInt(500).toLong))
      .groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq
      .toDF("id", "toks")
  }

  test("prefixSum equals the global-window scan across partition counts") {
    val df = randomDocs(997, seed = 7)
    val expected = df
      .withColumn("off", coalesce(sum("toks").over(
        Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "off").as[(Long, Long)].collect().sortBy(_._1)

    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try {
      for (parts <- Seq(1, 3, 32, 200)) {
        spark.conf.set(key, parts.toLong)
        val got = Packing.prefixSum(df, "id", "toks", "off")
          .select("id", "off").as[(Long, Long)].collect().sortBy(_._1)
        assert(got === expected, s"prefix sum diverged at $parts partitions")
      }
    } finally spark.conf.set(key, prev)
  }

  test("packBins: offsets contiguous, bin ids monotone, bin_pos < capacity") {
    val df = randomDocs(500, seed = 11)
    val rows = Packing.packBins(df, "id", "toks", capacity = 1000L)
      .select("id", "toks", "offset", "bin_id", "bin_pos")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // head-to-tail: each offset = previous offset + previous length
    rows.sliding(2).foreach {
      case Array((_, t0, o0, _, _), (_, _, o1, _, _)) => assert(o1 === o0 + t0)
      case _ =>
    }
    assert(rows.head._3 === 0L)
    rows.foreach { case (_, _, off, bin, pos) =>
      assert(bin === off / 1000L)
      assert(pos === off % 1000L && pos < 1000L)
    }
    val bins = rows.map(_._4)
    assert(bins.sameElements(bins.sorted))
  }
}
