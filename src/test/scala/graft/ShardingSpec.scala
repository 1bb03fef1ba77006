package graft

import graft.operators.{Packing, Sharding}
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def sharded() =
    Sharding.shuffleShards(
      Tables.documents(spark, sf).select("doc_id"), "doc_id",
      nShards = 8, seed = 42L)

  test("shuffleShards: ranks are a permutation, shards balanced, positions dense") {
    val rows = sharded()
      .select("doc_id", "rank", "shard_id", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val n = rows.length
    assert(rows.map(_._2).sorted === (0L until n.toLong).toArray) // permutation
    val sizes = rows.groupBy(_._3).map(_._2.length)
    assert(sizes.max - sizes.min <= 1, s"unbalanced shards: $sizes") // round-robin
    // within each shard, positions are dense 0..size-1
    rows.groupBy(_._3).foreach { case (shard, rs) =>
      assert(rs.map(_._4).sorted === (0L until rs.length.toLong).toArray,
        s"shard $shard positions not dense")
    }
    // the permutation is not the identity (the scramble actually shuffles)
    assert(rows.count { case (id, rank, _, _) => id == rank } < n / 2)
  }

  test("shuffleShards: split proportions near 90/5/5 and deterministic") {
    val bySplit = sharded().groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = bySplit.values.sum.toDouble
    assert(math.abs(bySplit.getOrElse("train", 0L) / n - 0.90) < 0.05)
    assert(math.abs(bySplit.getOrElse("val", 0L) / n - 0.05) < 0.04)
    assert(math.abs(bySplit.getOrElse("test", 0L) / n - 0.05) < 0.04)
    val a = sharded().select("doc_id", "rank", "split").collect().toSet
    assert(a === sharded().select("doc_id", "rank", "split").collect().toSet)
  }

  test("split membership is a pure function of the id: stable when the corpus grows") {
    val half = Sharding.shuffleShards(
      Tables.documents(spark, sf).select("doc_id").filter(col("doc_id") % 2 === 0),
      "doc_id", nShards = 8, seed = 42L)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = sharded()
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // ranks/shards shift as the corpus changes; split membership must not
    half.foreach { case (id, s) => assert(full(id) === s, s"doc $id changed split") }
  }

  test("prefixSumBy: composite key breaks ties deterministically (matches serial scan)") {
    // duplicate primary keys, unique tiebreaker
    val df = Seq((1L, 10L, 1L), (1L, 11L, 2L), (0L, 12L, 3L), (2L, 13L, 4L))
      .toDF("k", "id", "v")
    val got = Packing.prefixSumBy(df, Seq("k", "id"), "v", "off")
      .select("id", "off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // serial order: (0,12) (1,10) (1,11) (2,13) → exclusive sums 0,3,4,6
    assert(got === Map(12L -> 0L, 10L -> 3L, 11L -> 4L, 13L -> 6L))
  }
}
