package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Salted-join and bloom semi-join equivalence. */
class SkewAndBronzeSpec extends SparkSpec {
  import spark.implicits._

  test("saltedEquiJoin == plain join on a skewed key distribution") {
    // 10k rows of one hot key + a tail, joined to a small dim
    val probe = ((1 to 10000).map(_ => 1L) ++ (2L to 100L)).toDF("k")
      .withColumn("v", monotonically_increasing_id())
    val build = (1L to 100L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val salted = SkewJoin.saltedEquiJoin(probe, build, Seq("k"), factor = 8)
      .select("k", "v", "name")
    val plain = probe.join(build, Seq("k")).select("k", "v", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("bloom semi-join: equals plain join, actually prunes the fact side") {
    import spark.implicits._
    val fact = (0 until 5000).map(i => (i.toLong % 500, i.toLong)).toDF("fk", "payload")
    val dim = (0 until 25).map(i => (i.toLong * 17, s"d$i")).toDF("dk", "name")

    val plain = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "name").collect().map(_.toString).sorted
    val bloomed = graft.operators.BloomSemiJoin
      .reduceThenJoin(fact, "fk", dim, "dk", expectedKeys = 100L, fpp = 0.01)
      .select("fk", "payload", "name").collect().map(_.toString).sorted
    assert(bloomed === plain)

    val kept = graft.operators.BloomSemiJoin
      .prefilter(fact, "fk", dim, "dk", expectedKeys = 100L, fpp = 0.01).count()
    // 25 of 500 keys qualify (5%); with fpp=1% the prefilter must drop the
    // overwhelming majority of fact rows
    assert(kept < 1000, s"bloom kept $kept of 5000 rows")
  }
}
