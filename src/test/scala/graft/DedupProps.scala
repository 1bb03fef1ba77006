package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests for the dedup/idempotent-load semantics (the reference's
  * load-twice-equals-load-once contract, /root/reference/tests/test_load.py).
  */
object DedupProps extends Properties("Dedup") {

  private lazy val spark: SparkSession = SparkSpec.session

  private val rowsGen: Gen[List[(String, Long)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0, 30).map("id_" + _), Gen.chooseNum(-5000L, 5000L)))

  property("insertIfAbsent against self is empty (load twice = load once)") =
    Prop.forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "amount")
      rows.isEmpty || Dedup.insertIfAbsent(df, df, Seq("id")).count() == 0L
    }

  property("firstWriterWins yields exactly one row per key, the minimal one") =
    Prop.forAll(rowsGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("id", "amount")
      val got = Dedup.firstWriterWins(df, Seq("id"), Seq(col("amount").asc, col("id").asc))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      got == want
    }
}
