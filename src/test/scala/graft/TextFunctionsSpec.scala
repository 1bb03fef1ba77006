package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("languageId identifies common languages and CJK script") {
    val samples = Seq(
      ("the cat sat on the mat and it is warm", "en"),
      ("der Hund ist nicht in das Haus und die Katze", "de"),
      ("le chat est dans la maison et les oiseaux", "fr"),
      ("el perro es grande y los gatos son pequeños", "es"),
      ("这是一个中文句子", "zh"),
      ("zzz qqq xxx", "und"))
    val got = samples.toDF("text", "expected")
      .withColumn("got", languageId(col("text")))
      .collect()
    got.foreach(r => assert(r.getAs[String]("got") === r.getAs[String]("expected"),
      s"text=${r.getAs[String]("text")}"))
  }

  test("tokenCount / meanTokenLength handle empty and messy whitespace") {
    val df = Seq("", "  ", "one", "two  words", " padded   three  tokens ").toDF("text")
      .select(
        col("text"),
        tokenCount(col("text")).as("n"),
        meanTokenLength(col("text")).as("m"))
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(rows("") === 0)
    assert(rows("  ") === 0)
    assert(rows("one") === 1)
    assert(rows("two  words") === 2)
    assert(rows(" padded   three  tokens ") === 3)
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val df = Seq(
      ("a", "Hello   World"),
      ("b", "hello world"),
      ("c", "hello worlds")).toDF("id", "text")
      .select(col("id"), fingerprint(col("text")).as("fp"))
    val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("a") === m("b"))
    assert(m("a") !== m("c"))
  }

  test("qualityScore rewards natural prose over word soup and tiny docs") {
    val prose = "the quick brown fox jumps over the lazy dog and it is a fine day in the park " * 3
    val soup = "zzz qqq kk zz qq k z q kk zz"
    val tiny = "hi"
    val df = Seq(("prose", prose), ("soup", soup), ("tiny", tiny)).toDF("id", "text")
      .select(col("id"), qualityScore(col("text")).as("q"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m("prose") > m("soup"))
    assert(m("prose") > m("tiny"))
  }

  test("BloomSemiJoin.mightContain: no false negatives; sloppy fpp really FPs") {
    import spark.implicits._
    val vocab = (0 until 2000).map(i => s"w$i").toDF("word")
    val probe = graft.operators.BloomSemiJoin.mightContain(vocab, "word", 2000L, 0.25)
    // every present key passes — the no-false-negative half of one-sidedness
    val present = vocab.filter(probe(col("word"))).count()
    assert(present === 2000L)
    // thousands of distinct ABSENT keys: a 25%-fpp filter must pass some
    // (expected ~1000; deterministic hashing makes the count stable) but
    // nowhere near all — i.e. the error is real and bounded
    val absent = (0 until 4000).map(i => s"absent$i").toDF("word")
    val fp = absent.filter(probe(col("word"))).count()
    assert(fp > 0L, "expected false positives at fpp=0.25")
    assert(fp < 4000L, "a bloom filter must still reject most absent keys")
  }

  test("q54 BM25: descending rank, positive scores, per-term decomposition sums") {
    val rows = graft.Registry.byName("q54_bm25_rank")
      .run(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.sameElements(scores.sorted(Ordering[Double].reverse)))
    assert(scores.forall(_ > 0.0))
    rows.foreach { r =>
      val total = BigDecimal(r.getAs[Double]("s_spark")) +
        BigDecimal(r.getAs[Double]("s_join")) + BigDecimal(r.getAs[Double]("s_table"))
      assert((total.toDouble - r.getAs[Double]("bm25")).abs < 1e-9)
    }
  }
}
