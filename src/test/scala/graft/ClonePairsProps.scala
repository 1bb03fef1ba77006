package graft

import graft.operators.{NearDup, SetSimJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalacheck.Prop.{AnyOperators, propBoolean}
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The exact pair operators search pairs over one representative per
  * identical set and expand them back to the members (`operators.Clones`).
  * On random small corpora, about half of whose documents are verbatim
  * clones of another, each must equal a naive all-pairs reference computed
  * on the driver over the same shingle, token or fingerprint sets, in
  * pairs and values. MinHash, a sketch, must emit a subset of the
  * reference pairs at J ≥ τ with the exact jaccard, and every clone pair
  * with est_jaccard = 1.0.
  */
object ClonePairsProps extends Properties("ClonePairs") {

  private lazy val spark: SparkSession = SparkSpec.session

  // a draw runs seven operators (~2 s); 20 draws keep the object near a minute
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(20)

  private val phrase: Gen[List[String]] =
    Gen.chooseNum(1, 12).flatMap(n => Gen.listOfN(n, SketchProps.word))

  private def edited(d: List[String]): Gen[List[String]] = for {
    i <- Gen.chooseNum(0, d.size - 1)
    w <- SketchProps.word
    append <- Gen.oneOf(true, false)
  } yield if (append) d :+ w else d.updated(i, w)

  // each next document is a verbatim clone of an earlier one half the
  // time, else an edit of an earlier one or a fresh phrase
  private def grow(acc: Vector[List[String]], left: Int): Gen[Vector[List[String]]] =
    if (left == 0) Gen.const(acc)
    else (if (acc.isEmpty) phrase
      else Gen.frequency(
        2 -> Gen.oneOf(acc), 1 -> Gen.oneOf(acc).flatMap(edited), 1 -> phrase))
      .flatMap(d => grow(acc :+ d, left - 1))

  /** (doc_id, text): 0–14 documents, distinct ids in random order. */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    n <- Gen.chooseNum(0, 14)
    docs <- grow(Vector.empty, n)
    ids <- Gen.pick(n, 1L to 99L)
    keys <- Gen.listOfN(n, Gen.long)
  } yield ids.toSeq.zip(keys).sortBy(_._2).map(_._1).zip(docs.map(_.mkString(" ")))

  private def shingles(text: String, n: Int): Set[String] =
    text.split(" ").toSeq.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet

  private def jaccard[T](a: Set[T], b: Set[T]): Double = {
    val c = (a & b).size.toLong
    c.toDouble / (a.size + b.size - c).toDouble
  }

  /** Spark's `round(x, 12)` on a double. */
  private def round12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's `CAST(x AS DECIMAL(38, 20))` on a double. */
  private def dec(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(20, java.math.RoundingMode.HALF_UP)

  private def rows(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.mkString(",")).toSeq.sorted

  private def row(xs: Any*): String = xs.mkString(",")

  /** tfidfCosinePairs' arithmetic, all pairs on the driver: weights
    * round(tf·ln(D/df), 12) over the words with df ≤ ⌈frac·D⌉ and df < D,
    * decimal(38,20) products summed into dots and norms, cosine ≥ τ
    * rounded to 12 places.
    */
  private def tfidfReference(
      docs: Seq[(Long, String)], tau: Double, frac: Double): Seq[String] = {
    val tf = docs.map { case (id, t) =>
      id -> t.split(" ").groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    }
    val d = docs.size.toDouble
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (w, ws) => w -> ws.size }
    val wts = tf.map { case (id, counts) =>
      id -> counts.collect { case (w, c) if df(w) <= math.ceil(frac * d) && df(w) < d =>
        w -> round12(c.toDouble * StrictMath.log(d / df(w).toDouble))
      }
    }.filter(_._2.nonEmpty)
    def sum(xs: Iterable[Double]): Double =
      xs.map(x => dec(x)).reduce(_ add _).doubleValue
    val norm = wts.map { case (id, v) => id -> math.sqrt(sum(v.values.map(x => x * x))) }.toMap
    for {
      (a, va) <- wts
      (b, vb) <- wts if a < b
      shared = va.keySet & vb.keySet if shared.nonEmpty
      cos = sum(shared.toSeq.map(w => va(w) * vb(w))) / (norm(a) * norm(b))
      if cos >= tau
    } yield row(a, b, round12(cos))
  }.sorted

  property("exact-clone contraction == naive all-pairs reference") = {
    val gen = for {
      docs <- corpusGen
      n <- Gen.oneOf(1, 2, 3)
      tau <- Gen.oneOf(0.2, 0.5, 0.8)
      isNew <- Gen.listOfN(docs.size, Gen.frequency(1 -> true, 2 -> false))
      minShared <- Gen.chooseNum(1, 3)
      frac <- Gen.oneOf(0.15, 0.5, 1.0)
    } yield (docs, n, tau, isNew, minShared, frac)
    Prop.forAllNoShrink(gen) { case (docs, n, tau, isNew, minShared, frac) =>
      import spark.implicits._
      val corpus = docs.toDF("doc_id", "text")
      val sets = docs.map { case (id, t) => id -> shingles(t, n) }.filter(_._2.nonEmpty)
      val setPairs = for ((a, sa) <- sets; (b, sb) <- sets if a < b) yield (a, sa, b, sb)
      val common = (sa: Set[String], sb: Set[String]) => (sa & sb).size.toLong

      val jaccardRef = (for {
        (a, sa, b, sb) <- setPairs
        j = jaccard(sa, sb) if j >= tau
      } yield row(a, b, j)).sorted
      val containmentRef = (for {
        (a, sa) <- sets
        (b, sb) <- sets if a != b
        c = common(sa, sb)
        x = c.toDouble / sa.size.toDouble if x >= tau
      } yield row(a, b, sa.size, c, x)).sorted
      val isNewOf = docs.map(_._1).zip(isNew).toMap
      val incrementalRef = (for {
        (a, sa, b, sb) <- setPairs if isNewOf(a) || isNewOf(b)
        j = jaccard(sa, sb) if j >= tau
      } yield row(a, b, j)).sorted
      val prefixRef = (for {
        (a, sa, b, sb) <- setPairs
        c = common(sa, sb)
        j = c.toDouble / (sa.size + sb.size - c).toDouble if j >= tau
      } yield row(a, b, sa.size, sb.size, c, round12(j))).sorted

      val (k, w) = (5, 4)
      val fps = corpus.select(col("doc_id"),
          graft.expressions.WinnowExpr.winnowFingerprints(
            graft.functions.TextFunctions.normalizeText(col("text")), k, w).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
        .filter(_._2.nonEmpty).toSeq
      val winnowRef = (for {
        (a, fa) <- fps
        (b, fb) <- fps if a < b
        c = (fa & fb).size.toLong if c >= minShared
      } yield row(a, b, c)).sorted

      val batchDocs = docs.filter(d => isNewOf(d._1))
      val incremental = NearDup.ngramJaccardPairsIncremental(
        docs.filterNot(d => isNewOf(d._1)).toDF("doc_id", "text"),
        batchDocs.toDF("doc_id", "text"), n, tau)

      val refJ = setPairs.map { case (a, sa, b, sb) => (a, b) -> jaccard(sa, sb) }.toMap
      val clonePairs = setPairs.collect { case (a, sa, b, sb) if sa == sb => (a, b) }
      val minhash = NearDup.minhashLshPairs(corpus, n, tau)
        .select("doc_a", "doc_b", "est_jaccard", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3)))
      val minhashPairs = minhash.toMap

      Prop.all(
        (rows(NearDup.ngramJaccardPairs(corpus, n, tau), "doc_a", "doc_b", "jaccard")
          ?= jaccardRef) :| "ngramJaccardPairs",
        (rows(NearDup.ngramContainmentPairs(corpus, n, tau),
          "doc_a", "doc_b", "n_a", "n_common", "containment")
          ?= containmentRef) :| "ngramContainmentPairs",
        (rows(incremental, "doc_a", "doc_b", "jaccard")
          ?= incrementalRef) :| "ngramJaccardPairsIncremental",
        (rows(NearDup.winnowingPairs(corpus, k, w, minShared), "doc_a", "doc_b", "n_shared")
          ?= winnowRef) :| "winnowingPairs",
        (rows(SetSimJoin.prefixJaccardJoin(corpus, n, tau),
          "doc_a", "doc_b", "n_a", "n_b", "n_common", "jaccard")
          ?= prefixRef) :| "prefixJaccardJoin",
        (rows(NearDup.tfidfCosinePairs(corpus, tau, frac), "doc_a", "doc_b", "cos")
          ?= tfidfReference(docs, tau, frac)) :| "tfidfCosinePairs",
        (minhashPairs.size == minhash.length
          && minhashPairs.forall { case (p, (_, j)) =>
            refJ.get(p).exists(r => r == j && r >= tau) }
          && clonePairs.forall(p => minhashPairs.get(p).exists(_._1 == 1.0)))
          :| s"minhashLshPairs: $minhash vs $refJ")
    }
  }

  property("empty and one-doc corpora give no pairs") = Prop {
    import spark.implicits._
    Seq(Seq.empty[(Long, String)], Seq((7L, "alpha bravo charlie delta"))).forall { docs =>
      val corpus = docs.toDF("doc_id", "text")
      val none = corpus.limit(0)
      Seq(
        NearDup.ngramJaccardPairs(corpus, 2, 0.2),
        NearDup.ngramContainmentPairs(corpus, 2, 0.2),
        NearDup.ngramJaccardPairsIncremental(none, corpus, 2, 0.2),
        NearDup.ngramJaccardPairsIncremental(corpus, none, 2, 0.2),
        NearDup.minhashLshPairs(corpus, 2, 0.2),
        NearDup.winnowingPairs(corpus, 5, 4, 1),
        SetSimJoin.prefixJaccardJoin(corpus, 2, 0.2),
        NearDup.tfidfCosinePairs(corpus, 0.2, 1.0)
      ).forall(_.isEmpty)
    }
  }
}
