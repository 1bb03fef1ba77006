package graft

import graft.operators.NearDup
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests for the sketch guarantees. */
object SketchProps extends Properties("Sketches") {

  private lazy val spark: SparkSession = SparkSpec.session

  private[graft] val word: Gen[String] = Gen.oneOf(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  private val sentence: Gen[String] =
    Gen.chooseNum(25, 60).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  // winnowing guarantee: any shared run of >= k+w-1 characters yields at
  // least one shared fingerprint (Schleimer et al. thm 1); the planted
  // sentence is far longer than k+w-1 = 11 chars
  property("winnowing detects planted shared runs") =
    Prop.forAllNoShrink(sentence, sentence, sentence) { (a, b, shared) =>
      import spark.implicits._
      val docs = Seq((1L, s"$a $shared"), (2L, s"$shared $b")).toDF("doc_id", "text")
      val pairs = NearDup.winnowingPairs(docs, k = 8, w = 4, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.contains((1L, 2L))
    }

  // The estimate is the mean of 64 agreement indicators, one per
  // permutation, each 1 with probability p ≈ J. Hoeffding:
  // P(|est − p| ≥ t) ≤ 2·exp(−2·64·t²), so over ScalaCheck's 100 draws a
  // run fails with probability ≤ 200·exp(−128·t²), which is ≤ 1e-6 from
  // t = 0.387 on; the bound is 0.39. The (a·h + b) mod P family is not
  // exactly min-wise independent, but its bias on these sets is far inside
  // the 0.004 left over: a pair at J = 0.383 agreed on 0.381 of 20 000
  // random permutations, and over 20 000 drawn pairs the mean of est − J
  // was 3e-4. A 4 sd bound (0.25) fails about 1 draw in 4 000.
  property("minhash estimate tracks exact jaccard") = {
    val gen = for {
      common <- Gen.chooseNum(20, 40).flatMap(n => Gen.listOfN(n, word))
      extraA <- Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, word))
      extraB <- Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, word))
    } yield (common ++ extraA, common ++ extraB)
    Prop.forAllNoShrink(gen) { case (ta, tb) =>
      import spark.implicits._
      val docs = Seq((1L, ta.mkString(" ")), (2L, tb.mkString(" "))).toDF("doc_id", "text")
      NearDup.minhashLshPairs(docs, n = 2, threshold = 0.0, numPerms = 64)
        .select("est_jaccard", "jaccard").collect()
        .forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) <= 0.39)
    }
  }

  // RepetitionStats (q53's one-pass native scalar) vs a naive Scala
  // recomputation on arbitrary token streams
  property("repetitionStats == naive reference") = {
    import org.apache.spark.sql.functions._
    Prop.forAllNoShrink(Gen.chooseNum(1, 80).flatMap(n => Gen.listOfN(n, word))) { toks =>
      import spark.implicits._
      val text = toks.mkString(" ")
      val row = Seq(text).toDF("text")
        .select(graft.expressions.RepetitionStats
          .repetitionStats(graft.functions.TextFunctions.tokens(col("text"))).as("st"))
        .select("st.total_words", "st.distinct_words", "st.top_bigram",
          "st.dup_chars", "st.total_chars")
        .head()
      val counts = toks.groupBy(identity).view.mapValues(_.size).toMap
      val bigrams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val topBigram = if (bigrams.isEmpty) 0
        else bigrams.groupBy(identity).values.map(_.size).max
      val dupChars = counts.collect {
        case (w, c) if c > 1 => (c - 1).toLong * w.length
      }.sum
      row.getInt(0) == toks.length &&
        row.getInt(1) == counts.size &&
        row.getInt(2) == topBigram &&
        row.getLong(3) == dupChars &&
        row.getLong(4) == toks.map(_.length.toLong).sum
    }
  }

  // Misra-Gries guarantees on arbitrary streams under arbitrary
  // partitioning (merge path exercised): undercount-only, error <= n/k,
  // and NO heavy hitter (f > n/k) missing from the summary
  property("misra-gries bounds + no missed heavy hitter") = {
    val streamGen = Gen.chooseNum(50, 200).flatMap(n => Gen.listOfN(n, word))
    val kGen = Gen.chooseNum(2, 12)
    val partsGen = Gen.oneOf(1, 3, 7)
    Prop.forAllNoShrink(streamGen, kGen, partsGen) { (ws, k, parts) =>
      import spark.implicits._
      val est = ws.toDF("word").repartition(parts)
        .agg(graft.functions.FreqSketchAgg.heavyHitters(org.apache.spark.sql.functions.col("word"), k))
        .head().getMap[String, Long](0)
      val exact = ws.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = ws.size.toLong
      val bounds = est.forall { case (w, e) =>
        e <= exact(w) && (exact(w) - e) * k <= n
      }
      val noMissedHeavy = exact.forall { case (w, f) =>
        f * k <= n || est.contains(w)
      }
      bounds && noMissedHeavy
    }
  }
}
