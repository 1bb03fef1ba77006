package graft

import graft.operators.NearDup
import org.apache.spark.sql.functions._

/** Near-dup/similarity operators: correctness on constructed fixtures and
  * recall of the sketch paths against exact baselines on the harness data.
  */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def fixtureDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer rules and codegen stages"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today")) // exact dup of 1
    .toDF("doc_id", "text")

  test("ngramJaccardPairs finds planted near-dups and exact dups only") {
    val pairs = NearDup.ngramJaccardPairs(fixtureDocs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("minhashLshPairs recall = 1.0 vs exact jaccard pairs on documents") {
    val docs = Tables.documents(spark, sf)
    val exact = NearDup.ngramJaccardPairs(docs, 3, 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.minhashLshPairs(docs, 3, 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "expected planted near-dups in harness documents")
    // verification filters candidates by exact jaccard, so lsh ⊆ exact;
    // banding (16 bands × 4 rows) catches J≥0.3 with prob ≈ 1-(1-0.3^4)^16
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(lsh.subsetOf(exact))
    assert(recall >= 0.8, s"recall $recall too low: ${exact.diff(lsh)}")
  }

  test("simhashPairs finds exact dup (hamming 0) on fixtures") {
    val pairs = NearDup.simhashPairs(fixtureDocs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap.get((1L, 4L)) === Some(0))
  }

  test("simhash candidate recall vs exact jaccard pairs (q21's sketch)") {
    val docs = Tables.documents(spark, sf)
    val exact = NearDup.ngramJaccardPairs(docs, 3, 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = NearDup.simhashPairs(docs, maxHamming = 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = cand.intersect(exact).size.toDouble / exact.size
    // SimHash hamming<=3 approximates COSINE of token-frequency vectors,
    // not set Jaccard, so recall < 1 by design; the bound documents the
    // sketch's catch rate on the harness near-dup families
    assert(recall >= 0.5, s"simhash recall vs exact J>=0.3: $recall")
    info(s"simhash candidate recall vs exact: $recall")
  }

  test("tfidfCosinePairs: near-copies pair up, unrelated docs do not; df cap prunes") {
    val docs = Seq(
      (1L, "quarterly revenue grew while operating margins compressed across the retail division"),
      (2L, "quarterly revenue grew while operating margins compressed across the wholesale division"),
      (3L, "migratory songbirds navigate using stellar cues and geomagnetic field gradients"))
      .toDF("doc_id", "text")
    // tiny fixture: disable the df cap (frac 1.0) — with 3 docs the
    // default 0.15 would drop every shared word
    val pairs = NearDup.tfidfCosinePairs(docs, threshold = 0.5, maxDocFreqFrac = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(pairs.head._3 > 0.5 && pairs.head._3 < 1.0) // shared words dominate, one differs
    // the fractional cap empties the candidate space when every shared
    // word exceeds it (the scale-broken-absolute-cap regression, inverted)
    assert(NearDup.tfidfCosinePairs(docs, threshold = 0.1, maxDocFreqFrac = 0.2).count() === 0)
  }

  test("embedding LSH ANN is a subset of brute force with decent recall") {
    val emb = Tables.embeddings(spark, sf)
    val exact = NearDup.embeddingNearDupPairs(emb, 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = NearDup.embeddingNearDupLsh(emb, 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = ann.intersect(exact).size.toDouble / exact.size
      assert(recall >= 0.3, s"ANN recall $recall; exact=${exact.size} ann=${ann.size}")
    }
  }

  test("embedding LSH clone canonicalization: clone pairs exact, expansion bit-identical") {
    // append exact clones of vecs 0..9 — hyperplanes can never split a
    // clone group, so without canonicalization every table's bucket join
    // pays the group quadratic; with it, one representative runs the join
    // and the expansion must reproduce the direct join's cos bit-for-bit
    val emb = Tables.embeddings(spark, sf)
    val clones = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
    val embC = emb.unionByName(clones)
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairMap(NearDup.embeddingNearDupPairs(embC, 0.4))
    val lsh = pairMap(NearDup.embeddingNearDupLsh(embC, 0.4))
    // subset with value-identical cosines (the expansion is exact, not
    // approximate)
    lsh.foreach { case (k, cos) =>
      assert(exact.contains(k), s"LSH emitted non-exact pair $k")
      assert(exact(k) === cos, s"pair $k: exact=${exact(k)} lsh=$cos")
    }
    // every intra-clone pair survives (self-cos ≈ 1 ≥ 0.4) — clone pairs
    // are found by construction, never by bucket luck
    (0 until 10).foreach { i =>
      assert(lsh.contains((i.toLong, 100000L + i)), s"clone pair of $i missing")
    }
  }

  test("ball-cover geometry join: shuffle route emits identical pairs to broadcast route") {
    // the broadcast of repGeo is a size gate, not a semantics choice —
    // forcing every cell count over the ceiling (bcMaxCells=0) must
    // reproduce the default (broadcast) route's pair set bit-for-bit,
    // so an oversized low-duplication corpus degrades to a shuffle join
    // instead of an OOM, with zero output drift
    val emb = Tables.embeddings(spark, sf)
    def pairMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaBroadcast = pairMap(NearDup.embeddingNearDupLsh(emb, 0.4))
    val prev = sys.props.get("graft.neardup.bcMaxCells")
    sys.props("graft.neardup.bcMaxCells") = "0"
    try {
      assert(NearDup.ballCoverBroadcastMaxCells === 0L)
      val viaShuffle = pairMap(NearDup.embeddingNearDupLsh(emb, 0.4))
      assert(viaShuffle === viaBroadcast)
      assert(viaBroadcast.nonEmpty)
    } finally prev match {
      case Some(v) => sys.props("graft.neardup.bcMaxCells") = v
      case None => sys.props -= "graft.neardup.bcMaxCells"
    }
  }

  test("embeddingNearDupPairsAuto routes exact below smallN, scaled LSH above") {
    val emb = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(NearDup.embeddingNearDupPairs(emb, 0.4))
    // default smallN (10k) >= 500 vectors: the exact path verbatim
    assert(pairs(NearDup.embeddingNearDupPairsAuto(emb, 0.4)) === exact)
    // forced LSH path (smallN = 10): a value-identical subset. Recall at
    // this corpus's LOOSE 0.4 threshold is the documented forfeit (the
    // knobs solve tables at the ≥ 0.9 near-dup design point); pinned
    // where the deterministic planes actually land so a knob regression
    // still trips it.
    val routed = pairs(NearDup.embeddingNearDupPairsAuto(emb, 0.4, smallN = 10))
    routed.foreach { case (k, cos) =>
      assert(exact.contains(k) && exact(k) === cos, s"routed pair $k mismatched")
    }
    val recall = routed.size.toDouble / math.max(1, exact.size)
    info(s"forced-LSH recall: $recall (${routed.size}/${exact.size})")
    assert(recall >= 0.5, s"scaled-knob recall $recall")
  }

  test("scaledPairLshKnobs: defaults at small n, occupancy-constant bits above") {
    assert(NearDup.scaledPairLshKnobs(500L, 0.4) === ((4, 8)))
    assert(NearDup.scaledPairLshKnobs(10000L, 0.4) === ((4, 8)))
    val (b200k, t200k) = NearDup.scaledPairLshKnobs(200000L, 0.4)
    assert(b200k === 10) // ceil(log2(200000/250))
    assert(t200k >= 6 && t200k <= 24)
    // tight production thresholds hold the recall target within the cap
    val (b, t) = NearDup.scaledPairLshKnobs(1000000L, 0.95)
    assert(b === 12) // ceil(log2(1e6/250))
    assert(t < 24, s"0.95-threshold tables $t hit the forfeit cap")
    // bits monotone in n: occupancy never regresses as the corpus grows
    val bitsSeq = Seq(20000L, 100000L, 1000000L, 100000000L)
      .map(n => NearDup.scaledPairLshKnobs(n, 0.9)._1)
    assert(bitsSeq === bitsSeq.sorted)
  }

  test("knnBruteForce returns k ranked neighbors per query") {
    val emb = Tables.embeddings(spark, sf)
    val out = NearDup.knnBruteForce(emb.filter(col("vec_id") < 3), emb, 5)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.length === 5)
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("fuzzyNameClusters: typo variants merge transitively inside a block, not across") {
    // block = last token; "cold anvil"–"old anvil" (lev 1) chain through
    // "olde anvil" (lev 1 from old, 2 from cold); the gear block chains
    // old–red (2) and new–red (2) into one entity; "old gear" must NOT
    // merge with "old anvil" (different blocks)
    val names = Seq("cold anvil", "old anvil", "olde anvil", "old gear",
      "new gear", "red gear").toDF("p_name")
    val got = graft.operators.Dedup.fuzzyNameClusters(
        names, "p_name",
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("p_name"), " "), -1))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("cold anvil") === "cold anvil")
    assert(got("old anvil") === "cold anvil")
    assert(got("olde anvil") === "cold anvil")
    assert(got("old gear") === "new gear")   // via red (2), NOT via old anvil
    assert(got("new gear") === "new gear")
    assert(got("red gear") === "new gear")
  }

  test("semDedupPairs: within-cell pairs only; cross-cell near-dups are forfeited") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)), // near-dups
      (3L, Array(0.0f, 1.0f)),                             // distinct
      (4L, Array(1.0f, 0.001f)))                           // near-dup of 1, other cell
      .toDF("vec_id", "embedding")
    val assign = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 1)).toDF("vec_id", "cluster")
    val pairs = graft.operators.NearDup.semDedupPairs(emb, assign, threshold = 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs === Set((1L, 2L))) // (1,4) crosses cells; 3 matches nothing
  }

  test("incremental jaccard pairs == full pairs filtered to batch-touching, no dup orientations") {
    val docs = Tables.documents(spark, sf)
    val full = NearDup.ngramJaccardPairs(docs, 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = full.filter(p => p._1 % 10 == 7 || p._2 % 10 == 7).toSet
    val inc = NearDup.ngramJaccardPairsIncremental(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7), 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.length === inc.toSet.size, "duplicate pair orientations emitted")
    assert(inc.toSet === expect)
    assert(expect.nonEmpty, "fixture produced no batch-touching pairs — test is vacuous")
  }

  test("crossDocRepeatProfile: shared 8-token runs flagged and interval-merged") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),                        // shares a..h with 2
      (2L, "z z a b c d e f g h q"),
      (3L, "unique tokens only here nothing shared at all ok fine"),
      (4L, "p q r s t u v w x extra one"),                // shares p..x (9) with 5
      (5L, "pre p q r s t u v w x post"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.crossDocRepeatProfile(docs, w = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((10L, 8L)),  // one flagged window -> 8 covered tokens
      2L -> ((11L, 8L)),
      3L -> ((10L, 0L)),  // nothing cross-doc
      4L -> ((11L, 9L)),  // two overlapping windows merge to a 9-token span
      5L -> ((11L, 9L))))
  }

  test("neardupClustersContracted: row-identical to the plain closure") {
    // real corpus: the two closures must agree row-for-row
    val pairs = graft.operators.NearDup.ngramJaccardPairs(
      Tables.documents(spark, sf), n = 3, threshold = 0.3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val plain = rows(graft.operators.Components.neardupClusters(pairs))
    assert(rows(graft.operators.Components.neardupClustersContracted(pairs)) === plain)
    assert(plain.nonEmpty)
    // crafted: two clone families {1,2,3} and {10,11} bridged 3~10 at
    // J<1, plus an isolated family {20,21} — contraction must keep the
    // bridge's transitivity and label everything with the global min
    val crafted = Seq(
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0),
      (10L, 11L, 1.0),
      (3L, 10L, 0.5),
      (20L, 21L, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val got = rows(graft.operators.Components.neardupClustersContracted(crafted))
    assert(got === rows(graft.operators.Components.neardupClusters(crafted)))
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 1L, false), (11L, 1L, false),
      (20L, 20L, true), (21L, 20L, false)))
  }

  test("hammingDedupClusters: row-identical to the pair-expanded contracted closure") {
    // crafted: family A = ids 5,6,7 on hash 0, family B = id 2 on hash 3
    // (hamming 2 from A — bridges), family C = id 9 far from both
    val hashes = Seq(5L -> 0L, 6L -> 0L, 7L -> 0L, 2L -> 3L,
      9L -> 0x0F0F0F0F0F0F0F0FL).toDF("media_id", "h")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val direct = rows(graft.operators.NearDup.hammingDedupClusters(
      hashes, "media_id", "h", maxHamming = 3))
    val viaPairs = rows(graft.operators.Components.neardupClustersContracted(
      graft.operators.NearDup.hammingPairs64(hashes, "media_id", "h", maxHamming = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming")),
      clique = col("hamming") === 0))
    assert(direct === Set(
      (2L, 2L, true), (5L, 2L, false), (6L, 2L, false), (7L, 2L, false),
      (9L, 9L, true)))
    // the pair route never sees the unpaired id 9; on the paired support
    // the two routes must agree row-for-row
    assert(viaPairs === direct.filter(_._1 != 9L))
    // real corpus (simhash over sf0.01 documents): both routes agree and the
    // direct route covers every input id, clone families included
    val sims = Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.Sketches.simhash(
        graft.functions.TextFunctions.tokens(col("text"))).as("h"))
    val d2 = rows(graft.operators.NearDup.hammingDedupClusters(
      sims, "doc_id", "h", maxHamming = 3))
    val v2 = rows(graft.operators.Components.neardupClustersContracted(
      graft.operators.NearDup.hammingPairs64(sims, "doc_id", "h", maxHamming = 3)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming")),
      clique = col("hamming") === 0))
    // the pair route only emits PAIRED ids; the direct route emits all —
    // compare on the paired support, and pin the full-coverage property
    assert(d2.filter(t => v2.exists(_._1 == t._1)) === v2)
    assert(d2.map(_._1) === sims.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("setOverlapDedupClusters: integer half-overlap gate, clone contraction, transitive chain") {
    // A=1 and B=2 share an identical set (clone family); C=3 overlaps A on
    // 2 of min 4 (gate: 2*2 >= 4); D=4 overlaps C the same way but shares
    // NOTHING with A — transitivity must still chain A-C-D; E=9 isolated;
    // F=5 is a 2-element SUBSET of A (2*2 >= 2 — min-side gate admits it)
    val items = Seq(
      1L -> 10L, 1L -> 11L, 1L -> 12L, 1L -> 13L,
      2L -> 10L, 2L -> 11L, 2L -> 12L, 2L -> 13L,
      3L -> 10L, 3L -> 11L, 3L -> 20L, 3L -> 21L,
      4L -> 20L, 4L -> 21L, 4L -> 22L, 4L -> 23L,
      5L -> 12L, 5L -> 13L,
      9L -> 99L).toDF("media_id", "dhash")
    val got = graft.operators.NearDup.setOverlapDedupClusters(
        items, "media_id", "dhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got === Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 1L, false), (9L, 9L, true)))
    // below the gate: sharing 1 of min 4 (2*1 < 4) must NOT pair
    val sparse = Seq(
      1L -> 10L, 1L -> 11L, 1L -> 12L, 1L -> 13L,
      7L -> 10L, 7L -> 70L, 7L -> 71L, 7L -> 72L).toDF("media_id", "dhash")
    val got2 = graft.operators.NearDup.setOverlapDedupClusters(
        sparse, "media_id", "dhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(1L -> 1L, 7L -> 7L))
  }

  test("exactSubstringRemove: flagged spans cut, survivors reassemble exactly") {
    // same fixture as the profile test, so the coverage numbers must agree
    // and the reconstructed text is checkable by hand
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "z z a b c d e f g h q"),
      (3L, "unique tokens only here nothing shared at all ok fine"),
      (4L, "p q r s t u v w x extra one"),
      (5L, "pre p q r s t u v w x post"),
      (6L, ""))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.exactSubstringRemove(docs, w = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got === Map(
      1L -> ((10L, 8L, 2L, "i j")),
      2L -> ((11L, 8L, 3L, "z z q")),
      3L -> ((10L, 0L, 10L, "unique tokens only here nothing shared at all ok fine")),
      4L -> ((11L, 9L, 2L, "extra one")),  // merged 9-token span removed
      5L -> ((11L, 9L, 2L, "pre post")),
      6L -> ((0L, 0L, 0L, ""))))
  }
}
