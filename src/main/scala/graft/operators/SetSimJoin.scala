package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin
  * family — Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW 2008).
  *
  * [[NearDup.ngramJaccardPairs]] (q19) is the inverted-index join: every
  * shingle posts every document, so candidate cost is Σ df(s)² over ALL
  * shingles — a hub shingle shared by a template corpus makes that sum
  * quadratic. Prefix filtering keeps the result EXACT while joining only
  * on each document's RAREST shingles: order the universe by ascending
  * document frequency (ties by hash), and for Jaccard τ a document with m
  * shingles needs only its first  m − ⌈τ·m⌉ + 1  ordered shingles in the
  * index. The prefix-filtering lemma guarantees any pair with J ≥ τ shares
  * at least one prefix token: J(a,b) ≥ τ forces overlap
  * o ≥ ⌈τ·max(|a|,|b|)⌉, and two sets whose common elements all lie
  * OUTSIDE one of the prefixes can share at most |x| − p(x) = ⌈τ·|x|⌉ − 1
  * of them. So the candidate cost collapses to Σ df(s)² over prefix
  * postings only — df-ascending order puts precisely the low-df shingles
  * in prefixes, which is what makes the sum survive a template-heavy
  * 100 TB corpus where q19's full index would not.
  *
  * Verification is the same exact arithmetic as q19: intersection size
  * over the full (distinct) shingle sets, J = o/(|a|+|b|−o), computed per
  * CANDIDATE pair (never the corpus pair space).
  *
  * Scale shape: shingle df is one hash aggregation; per-document ordering
  * sorts doc-sized arrays inside a row (no cross-row window); the prefix
  * index is a fraction (1−τ) of the full index; the candidate join
  * shuffles slim (hash, doc_id) rows; verify re-attaches the two shingle
  * arrays by doc_id equi-join. Driver state: none.
  */
object SetSimJoin {

  /** Pairs (doc_a < doc_b) with n-gram-shingle Jaccard ≥ threshold, with
    * set sizes and intersection counts:
    * (doc_a, doc_b, n_a, n_b, n_common, jaccard).
    *
    * Shingles are hashed to 64 bits before anything else (q19's
    * collision argument: P ≈ m²/2⁶⁵) so ordering, prefixes and verify all
    * ride 8-byte keys.
    */
  def prefixJaccardJoin(
      docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // (doc_id, sorted distinct shingle-hash array) — read by the ordering
    // join, the verify re-attach (twice), and sizes: materialize once.
    // `__ck` keys identical shingle sets for the [[Clones]] contraction:
    // the prefix index and candidate join run over one representative per
    // set, and pairs expand back exactly afterwards (a group of g clones
    // costs g output pairs, not g² prefix-candidate rows).
    val sets0 = Components.cut(
      docs.select(col("doc_id"),
          graft.functions.Sketches.wordShingles(col("text"), n).as("sh"))
        .filter(size(col("sh")) > 0)
        .select(col("doc_id"),
          array_sort(transform(col("sh"), s => xxhash64(s))).as("sh"))
        .withColumn("__ck", xxhash64(col("sh"))))
    val clones = Clones(
      sets0.select(col("doc_id"), col("__ck"), size(col("sh")).as("nsh")), "doc_id")
    val sets = sets0.join(clones.reps, Seq("__ck", "doc_id"))
    val posts = sets.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = posts.groupBy("s").agg(count(lit(1)).as("df"))
    // per-doc (df asc, hash asc) order lives in a doc-sized array sort —
    // no window, no per-doc task skew beyond document length
    val ordered = posts
      .join(dfreq, "s")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ord"))
    // prefix postings carry (position in df-order, set size) so the join
    // can apply the exact PPJoin filters (Xiao et al., WWW 2008) — round 12:
    //  - LENGTH: J ≥ τ forces τ·max(|a|,|b|) ≤ min(|a|,|b|);
    //  - POSITION: a true pair's FIRST shared prefix token satisfies
    //    1 + min(|a|−pa, |b|−pb) ≥ τ/(1+τ)·(|a|+|b|) (elements ordered
    //    before the first common token on both sides cannot be common), so
    //    a pair EVERY shared token of which fails the bound cannot reach τ.
    //    Filtering per token before the distinct keeps a pair if ANY token
    //    passes — a superset of PPJoin's candidates, exactness untouched.
    // Both comparisons take an ε slack so double rounding can only ADMIT a
    // candidate (verified exactly below), never drop a true pair.
    // Measured at sf0.1: 409 k → 125 k verified pairs (3.3×).
    val prefix = ordered
      .select(col("doc_id"), col("ord"), size(col("ord")).as("m"),
        (size(col("ord")) - ceil(lit(threshold) * size(col("ord"))) + 1)
          .cast("int").as("p"))
      .select(col("doc_id"), col("m"),
        posexplode(slice(col("ord"), lit(1), col("p"))).as(Seq("pos0", "t")))
      .select(col("doc_id"), col("t.s").as("s"),
        (col("pos0") + 1).as("pos"), col("m"))
    // RELATIVE slack (round 13, ADVICE): a fixed 1e-9 is smaller than the
    // double product's rounding error once set sizes reach ~1e7 (ulp of
    // threshold·m at m ≈ 1e9 is ~1e-7), so at extreme document sizes a
    // boundary true pair could be pruned before exact verification.
    // 1e-12·(m_a+m_b) sits ~3 orders above the few-ulp error of these
    // 2-3-op expressions at ANY magnitude while admitting at most
    // integer-boundary candidates — the verify step keeps exactness.
    val eps = lit(1e-9) + lit(1e-12) * (col("a.m") + col("b.m"))
    val cand = Components.cut(prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id")
          && least(col("a.m"), col("b.m"))
            >= lit(threshold) * greatest(col("a.m"), col("b.m")) - eps
          && (least(col("a.m") - col("a.pos"), col("b.m") - col("b.pos")) + 1)
            >= lit(threshold) * (col("a.m") + col("b.m")) / lit(1 + threshold) - eps)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b"))
    // verify is compute-dense on slim-byte inputs (an array intersect per
    // pair): AQE's byte-based coalescing lands it on 1-2 tasks — spread it
    // at the session's base shuffle width instead (the doc_a exchange is
    // the one join1 reuses)
    val width = docs.sparkSession.sessionState.conf.defaultNumShufflePartitions
    val repPairs = cand.repartition(width, col("doc_a"))
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_common"), round(col("jaccard"), 12).as("jaccard"))
    // identical sets ⇒ identical (n_a, n_b, n_common, jaccard); sizes swap
    // when the member order flips relative to the rep order, and
    // intra-group pairs are J = 1 exactly (n_common = n_a = n_b)
    clones.expand(repPairs, "doc_a", "doc_b")
      .select(
        least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"),
        when(col("ma") < col("mb"), col("n_a")).otherwise(col("n_b")).as("n_a"),
        when(col("ma") < col("mb"), col("n_b")).otherwise(col("n_a")).as("n_b"),
        col("n_common"), col("jaccard"))
      .unionByName(clones.intra
        .select(col("ma").as("doc_a"), col("mb").as("doc_b"),
          col("nsh_a").cast("long").as("n_a"), col("nsh_b").cast("long").as("n_b"),
          col("nsh_a").cast("long").as("n_common"), lit(1.0).as("jaccard")))
  }

  /** Blocking + pairwise edit-distance verification — the "candidate
    * blocks, exact Levenshtein verify" near-dup stage (the high-precision
    * complement to sketch recall: char-level edits, not set overlap).
    *
    * Pairs are generated ONLY within equal values of a cheap blocking key
    * (here: the first `blockPrefix` characters of the text), then verified
    * with the codegen'd built-in `levenshtein`. `maxBlock` drops blocks
    * larger than the cap BEFORE pairing — the skew guard that keeps a hub
    * block (empty/boilerplate prefix at web scale) from going quadratic.
    * The cap is part of the operator's contract (applied identically in
    * the oracle), so capped runs stay exact-comparable.
    *
    * Returns (doc_a, doc_b, dist, sim), sim = 1 − dist/max(len_a, len_b).
    */
  def blockedEditDistancePairs(
      docs: DataFrame, blockPrefix: Int = 32, maxBlock: Int = 64): DataFrame = {
    require(blockPrefix > 0, s"blockPrefix must be positive, got $blockPrefix")
    require(maxBlock >= 2, s"maxBlock must be >= 2, got $maxBlock")
    val keyed = docs.select(col("doc_id"), col("text"),
      substring(col("text"), 1, blockPrefix).as("k"))
    val small = keyed.groupBy("k").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 && col("c") <= maxBlock).select("k")
    // blocks are bounded (≤ maxBlock) so the pair space per key is
    // bounded; the join shuffles on the block key only
    val b = keyed.join(small, "k")
    b.as("a").join(b.as("b"),
        col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.text"), col("b.text")).cast("long").as("dist"),
        greatest(length(col("a.text")), length(col("b.text"))).as("m"))
      .select(col("doc_a"), col("doc_b"), col("dist"),
        round(lit(1.0) - col("dist").cast("double") / col("m").cast("double"), 12)
          .as("sim"))
  }
}
