package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed dedup / idempotent-load operators.
  *
  * Reference semantics reproduced here (citations into /root/reference):
  *  - insert-if-absent on primary key: src/load/load.py:25-128 (per-row
  *    `SELECT 1 ... WHERE id = ?` probe before INSERT) and the
  *    `INSERT OR IGNORE` statements in src/sql/transform_bronze_to_silver.sql.
  *  - first-writer-wins among duplicates: SQLite `INSERT OR IGNORE` keeps the
  *    first row seen per key (transform_bronze_to_silver.sql:10-35). SQLite's
  *    pick order is scan order (unspecified from SQL); we require an explicit
  *    deterministic `order` so results are reproducible and oracle-comparable
  *    (SURVEY.md §7.4).
  *
  * Scale notes: `insertIfAbsent` is a shuffle-on-key anti join — Catalyst
  * picks broadcast when `existing` is small, sort-merge otherwise; AQE can
  * convert at runtime. `firstWriterWins` is a single shuffle on the key
  * (window partitionBy); no driver-side loops anywhere.
  */
object Dedup {

  /** Deterministic first-writer-wins: keep, per key, the first row under
    * `order` (must be a total order within each key group).
    */
  def firstWriterWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Rows of `incoming` whose key is absent from `existing` — the append set
    * for an idempotent keyed load (anti join; Delta MERGE WHEN NOT MATCHED
    * is the transactional form of the same plan at warehouse scale).
    */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).dropDuplicates(keys), keys, "left_anti")

  /** Blocked fuzzy entity resolution over a name column — the classic
    * record-linkage pipeline (block → bounded pairwise edit distance →
    * transitive closure → canonical survivor). Returns one
    * (`nameCol`, canonical) row per DISTINCT name value; rows whose name
    * matched nothing map to themselves.
    *
    * Scale contract: comparisons happen on the DISTINCT-name dictionary
    * (canonicalize-first — a billion rows of one misspelling cost one
    * node), and only within a block (`blockExpr` over the name), the
    * standard recall-for-scale trade: a true match split across blocks is
    * consciously forfeited, so callers pick a block key coarse enough for
    * their typo model (last token here — typos concentrate in prefixes —
    * phonetic keys or q-gram buckets for harder corpora). Pairwise work
    * is Σ|block|² over distinct names; the expansion back to fact rows is
    * the caller's broadcast-size hash join on the returned dictionary.
    */
  def fuzzyNameClusters(names: DataFrame, nameCol: String,
      blockExpr: Column, maxDistance: Int = 2): DataFrame = {
    val n = names.select(col(nameCol)).distinct()
      .withColumn("__blk", blockExpr)
    val cand = n.as("a").join(n.as("b"),
        col("a.__blk") === col("b.__blk")
          && col(s"a.$nameCol") < col(s"b.$nameCol"))
      .filter(levenshtein(col(s"a.$nameCol"), col(s"b.$nameCol")) <= maxDistance)
      .select(col(s"a.$nameCol").as("__na"), col(s"b.$nameCol").as("__nb"))
    val comp = Components.connectedComponents(cand, "__na", "__nb")
      .select(col("id").as(nameCol), col("cluster_id").as("canonical"))
    n.select(col(nameCol)).join(comp, Seq(nameCol), "left")
      .withColumn("canonical", coalesce(col("canonical"), col(nameCol)))
  }

  /** Cross-document repeated-substring profile — the first phase of
    * exact-substring training-data dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): every `w`-token window
    * is hashed; a window whose hash occurs in ≥ 2 DISTINCT documents is a
    * cross-corpus repeat, and each document reports how many of its tokens
    * are covered by at least one repeated window. Returns one row per
    * document: (doc_id, n_tokens, dup_tokens, dup_frac).
    *
    * Scale contract: inherently clone-LINEAR — there is no pair join
    * anywhere, so a boilerplate block shared by g documents costs g flagged
    * rows, not g². One corpus scan emits the window hashes from the token
    * array in a codegen'd `transform` (no explode-then-self-join); the only
    * shuffles are the hash-keyed distinct-doc count, the flag join back,
    * and a doc-keyed window whose state is one document's flagged
    * positions. Covered-token counting is an interval merge over sorted
    * window starts (consecutive starts closer than `w` overlap), exact,
    * not w·|flags|.
    */
  /** ONE corpus scan shared by [[crossDocRepeatProfile]] and
    * [[exactSubstringRemove]]: per-doc token count + the w-token window
    * hashes, materialized together (Catalyst shares no subtrees — without
    * the cut the dup aggregate, the flag join, and the final projection
    * each re-scan and re-tokenize the corpus: measured 3 scans in the
    * uncut plan). The cut frame holds ~one long per corpus token (plus
    * the token arrays when `keepTokens`, for reconstruction) — the
    * deliberate trade of 1x-corpus block storage for 2 saved full
    * tokenize passes. Returns (per, flagged): per = (doc_id, n_tokens,
    * hs[, t]); flagged = (doc_id, p), the 1-based starts of w-token
    * windows whose hash occurs in >= 2 distinct documents.
    */
  private def repeatFlags(docs: DataFrame, w: Int,
      keepTokens: Boolean): (DataFrame, DataFrame) = {
    val keep = if (keepTokens) Seq(col("t")) else Nil
    val per = Components.cut(
      docs.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .select(Seq(col("doc_id"), col("n_tokens")) ++ keep :+
          when(col("n_tokens") >= w,
            transform(sequence(lit(1), (col("n_tokens") - (w - 1)).cast("int")),
              i => xxhash64(concat_ws("\u0001", slice(col("t"), i, lit(w))))))
            .otherwise(array().cast("array<bigint>")).as("hs"): _*))
    // (doc_id, p, h): window start p (1-based); empty hs ⇒ no rows
    val grams = per.select(col("doc_id"), posexplode(col("hs")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("h"))
    val dup = grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    (per, grams.join(dup, "h").select("doc_id", "p"))
  }

  def crossDocRepeatProfile(docs: DataFrame, w: Int = 8): DataFrame = {
    val (per, flagged) = repeatFlags(docs, w, keepTokens = false)
    val wnd = Window.partitionBy("doc_id").orderBy("p")
    val covered = flagged
      .withColumn("nxt", lead(col("p"), 1).over(wnd))
      .withColumn("cov",
        when(col("nxt").isNull || col("nxt") - col("p") >= w, lit(w.toLong))
          .otherwise(col("nxt") - col("p")))
      .groupBy("doc_id").agg(sum(col("cov")).as("dup_tokens"))
    per.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("dup_tokens").cast("double") / col("n_tokens"), 12)))
  }

  /** Exact-substring REMOVAL — phase 2 of Lee et al. 2021, completing
    * [[crossDocRepeatProfile]]'s profile-only pass: every token covered
    * by a ≥2-doc repeated `w`-token window is CUT, and the surviving
    * tokens are reassembled (single-space joined) into the cleaned
    * training text. Returns one row per document:
    * (doc_id, n_tokens, dup_tokens, kept_tokens, clean_text) with
    * kept_tokens = n_tokens − dup_tokens by construction.
    *
    * Scale contract: clone-LINEAR like the profile (no pair join — a
    * span shared by g documents costs g flagged rows). The per-doc
    * reconstruction is array-native: flagged starts collect per doc
    * (bounded by the doc's own window count), fold into MERGED coverage
    * intervals in one `aggregate` pass over the sorted starts, and the
    * keep filter tests each token against the merged runs — so a
    * boilerplate-saturated document (flags ≈ n_tokens) costs O(n·runs),
    * runs ≈ 1, not O(n²). No driver collect anywhere; the only shuffles
    * are the hash-keyed dup count, the flag join, and the per-doc
    * collect_list.
    */
  def exactSubstringRemove(docs: DataFrame, w: Int = 8): DataFrame = {
    val (per, flagged) = repeatFlags(docs, w, keepTokens = true)
    val ps = flagged.groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("ps"))
    // merged half-open coverage intervals [s, e): a start overlapping or
    // adjacent to the previous run (p <= e) extends it, else opens a new
    // one — starts are sorted, so one fold pass merges exactly
    val iv = expr(
      s"""aggregate(ps, CAST(array() AS array<struct<s: int, e: int>>),
         |  (acc, p) -> IF(size(acc) > 0 AND p <= element_at(acc, -1).e,
         |    concat(slice(acc, 1, size(acc) - 1),
         |      array(named_struct('s', element_at(acc, -1).s,
         |                         'e', greatest(element_at(acc, -1).e, p + $w)))),
         |    concat(acc, array(named_struct('s', p, 'e', p + $w)))))""".stripMargin)
    per.join(ps, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), array().cast("array<int>")))
      .withColumn("iv", iv)
      // empty text: split('') is [''] while n_tokens is 0 — keep nothing
      .withColumn("kept", when(col("n_tokens") === 0,
          expr("CAST(array() AS array<struct<i: int, tok: string>>)"))
        .otherwise(expr(
          s"""filter(transform(t, (tok, i0) -> named_struct('i', i0 + 1, 'tok', tok)),
             |  s -> NOT exists(iv, v -> s.i >= v.s AND s.i < v.e))""".stripMargin)))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("dup_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        expr("array_join(transform(kept, s -> s.tok), ' ')").as("clean_text"))
  }
}
