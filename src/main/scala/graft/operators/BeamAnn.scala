package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Greedy beam search over a knn graph (the HNSW layer-0 / NSW pattern,
  * Malkov & Yashunin 2018), factored out of the q253 query so the two
  * execution routes share one contract:
  *
  *  - distributed: per hop, expand the beam along out-edges, score
  *    candidates by the 12 dp-rounded exact-decimal cosine against the
  *    query vector, keep the best `width` per query. Hop state (≤
  *    |queries| × width rows BY THE ALGORITHM'S CONSTANTS, independent of
  *    corpus size) rides the driver as a LocalRelation between hops, so
  *    the expand/score joins broadcast it while corpus-side scoring stays
  *    distributed.
  *  - driver replay below `ReplayBound` corpus/edge rows (the
  *    [[DriverReplay]] gate, long ids and float-array embeddings only):
  *    the SAME recurrence over collected vectors — identical decimal dot
  *    accumulation ([[graft.expressions.DotDecimal]]'s scale-20 HALF_UP
  *    per-product rounding), identical 12 dp Spark-Round cosine, identical
  *    (cos DESC, node ASC) beam order — because at sf scale the
  *    distributed route's cost is 7 × per-hop plan/JIT latency
  *    (ProbeQueryJobs: 49 jobs, ~1.6 s driver gaps for 40-row hop state),
  *    not compute. Larger corpora take the distributed rounds unchanged;
  *    both routes are pinned output-identical in BeamAnnSpec, including
  *    on edges whose dst has no embedding (both drop the candidate).
  */
object BeamAnn {

  /** Corpus and edge rows at or below which the search replays on the
    * driver.
    */
  private val ReplayBound = 200000

  /** Top-`k` beam-search neighbors for every query vector (`vec_id <
    * maxQueryId`), entered at the min vec_id, over `edges` (src, dst).
    * Returns (q_id, rank, n_id, cos) ordered by (q_id, rank); the query's
    * own node may ride the beam (it routes the search into its knn
    * neighborhood) but is excluded from the output, matching exact-knn
    * semantics.
    */
  def searchTopK(emb: DataFrame, edges: DataFrame, maxQueryId: Long,
      width: Int, hops: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    // the replay collects corpus AND edges, so both must be bounded; long
    // vec_ids + float-array embeddings are the only shapes it reads —
    // anything else takes the distributed path
    val replayable = emb.schema("vec_id").dataType == LongType &&
      (emb.schema("embedding").dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    DriverReplay.probeAll(Seq(
        emb.select(col("vec_id"), col("embedding")),
        edges.select(col("src").cast("long"), col("dst").cast("long"))),
      ReplayBound, replayable) match {
      case Some(rows) => searchDriver(emb.sparkSession, rows(0), rows(1),
        maxQueryId, width, hops, k)
      case None => searchDistributed(emb, edges, maxQueryId, width, hops, k)
    }
  }

  private def searchDistributed(emb: DataFrame, edges: DataFrame,
      maxQueryId: Long, width: Int, hops: Int, k: Int): DataFrame = {
    val s = emb.sparkSession
    // the query vectors and the entry row are algorithm-constant-sized —
    // landing them as LocalRelations once removes a broadcast-build job
    // per hop from the score joins below
    def localRel(df: DataFrame) =
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val queries = broadcast(localRel(
      emb.filter(col("vec_id") < maxQueryId)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))))
    val corpus = emb.select(col("vec_id").as("node"), col("embedding").as("ne"))
    val entry = localRel(emb.agg(min(col("vec_id")).as("node")))
    def score(cand: DataFrame) = cand
      .join(queries, "q_id")
      .join(corpus, "node")
      .select(col("q_id"), col("node"),
        round(graft.functions.Similarity.cosine(col("qe"), col("ne")), 12).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("node"))
    def top(scored: DataFrame, kk: Int) = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= kk)
      .select("q_id", "node", "cos")
    def localize(df: DataFrame) = localRel(df.select("q_id", "node", "cos"))
    var beam = localize(top(score(
      queries.select("q_id").crossJoin(broadcast(entry))), width))
    for (_ <- 1 to hops) {
      val expand = beam.select("q_id", "node")
        .union(
          beam.join(edges, col("node") === col("src"))
            .select(col("q_id"), col("dst").as("node")))
        .distinct()
      beam = localize(top(score(expand), width))
    }
    beam.filter(col("node") =!= col("q_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("node").as("n_id"), col("cos"))
      .orderBy("q_id", "rank")
  }

  /** Exact replay of the distributed recurrence over collected
    * (vec_id, embedding) and (src, dst) rows.
    */
  private def searchDriver(s: org.apache.spark.sql.SparkSession,
      emb: Array[org.apache.spark.sql.Row], edges: Array[org.apache.spark.sql.Row],
      maxQueryId: Long, width: Int, hops: Int, k: Int): DataFrame = {
    import s.implicits._
    val vecs = new java.util.HashMap[Long, Array[Float]]()
    emb.foreach(r => vecs.put(r.getLong(0), r.getSeq[Float](1).toArray))
    // an edge whose dst is null or has no embedding is dropped, as the
    // distributed route's inner join with the corpus drops that candidate
    val adj = new java.util.HashMap[Long, List[Long]]()
    edges.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && vecs.containsKey(r.getLong(1)))
      .foreach { r =>
        adj.merge(r.getLong(0), List(r.getLong(1)), (o, n) => n ::: o)
      }
    import scala.jdk.CollectionConverters._
    val queryIds = vecs.keySet().asScala.iterator.filter(_ < maxQueryId).toSeq.sorted
    val entry = vecs.keySet().asScala.min
    // DotDecimal's contract: each double product rounded HALF_UP at scale
    // 20, exact decimal sum, one final doubleValue()
    def dotDec(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < n) {
        val p = a(i).toDouble * b(i).toDouble
        acc = acc.add(new java.math.BigDecimal(p)
          .setScale(20, java.math.RoundingMode.HALF_UP))
        i += 1
      }
      acc.doubleValue()
    }
    val norms = new java.util.HashMap[Long, java.lang.Double]()
    def norm(id: Long): Double = {
      val c = norms.get(id)
      if (c != null) c.doubleValue()
      else {
        val v = vecs.get(id)
        val n = math.sqrt(dotDec(v, v))
        norms.put(id, n)
        n
      }
    }
    // Spark Round semantics incl. its NaN/Infinity passthrough
    def round12(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue
    def cos(q: Long, nId: Long): Double = {
      val d = dotDec(vecs.get(q), vecs.get(nId)) / (norm(q) * norm(nId))
      round12(d)
    }
    // (cos DESC, node ASC) — java.lang.Double.compare matches Spark's
    // double sort order on the non-NaN cosines a normalized corpus carries
    def topW(q: Long, cands: Iterable[Long], kk: Int): Seq[(Long, Double)] =
      cands.toSeq.map(n => (n, cos(q, n)))
        .sortWith { (x, y) =>
          val c = java.lang.Double.compare(y._2, x._2)
          if (c != 0) c < 0 else x._1 < y._1
        }
        .take(kk)
    val beams = scala.collection.mutable.Map.empty[Long, Seq[(Long, Double)]]
    queryIds.foreach { q => beams(q) = topW(q, Seq(entry), width) }
    for (_ <- 1 to hops) {
      queryIds.foreach { q =>
        val cur = beams(q).map(_._1)
        val expand = (cur ++ cur.flatMap(n =>
          Option(adj.get(n)).getOrElse(Nil))).distinct
        beams(q) = topW(q, expand, width)
      }
    }
    val out = queryIds.flatMap { q =>
      beams(q).filter(_._1 != q).take(k).zipWithIndex.map {
        case ((n, c), i) => (q, i + 1, n, c)
      }
    }
    out.toDF("q_id", "rank", "n_id", "cos")
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cos"))
      .orderBy("q_id", "rank")
  }
}
