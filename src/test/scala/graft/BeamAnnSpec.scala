package graft

import graft.operators.{BeamAnn, DriverReplay}
import org.apache.spark.sql.functions._

/** Differential pin for [[graft.operators.BeamAnn]]: the driver replay
  * must be bit-identical to the distributed rounds — same beam membership
  * under the (cos DESC, node ASC) order, same 12 dp Spark-Round cosines
  * from the scale-20 decimal dot contract, same final top-k after
  * self-exclusion — including on dangling edges and on corpora the replay
  * does not read.
  */
class BeamAnnSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic float vectors: id i gets a slightly rotated pattern so
    * cosines are distinct but clustered; ids close together are similar.
    */
  private def corpus(n: Int, dim: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (math.sin(0.7 * (i % 7) + 0.13 * d) + 0.01 * i).toFloat).toSeq)
    }.toDF("vec_id", "embedding")

  /** knn edges by exact cosine would need the operator under test; a fixed
    * synthetic out-degree-3 ring graph is enough to exercise multi-hop
    * expansion, dead ends and revisits.
    */
  private def ring(n: Int) =
    (0 until n).flatMap { i =>
      Seq((i.toLong, ((i + 1) % n).toLong),
        (i.toLong, ((i + 3) % n).toLong),
        (i.toLong, ((i * 2 + 1) % n).toLong))
    }.toDF("src", "dst")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  /** Both routes over the same input, with the number of replays the gate
    * admitted on the default route.
    */
  private def bothRoutes(emb: org.apache.spark.sql.DataFrame,
      e: org.apache.spark.sql.DataFrame) = {
    def search = rows(BeamAnn.searchTopK(emb, e, maxQueryId = 5, width = 4, hops = 6, k = 3))
    val before = DriverReplay.runs.get()
    val default = search
    val admitted = DriverReplay.runs.get() - before
    val dist = DriverReplay.distributedOnly(spark)(search)
    assert(DriverReplay.runs.get() === before + admitted,
      "replays switched off must force the distributed rounds")
    assert(default.size === dist.size)
    default.zip(dist).foreach { case (a, b) =>
      assert(a._1 === b._1 && a._2 === b._2 && a._3 === b._3, s"$a vs $b")
      assert(java.lang.Double.compare(a._4, b._4) === 0, s"cos of $a vs $b")
    }
    (default, admitted)
  }

  test("beam search: driver replay is bit-identical to the distributed rounds") {
    val (replay, admitted) = bothRoutes(corpus(60, 8), ring(60))
    assert(admitted === 1, "sub-bound corpus must take the driver replay")
    // sanity: every query emitted k rows and never its own node
    assert(replay.map(_._1).distinct.size === 5)
    assert(replay.forall { case (q, _, n, _) => q != n })
  }

  test("beam search: edges to ids without an embedding are dropped on both routes") {
    // every node also points at an id the corpus lacks, plus null targets
    val dangling = (0 until 60).map(i => (i.toLong, Option(1000L + i))) ++
      Seq((1L, None), (2L, None))
    val e = ring(60).union(dangling.toDF("src", "dst"))
    val (replay, admitted) = bothRoutes(corpus(60, 8), e)
    assert(admitted === 1)
    assert(replay.forall(_._3 < 60), s"a dangling target was ranked: $replay")
  }

  test("beam search: a double-array corpus routes to the distributed rounds") {
    val emb = corpus(60, 8).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val (got, admitted) = bothRoutes(emb, ring(60))
    assert(admitted === 0, "the replay reads float arrays only")
    // same neighbours as the float corpus (the element cast is exact)
    assert(got === rows(BeamAnn.searchTopK(
      corpus(60, 8), ring(60), maxQueryId = 5, width = 4, hops = 6, k = 3)))
  }
}
