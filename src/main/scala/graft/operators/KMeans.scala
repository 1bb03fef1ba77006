package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic Lloyd's k-means over an embedding column — the corpus
  * clustering stage (topic bucketing, mixture balancing, IVF coarse
  * quantizer training) as a first-class batch operator.
  *
  * Every arithmetic step is pinned so a serial engine replaying the same
  * recurrence reproduces the assignment bit-for-bit (the q108/q112
  * differential-grading scheme):
  *  - init: the k vectors with the smallest seeded id-scrambles
  *    ([[Sharding.scramble]]; replayable as ORDER BY scramble, id LIMIT k),
  *    cluster ids = the seed vectors' ids;
  *  - assign: squared distance ‖x‖² + ‖c‖² − 2·x·c with every dot product
  *    decimal-accumulated ([[graft.functions.Similarity.dotExact]] — the
  *    codegen'd native loop), rounded at 12 dp, argmin breaking ties by
  *    cluster id;
  *  - update: per-dimension means accumulate 15 dp-rounded coordinates in
  *    DECIMAL(38,15) (partition-order free), round at 12 dp, and are
  *    stored back as FLOAT (the embedding element type — so the next
  *    round's dot products run the same float-exact products in every
  *    engine); empty clusters keep their previous centroid.
  *
  * Scale shape: per round ONE broadcast of k centroid rows onto the
  * corpus (the n×k assign is a map-side cross join — no shuffle), ONE
  * (cluster, dim)-keyed aggregate bounded by k·dim groups, and a
  * k-row centroid rebuild; lineage cut every round through
  * [[Components.cut]]. The driver never holds per-vector state — only
  * the k×dim centroid frame ever leaves the executors, and it stays a
  * DataFrame end to end.
  */
object KMeans {

  /** Final assignment after `iterations` Lloyd rounds:
    * (vec_id, cluster, d2) — cluster = seed-vector id of the centroid,
    * d2 = 12 dp-rounded squared distance to the FINAL centroid.
    */
  def run(
      vecs: DataFrame, k: Int, iterations: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val dot = graft.functions.Similarity.dotExact _

    val v = Components.cut(
      vecs.select(col("vec_id"), col("embedding"),
        round(dot(col("embedding"), col("embedding")), 12).as("xx")))

    var centroids = Components.cut(
      Sampling.sampleExactN(vecs.select("vec_id", "embedding"), "vec_id", k, seed)
        .select(col("vec_id").as("cid"), col("embedding").as("ce")))

    def assign(cs: DataFrame): DataFrame = {
      val withD = v.crossJoin(broadcast(
          cs.select(col("cid"), col("ce"),
            round(dot(col("ce"), col("ce")), 12).as("cc"))))
        .select(col("vec_id"), col("embedding"),
          col("cid"),
          round(col("xx") + col("cc") - lit(2.0) * dot(col("embedding"), col("ce")), 12)
            .as("d2"))
      withD.groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"),
          first(col("embedding")).as("e"))
        .select(col("vec_id"), col("m.cid").as("cluster"),
          col("m.d2").as("d2"), col("e"))
    }

    for (_ <- 1 to iterations) {
      val assigned = assign(centroids)
      val means = assigned
        .select(col("cluster").as("cid"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg((sum(round(col("x").cast("double"), 15).cast(DecimalType(38, 15)))
          .cast("double") / count(lit(1))).as("mean"))
        .groupBy("cid")
        .agg(sort_array(collect_list(struct(col("i"), col("mean")))).as("ms"))
        .select(col("cid"),
          transform(col("ms"), m => round(m("mean"), 12).cast("float")).as("nce"))
      centroids = Components.cut(
        centroids.join(means, Seq("cid"), "left")
          .select(col("cid"), coalesce(col("nce"), col("ce")).as("ce")))
    }
    assign(centroids).select(col("vec_id"), col("cluster"), col("d2"))
  }
}
