package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting by degree orientation (the
  * node-iterator++ / "compact-forward" scheme: Schank & Wagner 2005,
  * Latapy 2008). Orient every undirected edge from its lower-(degree, id)
  * endpoint to the higher one; a triangle {u,v,w} then has exactly ONE
  * wedge (v←u→w) at its minimum-key vertex whose closing edge (v→w) is
  * also oriented — so counting [oriented wedge + oriented closing edge]
  * counts each triangle exactly once, no global dedup.
  *
  * Why this survives scale: wedge generation is the quadratic step, and
  * under degree orientation every vertex's OUT-degree is O(√E) (a vertex
  * of degree d > √E only points to vertices of degree ≥ d, and there are
  * < √E of those... the classic arboricity bound), so Σ outdeg² — the
  * wedge count — is O(E^1.5) worst case instead of Σ deg² (quadratic on
  * a hub). Every step is an equi-join/aggregate on node or edge keys:
  * degrees (one agg), orientation (broadcastable degree attach), wedges
  * (self-join on center), closure (join on the (v,w) edge key).
  */
object Triangles {

  /** Per-node triangle participation counts: (node, n_triangles) for
    * every node of ≥1 triangle. Input edges are treated as undirected;
    * self-loops and duplicate/reverse edges are normalized away.
    */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    // canonical undirected edge set (a < b), deduped — referenced by the
    // degree agg, the orientation attach, and the closure join
    val und = Components.cut(
      e0.filter(col("s") =!= col("d"))
        .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
        .distinct())
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id) ascending: u → v iff key(u) < key(v)
    val withKeys = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = Components.cut(
      withKeys.select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v")))
    // wedges at the min-key center: pairs of out-neighbors, canonically
    // ordered by node id so the closing edge is probed under ONE key
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("c"),
        least(col("x.v"), col("y.v")).as("p"),
        greatest(col("x.v"), col("y.v")).as("q"))
    // the closing edge is undirected-canonical (p < q by construction)
    val tri = wedges.join(und,
        wedges("p") === und("a") && wedges("q") === und("b"))
      .select(col("c"), col("p"), col("q"))
    tri.select(explode(array(col("c"), col("p"), col("q"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  /** Local clustering coefficient: (node, degree, triangles, coefficient)
    * for EVERY node of the undirected graph — [[perNode]]'s counts
    * (zero-filled for triangle-free nodes) over the degree frame, with
    * coefficient = 2T / (deg·(deg−1)) as one integer-ratio IEEE divide
    * rounded to 9 dp (0.0 for degree-1 nodes). Same cost shape as
    * [[perNode]] plus one degree aggregate and a node-keyed join — the
    * O(E^1.5) wedge bound is unchanged.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e0 = edges.select(
      col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    val und = e0.filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(perNode(edges, srcCol, dstCol), Seq("node"), "left")
      .select(col("node"), col("deg").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"), 9))
          .otherwise(lit(0.0)).as("coefficient"))
  }
}
