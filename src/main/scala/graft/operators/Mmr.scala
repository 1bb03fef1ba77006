package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
  * over precomputed shortlists — the diversifying rerank between a
  * retrieval shortlist and the result page: greedily pick the candidate
  * maximizing λ·rel − (1−λ)·max-sim-to-already-selected.
  *
  * The loop is inherently sequential in k, but each step is
  * data-parallel ACROSS queries and all state is shortlist-bounded
  * (candidates and their pairwise sims), so the k unrolled steps cost
  * one anti join + one bounded max-aggregate + one per-query argmax
  * window each — independent of corpus size. Determinism contract:
  * `rel` and `sim` must arrive pre-rounded (the caller's 12-dp
  * contract); each step's score rounds at 12 and argmax ties break on
  * the smaller candidate id, so a serial replay picks identical sets.
  */
object Mmr {

  /** Shortlist and sim rows at or below which the selection replays on
    * the driver.
    */
  private val ReplayBound = 200000

  /** Select `k` per query. `short`: (qCol, cCol, rel). `sims`:
    * (qCol, cCol, mCol, sim) — pairwise sims among each query's
    * shortlist, both directions. Output: (qCol, step, cCol, rel, mmr),
    * step 1-based in selection order; queries with fewer than k
    * candidates simply stop early.
    *
    * Adaptive (round 12): the k-step loop is k driver-synchronous rounds
    * of ~6 shuffle stages each (measured 57 AQE-stage jobs ≈ 2.9 s at
    * sf0.1 over 120 shortlist rows). Below `ReplayBound` shortlist and
    * sim rows ([[DriverReplay]]; long ids, double scores) the SAME greedy
    * recurrence replays on the driver — identical per-step rounding
    * (λ·rel and λ·rel − (1−λ)·pen rounded at 12, Spark Round semantics),
    * identical (score desc, candidate asc) argmax, identical missing-sim
    * → 0 penalty — differential-pinned against the distributed rounds in
    * AnnSpec. Shortlists are bounded per query by construction, so the
    * collect is bounded; corpus-scale query sets take the distributed path
    * unchanged.
    */
  def select(short: DataFrame, sims: DataFrame, lambda: Double, k: Int,
      qCol: String = "q_id", cCol: String = "n_id", mCol: String = "m_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda > 0 && lambda <= 1, s"lambda must be in (0,1], got $lambda")
    val integral = {
      import org.apache.spark.sql.types.{LongType, DoubleType}
      // LongType only: the replay materializes ids back into the output,
      // so any other id type must keep the distributed path (schema parity)
      short.schema(qCol).dataType == LongType &&
        short.schema(cCol).dataType == LongType &&
        short.schema("rel").dataType == DoubleType &&
        sims.schema("sim").dataType == DoubleType
    }
    // BOTH inputs are probed: `sims` is O(Σ per-query shortlist²) "both
    // directions" — a shortlist under the row bound can still carry an
    // unbounded sim table (1 k queries × 200 candidates ≈ 40 M sim rows),
    // and collecting it would OOM the driver where the distributed path
    // handles it.
    DriverReplay.probeAll(Seq(
        short.select(col(qCol), col(cCol), col("rel")),
        sims.select(col(qCol).cast("long"), col(cCol).cast("long"),
          col(mCol).cast("long"), col("sim"))),
      ReplayBound, integral).foreach { rows =>
      return selectDriver(short.sparkSession, rows(0), rows(1), lambda, k, qCol, cCol)
    }
    val wRel = Window.partitionBy(qCol).orderBy(col("rel").desc, col(cCol))
    var selected = short
      .withColumn("__rk", row_number().over(wRel)).filter(col("__rk") === 1)
      .select(col(qCol), col(cCol), col("rel"),
        round(lit(lambda) * col("rel"), 12).as("mmr"), lit(1).as("step"))
    for (i <- 2 to k) {
      // Left-join the penalty: a shortlist candidate with no sim row
      // against any selected item gets penalty 0 (its similarity is
      // unknown ≈ unrelated) instead of silently vanishing from every
      // later step when the caller's sims table is incomplete.
      val simToSel = sims
        .join(selected.select(col(qCol), col(cCol).as(mCol)), Seq(qCol, mCol))
        .groupBy(qCol, cCol)
        .agg(max(col("sim")).as("pen"))
      val pen = short
        .join(selected.select(qCol, cCol), Seq(qCol, cCol), "left_anti")
        .join(simToSel, Seq(qCol, cCol), "left")
        .select(col(qCol), col(cCol), col("rel"),
          coalesce(col("pen"), lit(0.0)).as("pen"))
      val wM = Window.partitionBy(qCol).orderBy(col("mmr").desc, col(cCol))
      val pick = pen
        .withColumn("mmr",
          round(lit(lambda) * col("rel") - lit(1 - lambda) * col("pen"), 12))
        .withColumn("__rk", row_number().over(wM)).filter(col("__rk") === 1)
        .select(col(qCol), col(cCol), col("rel"), col("mmr"), lit(i).as("step"))
      selected = Components.cut(selected.unionByName(pick))
    }
    selected.select(col(qCol), col("step"), col(cCol), col("rel"), col("mmr"))
  }

  /** Driver replay of the exact distributed recurrence over collected
    * shortlist (q, c, rel) and sim (q, c, m, sim) rows. Rounding is Spark's
    * Round (HALF_UP via BigDecimal.valueOf) and score arithmetic is the
    * same IEEE sequence (λ·rel, then λ·rel − (1−λ)·pen with the
    * pre-computed 1−λ constant), so every step picks the identical
    * candidate.
    */
  private def selectDriver(spark: org.apache.spark.sql.SparkSession,
      short: Array[org.apache.spark.sql.Row], sims: Array[org.apache.spark.sql.Row],
      lambda: Double, k: Int, qCol: String, cCol: String): DataFrame = {
    import spark.implicits._
    def r12(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP)
        .doubleValue
    val oneMinus = 1 - lambda // the lit(1 - lambda) constant, same IEEE op
    val shortRows = short.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // duplicate (q, c, m) sim rows merge with MAX — the distributed path
    // aggregates max(sim) over ALL rows, and a plain toMap would keep the
    // last row's value, diverging from the replay contract on inputs with
    // duplicate sim entries
    val simRows = sims
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .groupMapReduce(_._1)(_._2)(math.max)
    val byQ = shortRows.groupBy(_._1)
    val out = Vector.newBuilder[(Long, Int, Long, Double, Double)]
    byQ.toSeq.foreach { case (q, cands) =>
      var selected = List.empty[Long]
      var remaining = cands.map(t => (t._2, t._3)).toList
      var step = 1
      while (step <= k && remaining.nonEmpty) {
        // step 1 ranks by (rel DESC, c ASC) — the distributed wRel window —
        // NOT by the rounded mmr (two rels a hair apart can round to the
        // same 12-dp mmr; the window still orders them by rel)
        val pick =
          if (step == 1) {
            val (c, rel) = remaining.minBy { case (c, rel) => (-rel, c) }
            (c, rel, r12(lambda * rel))
          } else {
            val scored = remaining.map { case (c, rel) =>
              // max sim to any selected; missing sim rows contribute
              // nothing (exactly the distributed left-join + max shape:
              // no matching row at all → penalty 0)
              val pens = selected.flatMap(m => simRows.get((q, c, m)))
              val pen = if (pens.isEmpty) 0.0 else pens.max
              (c, rel, r12(lambda * rel - oneMinus * pen))
            }
            scored.minBy { case (c, _, mmr) => (-mmr, c) }
          }
        out += ((q, step, pick._1, pick._2, pick._3))
        selected ::= pick._1
        remaining = remaining.filterNot(_._1 == pick._1)
        step += 1
      }
    }
    out.result().toDF(qCol, "step", cCol, "rel", "mmr")
      .select(col(qCol), col("step"), col(cCol), col("rel"), col("mmr"))
  }
}
