package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one decision "replay this input on the driver?" for the iterative
  * operators (PageRank, Hits, Harmonic, Bfs, Sssp, Lpa, KCore, KTruss,
  * Betweenness, Scc, Components, Boruvka, Mmr, BeamAnn).
  *
  * Each of them runs its recurrence as distributed rounds — the route a
  * 100 TB input takes — and replays the SAME recurrence serially on the
  * driver when the input is aggregate-sized: one bounded collect then
  * replaces O(rounds) scheduled jobs whose cost at that size is pure
  * scheduling latency, not compute. Both routes are pinned
  * output-identical by each operator's differential spec.
  *
  * Every replay asks this gate, which applies three rules:
  *  - the session switch [[Switch]] (default `true`; `false` forces every
  *    operator onto its distributed route — the idiom of Spark's
  *    `spark.sql.autoBroadcastJoinThreshold = -1`);
  *  - the operator's schema predicate (the column types its replay
  *    handles); `false` routes to the distributed path;
  *  - the operator's row bound, a private constant next to its replay.
  *
  * A switched-off or schema-refused input costs no job. An input that is
  * not yet materialised costs ONE `limit(bound + 1)` collect, whose rows
  * feed the replay directly; an input whose row count the operator already
  * holds (a counted cut) costs none. Operators decide eagerly, when they
  * build their output frame, so a scoped [[distributedOnly]] governs the
  * route of everything built inside it.
  */
object DriverReplay {

  val Switch = "spark.graft.driverReplay"

  /** Admissions (probes or counts the gate passed), across every operator
    * — specs watch it to pin which route ran (both routes are
    * output-identical by design, so equality alone cannot tell them apart).
    */
  private[graft] val runs = new java.util.concurrent.atomic.AtomicLong()

  /** The decision itself; `fits` runs only when switch and schema allow. */
  private def admit(spark: SparkSession, schemaOk: Boolean, fits: => Boolean): Boolean = {
    val ok = schemaOk && spark.conf.get(Switch, "true").toBoolean && fits
    if (ok) runs.incrementAndGet()
    ok
  }

  /** All rows of `input` when the replay is admitted and `input` has at
    * most `bound` rows; None otherwise.
    */
  def probe(input: DataFrame, bound: Int, schemaOk: Boolean = true): Option[Array[Row]] =
    probeAll(Seq(input), bound, schemaOk).map(_.head)

  /** [[probe]] over every input a replay collects: Some only when each has
    * at most `bound` rows. Inputs are probed in order and the first one
    * over the bound stops the probing.
    */
  def probeAll(inputs: Seq[DataFrame], bound: Int,
      schemaOk: Boolean = true): Option[Seq[Array[Row]]] = {
    val rows = Seq.newBuilder[Array[Row]]
    def fits = inputs.forall { input =>
      val r = input.limit(bound + 1).collect()
      rows += r
      r.length <= bound
    }
    if (admit(inputs.head.sparkSession, schemaOk, fits)) Some(rows.result()) else None
  }

  /** The gate for an input whose row count `n` is already known: no job. */
  def admits(spark: SparkSession, n: Long, bound: Int, schemaOk: Boolean = true): Boolean =
    admit(spark, schemaOk, n <= bound)

  /** Runs `body` with every replay switched off, restoring the session's
    * previous setting afterwards — how reference-route specs and q77 force
    * the distributed rounds.
    */
  def distributedOnly[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(Switch)
    spark.conf.set(Switch, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Switch, v)
      case None => spark.conf.unset(Switch)
    }
  }
}
