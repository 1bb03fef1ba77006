package graft.streaming

import graft.operators.{Cdc, Dedup}
import graft.pipeline.Versions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming CDC apply: a change stream (I/U/D rows) folded into a keyed
  * snapshot, one copy-on-write version per micro-batch.
  *
  * The batch medallion's keyed first-writer bronze load
  * ([[graft.pipeline.Medallion.runAtomicBatches]]) is the reference's
  * insert-only L1; this is the general MERGE form. Each batch is
  * compacted to its latest change per key (ordered by `seqCol` — CDC
  * feeds carry a log sequence number),
  * merged with [[Cdc.applyChanges]], and written to `v<batchId>` with a
  * marker-file pointer flip (the [[graft.pipeline.Versions]] two-phase
  * publish, shared with the batch medallion's atomic commit).
  * Re-delivered batches (foreachBatch replays after failure) are detected
  * by batch id and skipped, making the sink effectively exactly-once on
  * top of an at-least-once stream.
  */
object StreamingCdcLoad {

  /** Apply one change batch (`op` ∈ {"I","U","D"}, see
    * [[Cdc.applyChanges]]); returns true if applied, false if `batchId`
    * was already committed (replay after failure — skipped).
    */
  def applyBatch(spark: SparkSession, changes: DataFrame, root: String,
      keys: Seq[String], seqCol: String, batchId: Long = 0L): Boolean = {
    val current = Versions.latest(spark, root)
    if (current.exists(_._1 >= batchId)) {
      // normal only for a genuine foreachBatch replay (same checkpoint).
      // A restart with a CLEARED checkpoint restarts batch ids at 0 and
      // would land here for every batch — surface it loudly, because the
      // snapshot would otherwise silently stop advancing. (The batch-id ↔
      // marker coupling is the exactly-once contract: keep the checkpoint
      // directory paired with the snapshot root.)
      System.err.println(
        s"[StreamingCdcLoad] skipping batch $batchId: snapshot $root already at " +
          s"version ${current.get._1} (replay, or a checkpoint/marker mismatch)")
      return false
    }
    val compacted = Dedup.firstWriterWins(
      changes, keys, Seq(col(seqCol).desc)).drop(seqCol)
    val snapshot = current match {
      case Some((_, dir)) => graft.Tables.parquet(spark, dir)
      case None => compacted.drop("op").limit(0)
    }
    val next = Cdc.applyChanges(snapshot, compacted, keys)
    // the parquet write drops v<id>/_SUCCESS itself, so the staged
    // version is already recovery-visible; then flip the pointer
    next.write.mode("overwrite").parquet(s"$root/v$batchId")
    Versions.publish(spark, root, batchId)
    true
  }

  /** Drain all available change files from `srcDir` into the snapshot at
    * `root`, one file and one version per micro-batch, then stop.
    */
  def run(spark: SparkSession, srcDir: String, root: String, keys: Seq[String],
      seqCol: String, checkpointDir: String): Unit = {
    val schema = graft.Tables.parquet(spark, srcDir).schema
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch.sparkSession, batch, root, keys, seqCol, batchId = id); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
