package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed change-data-capture merge (MERGE INTO semantics) over immutable
  * snapshots.
  *
  * The reference's bronze load is insert-only (L1); real feeds also carry
  * updates and deletes. [[applyChanges]] produces the next snapshot from
  * the previous one plus a changeset in ONE shuffled anti-join + union:
  * rows whose key is touched by any change drop out of the old snapshot,
  * and insert/update payloads come in from the changeset. At warehouse
  * scale this is the copy-on-write table-format merge: both sides shuffle
  * once on the key, nothing loops on the driver.
  */
object Cdc {

  /** Next snapshot after applying `changes` (same data columns as
    * `snapshot` plus `op` ∈ {"I","U","D"}).
    *
    * Semantics: D removes the key; I/U upsert the payload (an update to an
    * absent key inserts — upsert semantics; a delete of an absent key is a
    * no-op). The changeset must carry at most one row per key (CDC
    * compaction — picking the latest pre-merge — is
    * [[Dedup.firstWriterWins]] on a sequence column upstream).
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    val touched = changes.select(keys.map(col): _*).distinct()
    val survivors = snapshot.join(touched, keys, "left_anti")
    val upserts = changes
      .filter(col("op").isin("I", "U"))
      .drop("op")
    survivors.unionByName(upserts)
  }

  /** Snapshot diff — the inverse of [[applyChanges]]: classify every key
    * across two keyed snapshots (time-travel audit / "what changed
    * between v_i and v_j"). Emits one row per key present in either
    * snapshot with `change` ∈ insert/delete/update, and the compared
    * columns from both sides as `old_<c>` / `new_<c>`; unchanged keys are
    * dropped (the common case at warehouse scale — emitting them would
    * make the diff as big as the table). Comparison is null-safe (`<=>`),
    * so NULL → value and value → NULL both read as updates, NULL → NULL
    * does not.
    *
    * One sort-merge full-outer join on the key — both sides shuffle once,
    * no window, nothing on the driver.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "diff needs at least one compared column")
    val o = oldSnap.select((keys ++ compareCols).map(col): _*)
      .withColumn("__old", lit(true))
    val n = newSnap.select((keys ++ compareCols).map(col): _*)
      .withColumn("__new", lit(true))
    val renamedO = compareCols.foldLeft(o)((d, c) => d.withColumnRenamed(c, s"old_$c"))
    val renamedN = compareCols.foldLeft(n)((d, c) => d.withColumnRenamed(c, s"new_$c"))
    val changed = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    renamedO.join(renamedN, keys, "full_outer")
      .withColumn("change",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("change").isNotNull)
      .drop("__old", "__new")
  }
}
