package graft.pipeline

import org.apache.spark.sql.SparkSession

/** Versioned-snapshot publish protocol shared by the streaming CDC sink
  * ([[graft.streaming.StreamingCdcLoad]]) and the batch medallion
  * ([[Medallion.runAtomicBatches]]): writers stage a complete version under
  * `root/v<N>`, drop a `v<N>/_SUCCESS` completion file, and flip the
  * `root/_LATEST` pointer with a write-then-atomic-rename — the same
  * two-phase publish a transactional table format performs natively.
  * Readers resolve through [[latest]]; a torn or missing marker falls
  * back to the highest COMPLETED version directory, so the marker is a
  * pointer cache, never the source of truth.
  */
object Versions {

  val Marker = "_LATEST"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, dir) of the current committed snapshot, if any. Tolerates
    * a corrupt/empty marker (crash between create and write of a
    * non-atomic writer, or a torn concurrent read) by falling back to the
    * highest committed `v*` directory.
    */
  def latest(spark: SparkSession, root: String): Option[(Long, String)] = {
    val f = fs(spark, root)
    val marker = new org.apache.hadoop.fs.Path(s"$root/$Marker")
    val fromMarker =
      if (!f.exists(marker)) None
      else try {
        val in = f.open(marker)
        val s = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
        s.toLongOption
      } catch {
        // torn read, stale checksum sidecar, marker deleted between exists
        // and open — all the same case: the pointer cache is unreadable,
        // the version directories are the source of truth
        case scala.util.control.NonFatal(_) => None
      }
    fromMarker.orElse(maxVersionDir(f, root)).map(v => (v, s"$root/v$v"))
  }

  /** Highest `v<n>` directory under `root` that holds a completed write
    * (`_SUCCESS`), or None. Recovery path only — O(#versions) listing.
    */
  private def maxVersionDir(
      f: org.apache.hadoop.fs.FileSystem, root: String): Option[Long] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!f.exists(rootPath)) None
    else f.listStatus(rootPath).toSeq
      .filter(_.isDirectory)
      .flatMap(st => {
        val n = st.getPath.getName
        if (n.startsWith("v")) n.drop(1).toLongOption else None
      })
      .filter(v => f.exists(new org.apache.hadoop.fs.Path(s"$root/v$v/_SUCCESS")))
      .maxOption
  }

  /** Mark the staged `root/v<version>` complete (for the max-v* recovery
    * scan) — call after every table of the version has landed, before
    * [[publish]].
    */
  def markComplete(spark: SparkSession, root: String, version: Long): Unit = {
    val f = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/v$version/_SUCCESS")
    if (!f.exists(p)) f.create(p, true).close()
  }

  /** Pointer flip: write-then-rename, so a reader never observes a
    * truncated/empty marker (create(overwrite=true) would truncate in
    * place before the new bytes land). The replace must be a SINGLE
    * atomic op, and WHICH op that is depends on the filesystem:
    *  - local fs: POSIX rename(2) via Files.move(ATOMIC_MOVE) — Hadoop's
    *    FileContext.rename(OVERWRITE) is NOT atomic here (RawLocalFs
    *    inherits AbstractFileSystem's delete-then-rename default, which
    *    reopens the no-marker window);
    *  - HDFS: FileContext.rename(OVERWRITE), which HDFS implements as an
    *    atomic namespace operation;
    *  - object stores (S3A): rename is copy+delete — NOT atomic;
    *    [[latest]]'s max-v* fallback keeps readers correct (just slower)
    *    through that window, and a transactional table format is the
    *    real answer at that tier.
    */
  def publish(spark: SparkSession, root: String, version: Long): Unit = {
    val f = fs(spark, root)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$Marker.tmp")
    val marker = new org.apache.hadoop.fs.Path(s"$root/$Marker")
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      // raw java.nio on the local branch throughout: going through
      // LocalFileSystem.create would spawn .crc sidecars that a raw
      // rename then leaves stale (checksum failure on the next read)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        version.toString.getBytes("UTF-8"))
      // a FOREIGN checksummed writer may have left a marker sidecar;
      // drop it so post-flip reads are raw (readers between the delete
      // and the move still see the old marker — never none)
      f.delete(new org.apache.hadoop.fs.Path(s"$root/.$Marker.crc"), false)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(f.makeQualified(marker).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = f.create(tmp, true)
      try out.write(version.toString.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(f.makeQualified(tmp), f.makeQualified(marker),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }
}
