package graft.queries

import java.nio.file.{Files, Path, Paths}

/** Scratch-space management for queries that materialize intermediate or
  * landed parquet under /tmp.
  *
  * Two distinct lifetimes:
  *
  *  - [[Landed]]: output the DuckDB ORACLE reads back (`read_parquet`) —
  *    must survive JVM exit (the driver's DuckDB compare runs after
  *    Verify finishes), so it is never auto-deleted; instead each run
  *    lands under a per-(process, scale-dir) directory so concurrent
  *    verify/bench JVMs — or runs at different scale dirs — can't clobber
  *    each other's files, and stale run directories are swept on the next
  *    JVM's first landing.
  *  - [[Scratch]]: only per-run temp dirs (staged inputs, snapshot
  *    roots, checkpoints) — deleted recursively at JVM exit, so repeated
  *    bench/verify runs don't leak disk.
  * A fixture DERIVED from the inputs (a knn graph, a CSV copy of `orders`)
  * is neither: it goes through [[Artifacts]], keyed on the inputs' content.
  */
object Landed {

  /** One tag per JVM: concurrent processes land to disjoint directories. */
  private val runTag: String = java.lang.ProcessHandle.current().pid().toString

  private val recorded = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val sweepOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Scale dir of this run, set by Verify at startup: lets [[oraclePath]]
    * fall back to the path registry of the right scale when THIS JVM never
    * landed the query (a subset Verify re-dumps oracle SQL for every
    * query; without the fallback it would embed dead paths for the landed
    * queries outside the subset, failing their — still present, still
    * valid — parquet in the dump dir against a nonexistent fixture).
    */
  @volatile private var fallbackDir: Option[String] = None

  def setDir(dir: String): Unit = fallbackDir = Some(dir)

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9]+", "_")

  private def registryFile(name: String, dir: String) =
    Paths.get(s"/tmp/graft_landed/registry/${sanitize(dir)}__$name.path")

  /** Landing path for `name` at scale dir `dir` — unique per (JVM, dir,
    * query) — recorded in-memory (for this JVM's oracle dump) and in the
    * per-scale path registry (for later subset runs' dumps).
    */
  def land(name: String, dir: String): String = {
    sweepStale()
    val p = s"/tmp/graft_landed/p${runTag}_${sanitize(dir)}/$name.parquet"
    recorded.put(name, p)
    try {
      // write-tmp-then-ATOMIC_MOVE (the StreamingCdcLoad marker pattern):
      // a concurrent subset-Verify reading the registry must never see a
      // torn truncate-in-place path
      val f = registryFile(name, dir)
      Files.createDirectories(f.getParent)
      val tmp = f.resolveSibling(f.getFileName.toString + s".$runTag.tmp")
      Files.writeString(tmp, p)
      try Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // a /tmp filesystem without atomic move must not regress to "no
        // registry at all" (and must not strand the tmp file forever) —
        // fall back to a plain replace, accepting the torn-read window
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case _: Throwable => () } // registry is best-effort
    p
  }

  /** The path the query landed at in this JVM; else (subset Verify) the
    * last path landed for this scale dir by ANY process, read from the
    * registry. The final fallback points at nothing and is only embedded
    * in oracle SQL the harness won't execute (local_verify/the driver
    * compare only queries whose output parquet exists in the dump dir —
    * which, on a fresh dump dir, a never-run query's won't).
    */
  def oraclePath(name: String): String =
    Option(recorded.get(name))
      .orElse(fallbackDir.flatMap { dir =>
        try {
          val f = registryFile(name, dir)
          if (Files.isRegularFile(f)) {
            val p = Files.readString(f).trim
            // _SUCCESS gate: the registry entry is written when the landing
            // STARTS; only a completed parquet write is a usable fixture
            if (Files.exists(Paths.get(p, "_SUCCESS"))) Some(p) else None
          } else None
        } catch { case _: Throwable => None }
      })
      .getOrElse(s"/tmp/graft_landed/unrun/$name.parquet")

  /** Best-effort removal of landed dirs from DEAD runs older than 6 hours:
    * keeps the un-deletable-at-exit lifetime from accumulating across
    * rounds. A dir whose owning pid is still alive is never touched (a
    * >6h run's oracle would otherwise lose its fixtures mid-flight), and
    * the path registry is not a landed dir and is never swept.
    */
  private def sweepStale(): Unit =
    if (sweepOnce.compareAndSet(false, true)) {
      val root = Paths.get("/tmp/graft_landed")
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      try if (Files.isDirectory(root)) {
        val children = Files.list(root)
        try children.forEach { p =>
          try {
            val n = p.getFileName.toString
            if (n != "registry") {
              val ownerAlive = n.startsWith("p") &&
                n.drop(1).takeWhile(_.isDigit).toLongOption
                  .exists(pid => java.lang.ProcessHandle.of(pid).isPresent)
              // non-'p' children (legacy naming schemes, the 'unrun'
              // placeholder) carry no liveness info — age-only sweep, so
              // pre-existing stale dirs don't accumulate forever
              if (!ownerAlive && Files.getLastModifiedTime(p).toMillis < cutoff)
                Scratch.deleteRecursively(p)
            }
          } catch { case _: Throwable => () }
        } finally children.close()
      } catch { case _: Throwable => () }
    }
}

/** Intra-run temp dirs, recursively deleted at JVM exit (best effort). */
object Scratch {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private val hookOnce = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Like Files.createTempDirectory, but the directory (and everything the
    * query later writes under it) is removed when the JVM exits — repeated
    * bench invocations previously leaked a fresh medallion/staging/
    * checkpoint tree under /tmp per run. Deletion happens at exit, not
    * eagerly, because the returned DataFrames read these files lazily
    * until the harness forces the action.
    */
  def tempDir(prefix: String): String = {
    if (hookOnce.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        registered.forEach(p => try deleteRecursively(p) catch { case _: Throwable => () })
      }, "graft-scratch-cleanup"))
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively) finally children.close()
    }
    Files.deleteIfExists(p)
  }
}
