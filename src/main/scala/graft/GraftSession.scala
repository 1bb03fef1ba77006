package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory for the engine's entry points (Verify, Bench,
  * ProbeQueryJobs, and the perfbench harness) — one place that owns the
  * shuffle-sizing policy so every main gets the same, zero-hand-tuning
  * behavior. The core count (`SPARK_GRAFT_CPUS`) is the one deployment
  * setting; every other conf below is a constant.
  *
  * Shuffle sizing is RUNTIME-DERIVED, not a fixed knob: the ×100
  * self-scale probe measured a 3.7–7× spill tail on the five fact-join
  * queries at `shuffle.partitions = cores` (PLANS.md, round 9) that
  * vanished at 256 partitions — but 256 is exactly the kind of
  * per-deployment hand knob a 100 TB engine must not require. Instead:
  *
  *  - `adaptive.coalescePartitions.initialPartitionNum = 512`: every
  *    shuffle STARTS wide enough that a ×100 fact join's reduce side fits
  *    in executor memory without spill (512 × ~64 MB advisory ≈ 32 GB of
  *    shuffle data per stage before any spill pressure).
  *  - AQE partition coalescing with `parallelismFirst = false` and the
  *    stock 64 MB advisory target then sizes every stage from its
  *    OBSERVED shuffle bytes: small stages collapse to a handful of
  *    tasks, big stages keep their width — the size-derived behavior the
  *    deployment knob was approximating by hand. `parallelismFirst` must
  *    be OFF: its default targets totalBytes/defaultParallelism per
  *    partition, which re-coalesces every big stage back to the core
  *    count and reintroduces the exact spill the width was bought to
  *    avoid (measured on the ×100 fact joins: coalesced 512 → 32 with it
  *    on, 1.1–2× over the round-9 spill numbers; with it off, 1.4–8×
  *    UNDER them). The advisory stays at Spark's default — a smaller
  *    value (4 MB probe) fragmented multi-stage write pipelines (q44:
  *    159 s vs 52 s) for no reliable join win.
  *  - AQE skew-join splitting stays on (default) as the runtime
  *    complement to the explicit salting operator ([[operators.SkewJoin]],
  *    q34): oversized partitions of a sort-merge join are split at
  *    runtime even when the writer didn't anticipate the skew.
  *
  * `spark.sql.shuffle.partitions` stays at the core count as the
  * AQE-disabled fallback floor (tests pin their own tiny value).
  *
  * [[SharedConfs]] are the confs every session of the engine carries,
  * the test suites' included: the fork-free `file:` filesystem
  * ([[NioLocalFileSystem]], [[NioLocalFs]]) and one codegen cache for
  * every cloned session.
  */
object GraftSession {

  /** Pre-coalesce width of every shuffle; AQE shrinks small stages back
    * down, so this bounds spill without taxing small queries.
    */
  val InitialShufflePartitions = 512

  /** Confs every session in a JVM shares. Hadoop caches one `file:`
    * `FileSystem` per JVM whatever the conf, so the first session built
    * decides the class for all of them.
    *
    *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: local files go
    *    through [[NioLocalFileSystem]] and [[NioLocalFs]], which set modes
    *    and read link status with java.nio instead of a `chmod` or
    *    `readlink` process per call.
    *  - `artifact.isolation.enabled = false`: Spark keys its codegen
    *    cache on (context classloader, code), and an isolated session gets
    *    a classloader of its own. With isolation on, every `newSession()`
    *    clone (the stream drains') recompiles byte-identical classes and
    *    evicts other queries' classes from the 100-entry cache. The engine
    *    adds no session artifacts, so isolation buys nothing.
    */
  val SharedConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config(SharedConfs)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        InitialShufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Cached/persisted plans keep their FINAL stage at the pre-coalesce
      // shuffle width by default (the conservative default preserves cached
      // output partitioning for downstream reuse): with the 512-wide
      // initialPartitionNum above, every `.persist()` in the iterative
      // operators (Scc's edge set, connectedComponents' pair probe, the
      // propagate loop's mid frame) materialized 512 near-empty partitions
      // and every downstream job relaunched 512+ tasks. Measured on q144
      // (25-node SCC): three 513/1025-task jobs of 0.8-1.6 s each — pure
      // scheduling tax at sf0.1, and millions of tiny shuffle blocks at
      // 100 TB (guide §2.2). With the flag on, AQE sizes cached output from
      // OBSERVED bytes like any other stage.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // preferSortMergeJoin stays at its DEFAULT (true): the guide-§3.1
      // shuffled-hash experiment was run (round 12, 9-query TPC-H join
      // subset, best-of-2 at sf0.1) and measured 8.91 s vs 8.66 s — no
      // win (these joins are broadcast- or scheduling-bound, not
      // sort-bound), so the flip isn't worth SHJ's no-spill build-side
      // risk.
      .config("spark.sql.join.preferSortMergeJoin", "true")
      // ObjectHashAggregate (every TypedImperativeAggregate: TopKAgg, HLL,
      // DDSketch, CountMin) falls back to SORT-based aggregation after
      // only 128 distinct keys per task by default — the bounded-heap
      // top-k then pays a full sort plus buffer (de)serialization per
      // spill row, erasing exactly the O(k)-per-group advantage it was
      // built for (measured: q250's per-item top-3 at ×10/local[32] ran
      // 157 s under the fallback). Our object buffers are small and
      // FIXED-size (k ≤ 64 heap entries, sketch registers), so the hash
      // map's per-key cost is bounded: 1M keys ≈ 250 MB per task, which
      // the probe heap sizes absorb and sf-scale data never reaches per
      // AQE-bounded partitions.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
