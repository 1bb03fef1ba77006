package graft

import graft.operators.{AsOfJoin, SkewJoin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** Differential property tests: each rewritten operator must be
  * row-identical to its naive formulation on arbitrary data.
  */
object OpsProps extends Properties("Operators") {

  private lazy val spark: SparkSession = SparkSpec.session

  private val rowGen = for {
    key <- Gen.chooseNum(0L, 4L)
    ts <- Gen.chooseNum(0L, 50L)
    v <- Gen.chooseNum(-100L, 100L)
  } yield (key, ts, v)

  private val tableGen = Gen.listOfN(40, rowGen).map(_.distinct)

  // as-of (sort-based union trick) == naive range-join + row_number pick
  property("asOf == naive range join") = Prop.forAllNoShrink(tableGen, tableGen) { (l, r) =>
    import spark.implicits._
    val left = l.toDF("k", "ts", "lv")
    // dedup right to one row per (k, ts) the same way asOf documents (max payload)
    val right = r.toDF("k", "ts", "rv")
      .groupBy("k", "ts").agg(max("rv").as("rv"))
    val got = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts", Seq("rv"))
      .select("k", "ts", "lv", "asof_rv")
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") && col("r.ts") <= col("l.ts"), "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l.k"), col("l.ts"), col("l.lv"))
          .orderBy(col("r.ts").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("l.k").as("k"), col("l.ts").as("ts"), col("l.lv").as("lv"),
        col("r.rv").as("asof_rv"))
    got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty
  }

  // salted join == plain join, any factor
  property("saltedEquiJoin == plain join") = {
    val factorGen = Gen.chooseNum(1, 7)
    Prop.forAllNoShrink(tableGen, tableGen, factorGen) { (p, b, f) =>
      import spark.implicits._
      val probe = p.toDF("k", "ts", "v")
      val build = b.toDF("k", "ts2", "w").dropDuplicates("k")
      // collected compare: exceptAll over this join shape trips an
      // optimizer INTERNAL_ERROR (attribute rebind under the except
      // rewrite), unrelated to the operator under test
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq.sorted
      val salted = SkewJoin.saltedEquiJoin(probe, build, Seq("k"), f)
        .select("k", "ts", "v", "ts2", "w")
      val plain = probe.join(build, Seq("k")).select("k", "ts", "v", "ts2", "w")
      rows(salted) == rows(plain)
    }
  }

  // bounded top-k aggregator == window row_number, including NaN scores
  property("TopKAgg == window top-k") = {
    val scoredGen = Gen.listOfN(60, for {
      g <- Gen.oneOf("a", "b", "c")
      score <- Gen.frequency(
        9 -> Gen.chooseNum(-50, 50).map(_.toDouble / 7.0),
        1 -> Gen.const(Double.NaN))
      id <- Gen.chooseNum(0L, 1000L)
    } yield (g, score, id)).map(_.distinctBy(t => (t._1, t._3)))
    Prop.forAllNoShrink(scoredGen) { rows =>
      import spark.implicits._
      val df = rows.toDF("g", "score", "id").repartition(5)
      val k = 4
      val topk = graft.functions.TopKAgg.topK(k)
      val got = df.groupBy("g").agg(topk(col("score"), col("id")).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("g"), col("t.id").as("id"), (col("pos") + 1).as("rank"))
      // plain engine DESC (NaN ranks above +Inf in Spark's total order) —
      // TopKAgg now matches it verbatim, so the oracle needs no remap
      val oracle = df
        .withColumn("rank", row_number().over(
          Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)))
        .filter(col("rank") <= k)
        .select(col("g"), col("id"), col("rank").cast("long"))
      got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty
    }
  }

  // SCD2 invariants on arbitrary snapshot histories: per key, runs tile the
  // observed timeline (first valid_from = first snapshot, each valid_to =
  // next valid_from, one open run), the attribute is constant inside a run
  // and differs across adjacent runs, and the reconstruction at every
  // snapshot time equals the raw snapshot value.
  private val snapGen = for {
    n <- Gen.chooseNum(1, 30)
    rows <- Gen.listOfN(n, for {
      k <- Gen.chooseNum(0L, 3L)
      t <- Gen.chooseNum(0L, 15L)
      a <- Gen.oneOf("x", "y", "z")
    } yield (k, t, a))
  } yield rows.groupBy(r => (r._1, r._2)).map(_._2.head).toList // unique (k,t)

  property("scd2 runs tile the snapshot history") = Prop.forAllNoShrink(snapGen) { rows =>
    import spark.implicits._
    val df = rows.toDF("k", "t", "a")
    val scd = graft.operators.Scd2.buildScd2(df, Seq("k"), "t", Seq("a"))
      .select("k", "a", "valid_from", "valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
      .groupBy(_._1)

    rows.groupBy(_._1).forall { case (k, snaps) =>
      val hist = snaps.map(s => (s._2, s._3)).sortBy(_._1)
      val runs = scd(k).sortBy(_._3)
      val tiles = runs.head._3 == hist.head._1 &&
        runs.last._4 == Long.MaxValue &&
        runs.sliding(2).forall {
          case Array((_, _, _, hi), (_, _, lo, _)) => hi == lo
          case _ => true
        }
      val adjacentDiffer = runs.sliding(2).forall {
        case Array((_, a1, _, _), (_, a2, _, _)) => a1 != a2
        case _ => true
      }
      val reconstructs = hist.forall { case (t, a) =>
        runs.find(r => r._3 <= t && t < r._4).exists(_._2 == a)
      }
      tiles && adjacentDiffer && reconstructs
    }
  }

  // composite-key two-phase scan == serial exclusive scan, any partition count
  property("prefixSumBy == serial scan") = {
    val pRowGen = for {
      k <- Gen.chooseNum(0L, 5L) // duplicate-heavy primary key
      id <- Gen.chooseNum(0L, 1000L)
      v <- Gen.chooseNum(0L, 50L)
    } yield (k, id, v)
    val pTableGen = Gen.listOfN(30, pRowGen)
      .map(_.groupBy(_._2).map(_._2.head).toList) // unique tiebreaker ids
    val nPartGen = Gen.chooseNum(1, 6)
    Prop.forAllNoShrink(pTableGen, nPartGen) { (rows, nPart) =>
      rows.isEmpty || {
        import spark.implicits._
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, nPart.toLong)
        val got =
          try graft.operators.Packing.prefixSumBy(
              rows.toDF("k", "id", "v"), Seq("k", "id"), "v", "off")
            .select("id", "off").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          finally spark.conf.set(key, prev)
        val sorted = rows.sortBy(r => (r._1, r._2))
        val offsets = sorted.map(_._3).scanLeft(0L)(_ + _).dropRight(1)
        got == sorted.map(_._2).zip(offsets).toMap
      }
    }
  }

  // boilerplate filter == naive in-memory reference on random corpora
  property("boilerplateChunkFilter == naive reference") = {
    val docGen = Gen.listOfN(9, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    val corpusGen = Gen.listOfN(8, docGen)
    Prop.forAllNoShrink(corpusGen) { docs =>
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = graft.operators.Curation.boilerplateChunkFilter(df, chunkTokens = 3, minDocs = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
      // naive: stride-3 chunks, chunk boiler iff its text occurs in >= 2 docs
      val chunked = docs.zipWithIndex.map { case (t, i) =>
        val toks = t.split("\\s+").toSeq
        i.toLong -> (0 until toks.length by 3).map(s => toks.slice(s, s + 3).mkString(" "))
      }
      val docsPerChunk = chunked.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
      chunked.forall { case (id, cs) =>
        val boiler = cs.count(c => docsPerChunk(c) >= 2)
        val kept = cs.filter(c => docsPerChunk(c) < 2).mkString(" ")
        got(id) == ((cs.length.toLong, boiler.toLong, TestUtil.md5Of(kept)))
      }
    }
  }

  // source cap == exact arithmetic replay, including negative ids
  property("capSourceShare == exact replay") = {
    val rowGen = for {
      id <- Gen.chooseNum(-1000L, 1000L)
      src <- Gen.oneOf("s1", "s2", "s3")
    } yield (id, src)
    val corpusGen = Gen.listOfN(60, rowGen).map(_.groupBy(_._1).map(_._2.head).toList)
    val shareGen = Gen.chooseNum(10, 90).map(_ / 100.0)
    Prop.forAllNoShrink(corpusGen, shareGen) { (rows, share) =>
      rows.isEmpty || {
        import spark.implicits._
        val got = graft.operators.Curation.capSourceShare(
            rows.toDF("doc_id", "source"), "source", "doc_id", share)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val bySrc = rows.groupBy(_._2).view.mapValues(_.size).toMap
        val total = rows.size
        val expect = rows.filter { case (id, src) =>
          val rate = math.min(1.0, share * total / bySrc(src))
          Math.floorMod((id % 100003L) * 53L + 11L, 10000L) / 10000.0 < rate
        }.map(_._1).toSet
        got == expect
      }
    }
  }

  // shuffleShards: permutation + balance + pure-function split on any id
  // set — including ids at the Long edge (the scramble's reduce-before-add
  // overflow regime) and negative seeds — and the README's growth-stability
  // claim: every id of a random sub-corpus keeps its split label when the
  // rest of the corpus arrives (what a rank-percentile split would break)
  property("shuffleShards invariants + split stable under corpus growth") = {
    val idGen = Gen.frequency(
      9 -> Gen.chooseNum(0L, 10000L),
      1 -> Gen.chooseNum(Long.MaxValue - 1000L, Long.MaxValue))
    val idsGen = Gen.listOfN(40, idGen).map(_.distinct)
    val shardsGen = Gen.chooseNum(1, 9)
    val seedGen = Gen.chooseNum(-50L, 50L)
    Prop.forAllNoShrink(idsGen, shardsGen, seedGen) { (ids, nShards, seed) =>
      ids.isEmpty || {
        import spark.implicits._
        val rows = graft.operators.Sharding.shuffleShards(
            ids.toDF("doc_id"), "doc_id", nShards, seed = seed)
          .select("doc_id", "rank", "shard_id", "shard_pos", "split")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getString(4)))
        val n = ids.length
        val perm = rows.map(_._2).sorted.sameElements(0L until n.toLong)
        val sizes = rows.groupBy(_._3).map(_._2.length)
        val balanced = sizes.max - sizes.min <= 1
        val consistent = rows.forall { case (_, rank, sh, pos, _) =>
          sh == (rank % nShards).toInt && pos == rank / nShards
        }
        // a deterministic pseudo-random sub-corpus (scramble-independent
        // pick so it doesn't correlate with the split hash)
        val subIds = ids.filter(id => Math.floorMod(id * 31L + 7L, 3L) != 0L)
        val stable = subIds.isEmpty || {
          val subSplit = graft.operators.Sharding.shuffleShards(
              subIds.toDF("doc_id"), "doc_id", nShards, seed = seed)
            .select("doc_id", "split").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
          val fullSplit = rows.map(r => r._1 -> r._5).toMap
          subSplit.forall { case (id, s) => fullSplit(id) == s }
        }
        perm && balanced && consistent && stable
      }
    }
  }

  // the connectedComponents replay gate is load-bearing for the 100 TB
  // claim: a graph the gate refuses must never reach the driver
  // union-find (watched via DriverReplay.runs — the two paths are
  // output-identical by design, so equality alone can't pin the routing;
  // DriverReplaySpec pins the bound itself), while an admitted graph takes
  // the driver path; both must agree with the naive transitive closure on
  // cluster membership.
  property("connectedComponents routes by the probe bound; paths agree") = {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 12L)
      b <- Gen.chooseNum(0L, 12L)
    } yield (math.min(a, b), math.max(a, b))
    val graphGen = Gen.chooseNum(1, 30).flatMap(n => Gen.listOfN(n, edgeGen))
    Prop.forAllNoShrink(graphGen, Gen.oneOf(true, false)) { (edges, replay) =>
      import spark.implicits._
      val df = edges.toDF("src", "dst")
      val runs = graft.operators.DriverReplay.runs
      val before = runs.get()
      def closure = graft.operators.Components
        .connectedComponents(df, "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got =
        if (replay) closure
        else graft.operators.DriverReplay.distributedOnly(spark)(closure)
      val routedCorrectly =
        if (replay) runs.get() == before + 1
        else runs.get() == before // never collected on the driver
      // reference closure: iterate min-label to fixpoint on the edge list
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var label = adj.keys.map(k => k -> k).toMap
      var changed = true
      while (changed) {
        changed = false
        adj.foreach { case (k, ns) =>
          val m = math.min(label(k), ns.map(label).min)
          if (m < label(k)) { label += k -> m; changed = true }
        }
      }
      routedCorrectly && got == label
    }
  }

  // Bfs and Sssp give the same rows on the driver replay and on the
  // distributed rounds, on graphs with duplicate edges, self-loops and null
  // weights, from a source that may be absent from the graph; bounds below
  // the graph's diameter truncate both routes alike
  property("Bfs/Sssp driver replay == distributed rounds") = {
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 7L)
      b <- Gen.chooseNum(0L, 7L)
      w <- Gen.frequency(
        9 -> Gen.chooseNum(0, 30).map(i => Option(i / 10.0)),
        1 -> Gen.const(Option.empty[Double]))
    } yield (a, b, w)
    val graphGen = Gen.chooseNum(0, 14)
      .flatMap(n => Gen.listOfN(n, edgeGen))
      .flatMap(es => Gen.someOf(es).map(dups => es ++ dups)) // duplicate edges
    Prop.forAllNoShrink(graphGen, Gen.chooseNum(0L, 9L)) { (edges, source) =>
      import spark.implicits._
      val df = edges.toDF("src", "dst", "w")
      def bfs = graft.operators.Bfs.run(df, "src", "dst", source, maxHops = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      def sssp = graft.operators.Sssp.run(df, "src", "dst", "w", source, rounds = 4)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(1)))))
        .toSeq.sortBy(_._1)
      val runs = graft.operators.DriverReplay.runs
      val before = runs.get()
      val replayed = (bfs, sssp)
      val replayRan = runs.get() == before + 2
      val distributed = graft.operators.DriverReplay.distributedOnly(spark)((bfs, sssp))
      replayRan && runs.get() == before + 2 && replayed == distributed
    }
  }

  // fixed-point 128-bit sum == serial BigInteger reference, any partitioning
  property("Exact.sumFx == serial fixed-point reference") = {
    val valGen = Gen.oneOf(
      Gen.chooseNum(-1.0e4, 1.0e4),
      Gen.chooseNum(-1.0, 1.0),
      Gen.oneOf(0.005, -0.005, 0.0, -0.0, 1.0e12))
    Prop.forAllNoShrink(
      Gen.listOfN(60, valGen), Gen.chooseNum(1, 7), Gen.oneOf(0, 2, 6)) {
      (xs, parts, scale) =>
        import spark.implicits._
        val pow = math.pow(10.0, scale)
        val expect = xs
          .map { x =>
            val y = x * pow
            val r = if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)
            new java.math.BigDecimal(r).toBigInteger
          }
          .foldLeft(java.math.BigInteger.ZERO)(_.add(_))
          .doubleValue() / pow
        val got = xs.toDF("x").repartition(parts)
          .agg(graft.functions.Exact.sumFx(col("x"), scale))
          .head().getDouble(0)
        java.lang.Double.compare(got, expect) == 0
    }
  }
}
