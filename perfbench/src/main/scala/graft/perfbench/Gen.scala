package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything here runs on one thread with one
  * `SplittableRandom` per table, so the same seed always yields the same
  * rows in the same order, independent of core count or partitioning.
  */
object Gen {

  /** Registry tables (region … embeddings) in the shape and value ranges of
    * the harness parquet tables. `scale` = 1.0 is 60,000 lineitem rows.
    */
  def writeTables(spark: SparkSession, dir: Path, seed: Long, scale: Double): Unit = {
    def n(base: Int) = math.max(1, (base * scale).round.toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrders = n(15000); val nLine = n(60000); val nEvents = n(10000)
    val nDocs = n(500); val nVecs = n(500)
    def rng(table: Int) = new SplittableRandom(seed * 1000003L + table)
    def money(r: SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    val day = 86400L * 1000000L
    val ts1995 = 788918400L * 1000000L // 1995-01-01 in µs
    def tsOf(micros: Long) = java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plusNanos(micros * 1000))

    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(dir.resolve(s"$name.parquet").toString)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType.fromDDL("r_regionkey int, r_name string"),
      regions.zipWithIndex.map { case (r, i) => Row(i, r) })
    write("nation", StructType.fromDDL("n_nationkey int, n_name string, n_regionkey int"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
    val rc = rng(1)
    write("customer", StructType.fromDDL(
      "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segments(rc.nextInt(segments.length)))))
    val rs = rng(2)
    write("supplier", StructType.fromDDL(
      "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val adjectives = Array("small", "red", "blue", "hot", "old", "large", "new", "cold")
    val nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "valve")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val rp = rng(3)
    val retail = Array.tabulate(nPart)(i => 900.0 + (i % 1000) / 10.0)
    write("part", StructType.fromDDL(
      "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double"),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(rp.nextInt(adjectives.length))} ${nouns(rp.nextInt(nouns.length))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.length)),
        1 + rp.nextInt(50), retail(i))))

    val status = Array("F", "O", "P")
    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(4)
    write("orders", StructType.fromDDL(
      "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, " +
        "o_orderdate timestamp, o_orderpriority string"),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        status(ro.nextInt(3)), money(ro, 1000, 500000),
        tsOf(ts1995 + ro.nextInt(2404) * day), prio(ro.nextInt(5)))))

    val rl = rng(5)
    val lineNo = new Array[Int](nOrders)
    write("lineitem", StructType.fromDDL(
      "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, " +
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, " +
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"),
      (0 until nLine).map { _ =>
        val o = rl.nextInt(nOrders)
        lineNo(o) += 1
        val p = rl.nextInt(nPart)
        val q = (1 + rl.nextInt(50)).toDouble
        Row(o.toLong, p.toLong, rl.nextInt(nSupp).toLong, lineNo(o), q,
          math.round(q * retail(p) * 100) / 100.0, rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
          Seq("F", "O")(rl.nextInt(2)), tsOf(ts1995 + 1 + rl.nextInt(2498) * day))
      })

    val eventTypes = Array("click", "signup", "error", "view", "purchase")
    val re = rng(6)
    val ts2024 = 1704067200L * 1000000L
    val span = 30 * day
    write("events", StructType.fromDDL(
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"),
      (0 until nEvents).map { i =>
        // sorted timestamps, so event ids increase with time as in the harness tables
        val t = ts2024 + (span / nEvents) * i + re.nextLong(span / nEvents)
        Row(i.toLong, tsOf(t), re.nextInt(150).toLong, eventTypes(re.nextInt(5)),
          money(re, 0.01, 490.0), s"""{"k": ${re.nextInt(100)}}""")
      })

    val vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "merge", "batch", "spark", "the", "line", "sort", "window",
      "order", "data", "column", "join", "small", "big", "customer", "query",
      "group", "filter", "stream", "vector", "a")
    val langs = Array("en", "en", "en", "fr", "zh", "de", "es")
    val rd = rng(7)
    write("documents", StructType.fromDDL(
      "doc_id bigint, text string, lang string, source string, n_chars bigint"),
      {
        val texts = mutable.ArrayBuffer.empty[Array[String]]
        (0 until nDocs).map { i =>
          val words =
            if (i > 0 && rd.nextInt(100) < 15) {
              // near-duplicate of an earlier document: a few words replaced
              val w = texts(rd.nextInt(i)).clone()
              (0 until 1 + rd.nextInt(3)).foreach(_ => w(rd.nextInt(w.length)) = vocab(rd.nextInt(vocab.length)))
              w
            } else Array.fill(8 + rd.nextInt(80)) {
              // mostly common words, some rare ones (document-frequency filters)
              if (rd.nextInt(5) == 0) f"tok${rd.nextInt(1500)}%04d" else vocab(rd.nextInt(vocab.length))
            }
          texts += words
          val text = words.mkString(" ")
          Row(i.toLong, text, langs(rd.nextInt(langs.length)), s"src${i % 20}",
            text.length.toLong)
        }
      })

    val dim = 64
    val rv = rng(8)
    val centers = Array.fill(10)(Array.fill(dim)(rv.nextDouble() * 2 - 1))
    write("embeddings", StructType.fromDDL(
      "vec_id bigint, embedding array<float>, label int"),
      {
        val vecs = mutable.ArrayBuffer.empty[(Array[Double], Int)]
        (0 until nVecs).map { i =>
          val (v, label) =
            if (i > 0 && rv.nextInt(100) < 10) {
              // near-duplicate of an earlier vector
              val (u, l) = vecs(rv.nextInt(i))
              (u.map(x => x + (rv.nextDouble() * 2 - 1) * 0.01), l)
            } else {
              val l = rv.nextInt(10)
              (centers(l).map(c => c + (rv.nextDouble() * 2 - 1) * 1.5), l)
            }
          vecs += (v -> label)
          val norm = math.sqrt(v.map(x => x * x).sum)
          Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
        }
      })
  }

  // ---------------------------------------------------------------- Monzo

  /** One delivered transaction, as the generator knows it. */
  final case class Tx(id: String, createdMicros: Long, amount: Long,
      merchant: Option[Int], counterparty: Option[Int])

  /** One scheduled pipeline run: its pages (each a list of transactions,
    * duplicates included) and the clock stamped on each page.
    */
  final case class RunPages(run: Int, pages: Seq[Seq[Tx]], pageClocks: Seq[Long])

  /** What a correct medallion must hold after a sequence of runs. */
  final case class Truth(
      firstClock: Map[String, Long],          // id → clock of first delivery
      merchantAttrs: Map[String, String],     // merchant id → winning name
      monthlySpend: Map[(Int, Int), Long])    // (year, month) → Σ spend, minor units

  val PageSize = 200
  val WindowDays = 30
  private val DayMicros = 86400L * 1000000L
  /** Day 0 of the simulated account history: 2025-01-01. */
  private val Epoch = 1735689600L * 1000000L

  /** Identical re-sends appended to every page. An assumption: the reference
    * records none. Two per page make within-page dedup do work on every batch.
    */
  val DupsPerPage = 2

  /** A seeded account history of exactly `txPerDay` transactions a day. Run
    * `r` fetches the trailing 30-day window ending on day `WindowDays + r`, so
    * consecutive runs mostly re-deliver. The seed picks times, amounts,
    * merchants and which rows are re-sent; every count and share is fixed, so
    * the amount of work is the same for every seed.
    */
  final class Monzo(seed: Long, val runs: Int, txPerDay: Int) {
    private val r = new SplittableRandom(seed)
    private val days = WindowDays + runs
    val txs: IndexedSeq[Tx] = (0 until days).flatMap { d =>
      (0 until txPerDay).map { k =>
        val i = d * txPerDay + k
        val created = Epoch + d * DayMicros + r.nextLong(DayMicros)
        // assumed shares, none recorded by the reference: 4 in 5 rows are
        // spend (gold sums them), 1 in 8 has no merchant and 1 in 5 no
        // counterparty (the null paths of flatten and normalize)
        val amount = (if (i % 5 != 0) -1 else 1) * (50L + r.nextInt(20000))
        val merchant = if (i % 8 == 0) None else Some(r.nextInt(40))
        val cp = if (i % 5 == 2) None else Some(r.nextInt(25))
        Tx(f"tx_$seed%d_$d%03d_$k%03d", created, amount, merchant, cp)
      }
    }.sortBy(t => (t.createdMicros, t.id))

    /** Merchant attribute drift: the name a merchant carries in run `run`.
      * An assumption: every third merchant is renamed in each run, so that
      * first-writer-wins decides the stored name.
      */
    def merchantName(m: Int, run: Int): String =
      if ((m + run) % 3 == 0) s"Merchant $m v$run" else s"Merchant $m"

    private val dupRng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val schedule: IndexedSeq[RunPages] = (0 until runs).map { run =>
      val hi = Epoch + (WindowDays + run) * DayMicros
      val lo = hi - WindowDays * DayMicros
      val window = txs.filter(t => t.createdMicros >= lo && t.createdMicros < hi)
      val pages = window.grouped(PageSize).toSeq.map { page =>
        page ++ (0 until DupsPerPage).map(_ => page(dupRng.nextInt(page.size)))
      }
      val runClock = Epoch + (WindowDays + run) * DayMicros + 6 * 3600L * 1000000L
      RunPages(run, pages, pages.indices.map(p => runClock + p * 1000000L))
    }

    /** Ground truth after runs 0..lastRun, replaying first-writer semantics:
      * the first delivery of an id stamps it; a merchant's attributes come
      * from its earliest (date_retrieved, created, id) bronze row.
      */
    def truth(lastRun: Int): Truth = {
      val first = mutable.LinkedHashMap.empty[String, (Long, Int, Tx)]
      schedule.take(lastRun + 1).foreach { rp =>
        rp.pages.zip(rp.pageClocks).foreach { case (page, clock) =>
          page.foreach(t => if (!first.contains(t.id)) first(t.id) = (clock, rp.run, t))
        }
      }
      val merchants = first.values.toSeq.collect { case (clk, run, t) if t.merchant.isDefined =>
        (t.merchant.get, (clk, t.createdMicros, t.id), merchantName(t.merchant.get, run))
      }.groupBy(_._1).map { case (m, rows) => s"m_$m" -> rows.minBy(_._2)._3 }
      val spend = first.values.toSeq.collect { case (_, _, t) if t.amount < 0 =>
        val d = java.time.Instant.EPOCH.plusNanos(t.createdMicros * 1000)
          .atZone(java.time.ZoneOffset.UTC)
        (d.getYear, d.getMonthValue) -> -t.amount
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      Truth(first.map { case (id, (c, _, _)) => id -> c }.toMap, merchants, spend)
    }

    private def iso(micros: Long) =
      java.time.Instant.EPOCH.plusNanos(micros * 1000).toString

    private def esc(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

    /** One transaction in the nested `/transactions?expand[]=merchant` shape. */
    def json(t: Tx, run: Int): String = {
      val cp = t.counterparty.map(c =>
        s"""{"name":${esc(s"Payee $c")},"account_number":${10000000 + c},"sort_code":${100000 + c}}""")
        .getOrElse("null")
      val m = t.merchant.map { id =>
        s"""{"id":"m_$id","name":${esc(merchantName(id, run))},"category":"cat${id % 6}",""" +
          s""""logo":"https://logo/$id","emoji":"e","online":${id % 2 == 0},"atm":${id % 9 == 0},""" +
          s""""address":{"address":"$id High St","city":"City ${id % 5}","postcode":"PC$id",""" +
          s""""country":"GBR","latitude":${51.0 + id / 100.0},"longitude":${-0.1 - id / 100.0}},""" +
          s""""google_places_id":"g$id","suggested_tags":["t${id % 3}","t${id % 4}"],""" +
          s""""foursquare_id":"f$id","website":"https://m$id.example"}"""
      }.getOrElse("null")
      val settled = if (t.amount % 3 == 0) "null" else esc(iso(t.createdMicros + DayMicros))
      s"""{"id":"${t.id}","description":"tx ${t.id}","amount":${t.amount},"currency":"GBP",""" +
        s""""created":${esc(iso(t.createdMicros))},"category":"cat${math.abs(t.amount) % 7}",""" +
        s""""notes":"","is_load":${t.amount > 0 && t.amount % 5 == 0},"settled":$settled,""" +
        s""""local_amount":${t.amount},"local_currency":"GBP","counterparty":$cp,"merchant":$m}"""
    }

    /** Writes run `rp`'s pages (one `{"transactions": [...]}` document per
      * file) plus its balance and pots snapshots under `dir`.
      */
    def writeRun(rp: RunPages, dir: Path): Unit = {
      Files.createDirectories(dir.resolve("pages"))
      rp.pages.zipWithIndex.foreach { case (page, i) =>
        Files.write(dir.resolve(f"pages/page-$i%03d.json"),
          page.map(json(_, rp.run)).mkString("{\"transactions\":[", ",", "]}\n")
            .getBytes(StandardCharsets.UTF_8))
      }
      val bal = 100000L + rp.run * 37L
      Files.write(dir.resolve("balance.json"),
        s"""{"balance":$bal,"total_balance":${bal + 5000},"currency":"GBP","spend_today":-${rp.run * 11}}\n"""
          .getBytes(StandardCharsets.UTF_8))
      val now = esc(iso(Epoch + (WindowDays + rp.run) * DayMicros))
      val pots = (0 until 3).map { p =>
        s"""{"id":"pot_$p","style":"s$p","balance":${1000 * p + rp.run},"currency":"GBP",""" +
          s""""type":"default","product_id":"prod","current_account_id":"acc",""" +
          s""""cover_image_url":"https://pot/$p","round_up":${p == 0},"round_up_multiplier":1,""" +
          s""""created":"2024-06-01T00:00:00Z","updated":$now,"deleted":false}"""
      }
      Files.write(dir.resolve("pots.json"),
        pots.mkString("{\"pots\":[", ",", "]}\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
