package graft.sources.v2

import java.time.LocalDate
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 reader for the reference's transactions API (SURVEY §2a
  * S1/S4/S5): the scale-path form of `MonzoAPIClient.get_transactions`
  * (/root/reference/src/utils/api/api_client.py:157-201). The reference
  * fetches one 200-row page on the driver; this source plans one input
  * partition per day-slice of the requested window, so 1000 executors can
  * each fetch their own slice concurrently, and `since`/`before` filter
  * pushdown narrows the window at the source exactly like the reference's
  * query parameters (api_client.py:176-187) — Catalyst pushes
  * `created >= X` / `created < Y` predicates into the scan instead of
  * filtering after the fetch.
  *
  * FETCH IS STUBBED: no network in this environment, so partitions
  * synthesize deterministic rows; the DSv2 plumbing — schema, partition
  * planning, pushdown, reader lifecycle — is real. Swap
  * [[SyntheticFetcher]] for an HTTP client to go live.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.v2.MonzoApiSource")
  *     .option("since", "2024-01-01").option("until", "2024-01-31")
  *     .option("rowsPerDay", "200").load()
  * }}}
  */
class MonzoApiSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MonzoApiSource.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ApiTable(new CaseInsensitiveStringMap(properties))
}

/** The per-day fetch unit a partition reader drives — [[MonzoApiSource
  * .SyntheticFetcher]] offline, [[AuthedFetcher]] when the endpoint
  * requires a bearer token. Serializable: it ships inside [[DaySlice]].
  */
trait DayFetcher extends Serializable {
  def fetchDay(epochDay: Long, rowsPerDay: Int): Iterator[InternalRow]
}

object MonzoApiSource {
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("created", TimestampType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("merchant_id", StringType, nullable = true)))

  private val MicrosPerDay = 86400L * 1000000L

  /** Deterministic stand-in for the HTTP page fetch: `rowsPerDay`
    * transactions per day, attributes derived from splitmix64 streams.
    */
  object SyntheticFetcher extends DayFetcher {
    import graft.functions.Sketches.splitmix64
    private val cats = Array("groceries", "transport", "eating_out", "bills", "general")

    def fetchDay(epochDay: Long, rowsPerDay: Int): Iterator[InternalRow] =
      (0 until rowsPerDay).iterator.map { i =>
        val seed = splitmix64(epochDay * 100003L + i)
        val micros = epochDay * MicrosPerDay + math.floorMod(seed, MicrosPerDay)
        val amount = -math.floorMod(seed >>> 17, 10000L) // pence spend
        val cat = cats(math.floorMod(seed >>> 31, cats.length.toLong).toInt)
        val merchant =
          if (math.floorMod(seed >>> 7, 5L) == 0L) null
          else UTF8String.fromString(f"merch_${math.floorMod(seed >>> 11, 500L)}%04d")
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(f"tx_${epochDay}%05d_$i%05d"),
          micros, amount, UTF8String.fromString("GBP"),
          UTF8String.fromString(cat), merchant))
      }
  }
}

private class ApiTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "monzo_api_transactions"
  override def schema(): StructType = MonzoApiSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(o)
    new ApiScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private class ApiScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit {

  private var since: LocalDate =
    LocalDate.parse(options.getOrDefault("since", "2024-01-01"))
  private var until: LocalDate =
    LocalDate.parse(options.getOrDefault("until", "2024-01-31"))
  private val rowsPerDay = options.getOrDefault("rowsPerDay", "200").toInt
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = Int.MaxValue

  /** The reference's `limit=200` page-size parameter
    * (/root/reference/src/utils/api/api_client.py:158): a query-level
    * LIMIT reaches the source as a per-fetch cap instead of running as a
    * post-scan operator over fully-fetched pages. PARTIALLY pushed
    * (`isPartiallyPushed` stays at its `true` default): each day-slice
    * caps its fetch at the limit — the best a multi-partition source can
    * guarantee — and Spark keeps the global limit on top.
    */
  override def pushLimit(l: Int): Boolean = {
    limit = math.min(limit, l)
    true
  }

  /** Accept bounds on `created` — the API's since/before parameters. A
    * pushed bound narrows the fetched day range; everything else stays for
    * Spark to evaluate. (Bounds are accepted at day granularity, so the
    * residual sub-day part of each filter is still reported as pushed only
    * when exactly representable; otherwise the filter is left unpushed.)
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("created", v) =>
        asZoned(v).exists { z => since = maxDate(since, z.toLocalDate); true }
      case GreaterThan("created", v) =>
        asZoned(v).exists { z => since = maxDate(since, z.toLocalDate); true }
      case LessThan("created", v) =>
        // upper bound: a sub-day timestamp still needs its whole day fetched
        asZoned(v).exists { z =>
          until = minDate(until, ceilToDay(z)); true
        }
      case LessThanOrEqual("created", v) =>
        // inclusive bound: even an exactly-midnight value belongs to the
        // following fetch window (ceilToDay(midnight) would exclude its day)
        asZoned(v).exists { z =>
          until = minDate(until, z.toLocalDate.plusDays(1)); true
        }
      case _ => false
    }
    pushed = accepted
    // sub-day bounds narrow the fetch but still need Spark's row-level
    // filter; only midnight-exact lower bounds are fully absorbed
    rejected ++ accepted.filterNot(fullyAbsorbed)
  }

  /** Filter value as UTC zoned time (Spark hands java.sql.Timestamp, or
    * java.time.Instant under the Java 8 time API config).
    */
  private def asZoned(v: Any): Option[java.time.ZonedDateTime] = v match {
    case ts: java.sql.Timestamp => Some(ts.toInstant.atZone(java.time.ZoneOffset.UTC))
    case i: java.time.Instant => Some(i.atZone(java.time.ZoneOffset.UTC))
    case _ => None
  }

  private def ceilToDay(z: java.time.ZonedDateTime): LocalDate =
    if (z.toLocalTime == java.time.LocalTime.MIDNIGHT) z.toLocalDate
    else z.toLocalDate.plusDays(1)

  private def fullyAbsorbed(f: Filter): Boolean = f match {
    case GreaterThanOrEqual(_, v) =>
      asZoned(v).exists(_.toLocalTime == java.time.LocalTime.MIDNIGHT)
    case LessThan(_, v) =>
      asZoned(v).exists(_.toLocalTime == java.time.LocalTime.MIDNIGHT)
    case _ => false
  }

  private def maxDate(a: LocalDate, b: LocalDate) = if (a.isAfter(b)) a else b
  private def minDate(a: LocalDate, b: LocalDate) = if (a.isBefore(b)) a else b

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ApiScan(since, until, rowsPerDay, limit)
}

private[graft] case class DaySlice(fromDay: Long, untilDay: Long, rowsPerDay: Int,
    limit: Int, fetcher: DayFetcher) extends InputPartition

private[graft] class ApiScan(since: LocalDate, until: LocalDate, rowsPerDay: Int,
    limit: Int, fetcher: DayFetcher = MonzoApiSource.SyntheticFetcher)
    extends Scan with Batch {
  override def readSchema(): StructType = MonzoApiSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-monzo-api [since=$since, until=$until, rowsPerDay=$rowsPerDay" +
      (if (limit != Int.MaxValue) s", limit=$limit]" else "]")

  /** One partition per day — the fetch unit the reference pages over
    * serially becomes the parallelism unit.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val from = since.toEpochDay
    val to = math.max(from, until.toEpochDay)
    (from until to).map(d =>
      DaySlice(d, d + 1, rowsPerDay, limit, fetcher): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val s = partition.asInstanceOf[DaySlice]
      new PartitionReader[InternalRow] {
        // partially-pushed limit: this partition never fetches more than
        // `limit` rows (Spark's retained global limit finishes the job)
        private val it = (s.fromDay until s.untilDay).iterator
          .flatMap(s.fetcher.fetchDay(_, s.rowsPerDay))
          .take(s.limit)
        private var current: InternalRow = _
        override def next(): Boolean =
          if (it.hasNext) { current = it.next(); true } else false
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
}
