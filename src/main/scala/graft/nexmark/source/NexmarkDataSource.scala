package graft.nexmark.source

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, GenericInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.nexmark.{GenConfig, NexmarkGen}

/** DataSource V2 Nexmark generator source (`format("nexmark")`).
  *
  * The reference's sources are N parallel RichParallelSourceFunctions,
  * each generating an independent event sequence with ids offset by a
  * per-subtask stride (NexmarkCommon.java:43-59,
  * NexmarkPersonSource.java:27-30). The DSv2 mapping is exact: one
  * InputPartition per subtask, each running [[NexmarkGen]] with
  * `GenConfig(subtask = i, parallelism = n)` — so a 50-partition read
  * reproduces the reference's 50-way generator topology, ids and skew
  * included, on any cluster size.
  *
  * Options: entity (persons|auctions|bids), rows (per subtask),
  * parallelism, seed, baseTimestamp, eventsPerSecond, rowsPerBatch
  * (micro-batch reads: events per subtask per trigger).
  *
  * Supports BATCH_READ and MICRO_BATCH_READ (bounded: a streaming read
  * ends after `rows` events per subtask, the analog of the reference's
  * `recordsToGenerate`).
  */
class NexmarkDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "nexmark"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NexmarkDataSource.schemaFor(options.getOrDefault("entity", "bids"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NexmarkTable(new CaseInsensitiveStringMap(properties))
}

object NexmarkDataSource {
  val PersonSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("personId", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("email", StringType, nullable = false),
    StructField("city", StringType, nullable = false),
    StructField("country", StringType, nullable = false),
    StructField("province", StringType, nullable = false),
    StructField("zipcode", StringType, nullable = false),
    StructField("homepage", StringType, nullable = false),
    StructField("creditcard", StringType, nullable = false),
    StructField("ingestionTimestamp", LongType, nullable = false)))
  val AuctionSchema: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("auctionId", LongType, nullable = false),
    StructField("personId", LongType, nullable = false),
    StructField("itemId", LongType, nullable = false),
    StructField("initialPrice", DoubleType, nullable = false),
    StructField("start", LongType, nullable = false),
    StructField("end", LongType, nullable = false),
    StructField("categoryId", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("descr", StringType, nullable = false),
    StructField("ingestionTimestamp", LongType, nullable = false)))
  val BidSchema: StructType = StructType(Seq(
    StructField("ingestionTimestamp", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("auctionId", LongType, nullable = false),
    StructField("personId", LongType, nullable = false),
    StructField("bidId", LongType, nullable = false),
    StructField("bid", DoubleType, nullable = false)))

  def schemaFor(entity: String): StructType = entity match {
    case "persons" => PersonSchema
    case "auctions" => AuctionSchema
    case "bids" => BidSchema
    case other => throw new IllegalArgumentException(
      s"unknown entity '$other' (expected persons|auctions|bids)")
  }

  case class Opts(entity: String, rows: Long, parallelism: Int, seed: Long,
                  baseTimestamp: Long, eventsPerSecond: Long, rowsPerBatch: Long,
                  sizedPayloads: Boolean)

  def opts(m: CaseInsensitiveStringMap): Opts = Opts(
    entity = m.getOrDefault("entity", "bids"),
    rows = m.getOrDefault("rows", "10000").toLong,
    parallelism = m.getOrDefault("parallelism", "4").toInt,
    seed = m.getOrDefault("seed", "42").toLong,
    baseTimestamp = m.getOrDefault("baseTimestamp", "1704067200000").toLong,
    eventsPerSecond = m.getOrDefault("eventsPerSecond", "1000").toLong,
    rowsPerBatch = m.getOrDefault("rowsPerBatch", "1000").toLong,
    sizedPayloads = m.getOrDefault("sizedPayloads", "false").toBoolean)

  /** The row of event `eventId` of `entity`, in its schema's order. The
    * numeric fields are computed here; each string field is built by its
    * [[NexmarkGen]] builder (the one `person`/`auction` use) the first time
    * it is read, so a query that reads 3 of 11 columns never builds the
    * names, addresses or 220 characters of auction text it drops — the
    * row-level counterpart of column pruning. Bids carry no strings.
    */
  def rowOf(entity: String, cfg: GenConfig, eventId: Long): InternalRow = entity match {
    case "persons" =>
      val ts = NexmarkGen.eventTimestamp(cfg, eventId)
      new GenRow(cfg, eventId, Array[Any](
        ts, NexmarkGen.personId(cfg, eventId), PersonName, PersonEmail, PersonCity,
        PersonCountry, PersonProvince, PersonZipcode, PersonHomepage, PersonCreditcard, ts))
    case "auctions" =>
      val ts = NexmarkGen.eventTimestamp(cfg, eventId)
      new GenRow(cfg, eventId, Array[Any](
        ts, NexmarkGen.auctionId(cfg, eventId), NexmarkGen.auctionSeller(cfg, eventId),
        NexmarkGen.auctionItem(cfg, eventId), NexmarkGen.auctionInitialPrice(cfg, eventId),
        ts, ts + NexmarkGen.AuctionDurationMs, NexmarkGen.auctionCategory(cfg, eventId),
        AuctionName, AuctionDescr, ts))
    case _ =>
      val b = NexmarkGen.bid(cfg, eventId)
      new GenericInternalRow(Array[Any](
        b.ingestionTimestamp, b.timestamp, b.auctionId, b.personId, b.bidId, b.bid))
  }

  /** A string field's builder, held in its slot of a [[GenRow]] until read. */
  private final class Text(val build: (GenConfig, Long) => String)
  private val PersonName = new Text(NexmarkGen.personName)
  private val PersonEmail = new Text(NexmarkGen.personEmail)
  private val PersonCity = new Text(NexmarkGen.personCity)
  private val PersonCountry = new Text(NexmarkGen.personCountry)
  private val PersonProvince = new Text(NexmarkGen.personProvince)
  private val PersonZipcode = new Text(NexmarkGen.personZipcode)
  private val PersonHomepage = new Text(NexmarkGen.personHomepage)
  private val PersonCreditcard = new Text(NexmarkGen.personCreditcard)
  private val AuctionName = new Text(NexmarkGen.auctionName)
  private val AuctionDescr = new Text(NexmarkGen.auctionDescr)

  /** A generated row: each slot holds its value, or the [[Text]] that
    * builds it, replaced by the value on first read. Read-only, and no
    * field is null, so `isNullAt` builds nothing.
    */
  private final class GenRow(cfg: GenConfig, eventId: Long, values: Array[Any])
      extends BaseGenericInternalRow {
    override def numFields: Int = values.length
    override protected def genericGet(i: Int): Any = values(i) match {
      case t: Text =>
        val v = UTF8String.fromString(t.build(cfg, eventId))
        values(i) = v
        v
      case v => v
    }
    override def isNullAt(i: Int): Boolean = false
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("read-only row")
    override def update(i: Int, value: Any): Unit =
      throw new UnsupportedOperationException("read-only row")
  }
}

class NexmarkTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val o = NexmarkDataSource.opts(options)
  override def name(): String = s"nexmark(${o.entity})"
  override def schema(): StructType = NexmarkDataSource.schemaFor(o.entity)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new NexmarkScan(o)
}

/** One partition = one reference "subtask": its own id stride, reading
  * eventIds [from, until). */
case class NexmarkInputPartition(entity: String, subtask: Int, parallelism: Int,
                                 seed: Long, baseTimestamp: Long, eventsPerSecond: Long,
                                 from: Long, until: Long,
                                 sizedPayloads: Boolean) extends InputPartition

class NexmarkScan(o: NexmarkDataSource.Opts) extends ScanBuilder with Scan with Batch {
  override def build(): Scan = this
  override def readSchema(): StructType = NexmarkDataSource.schemaFor(o.entity)
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new NexmarkMicroBatchStream(o)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until o.parallelism).map(i =>
      NexmarkInputPartition(o.entity, i, o.parallelism, o.seed,
        o.baseTimestamp, o.eventsPerSecond, 0L, o.rows, o.sizedPayloads)).toArray
  override def createReaderFactory(): PartitionReaderFactory = new NexmarkReaderFactory
}

class NexmarkReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[NexmarkInputPartition]
    val cfg = GenConfig(seed = p.seed, subtask = p.subtask, parallelism = p.parallelism,
      baseTimestamp = p.baseTimestamp, eventsPerSecond = p.eventsPerSecond,
      sizedPayloads = p.sizedPayloads)
    new PartitionReader[InternalRow] {
      private var eventId = p.from - 1
      override def next(): Boolean = { eventId += 1; eventId < p.until }
      override def get(): InternalRow = NexmarkDataSource.rowOf(p.entity, cfg, eventId)
      override def close(): Unit = ()
    }
  }
}

/** Bounded micro-batch stream: the offset is the per-subtask eventId
  * high-watermark; each trigger advances by rowsPerBatch until `rows` —
  * the Spark analog of rate-limited bounded generation
  * (recordsToGenerate / RateLimiter in the reference sources).
  */
case class NexmarkOffset(eventId: Long) extends Offset {
  override def json(): String = s"""{"eventId":$eventId}"""
}

class NexmarkMicroBatchStream(o: NexmarkDataSource.Opts)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  override def initialOffset(): Offset = NexmarkOffset(0L)
  // Trigger.AvailableNow: the bounded target is `rows`, reached batch by
  // batch through the admission-controlled latestOffset below
  override def prepareForTriggerAvailableNow(): Unit = ()
  override def reportLatestOffset(): Offset = NexmarkOffset(o.rows)
  // admission control: each trigger admits rowsPerBatch events per subtask
  // (the RateLimiter analog), bounded by the total `rows` target
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[NexmarkOffset].eventId
    NexmarkOffset(math.min(o.rows, from + o.rowsPerBatch))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")
  override def deserializeOffset(json: String): Offset =
    NexmarkOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[NexmarkOffset].eventId
    val until = end.asInstanceOf[NexmarkOffset].eventId
    (0 until o.parallelism).map(i =>
      NexmarkInputPartition(o.entity, i, o.parallelism, o.seed,
        o.baseTimestamp, o.eventsPerSecond, from, until, o.sizedPayloads)).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = new NexmarkReaderFactory
}
