package perfbench

import java.util
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.nexmark.{GenConfig, NexmarkGen}
import graft.nexmark.source.NexmarkDataSource

/** The open-loop schedule of the 1:4:4 person:auction:bid id space: id `i`
  * is due at `base + i * 1000 / rate` ms, which is exactly
  * `NexmarkGen.eventTimestamp` with `baseTimestamp = base` and
  * `eventsPerSecond = rate`, so the due time is also the event's creation
  * time.
  */
final case class Schedule(seed: Long, base: Long, rate: Long) {
  val cfg: GenConfig = GenConfig(seed = seed, baseTimestamp = base, eventsPerSecond = rate)

  def due(id: Long): Long = NexmarkGen.eventTimestamp(cfg, id)

  /** Number of ids due at or before wall time `now` (ms). Id `i` is due iff
    * `floor(i * 1000 / rate) <= now - base`, i.e. `i * 1000 < (now - base + 1) * rate`.
    */
  def dueCount(now: Long): Long =
    if (now < base) 0L else Math.floorDiv((now - base + 1) * rate + 999L, 1000L)
}

/** Which positions of the 9-event epoch an entity occupies. */
object Slots {
  val Epoch = 9
  def of(entity: String): Array[Int] = entity match {
    case "persons"  => Array(0)
    case "auctions" => Array(1, 2, 3, 4)
    case "bids"     => Array(5, 6, 7, 8)
    case other      => throw new IllegalArgumentException(s"unknown entity '$other'")
  }
  /** Ids in [0, n) whose slot is in `slots`. */
  def countBelow(slots: Array[Int], n: Long): Long =
    (n / Epoch) * slots.length + slots.count(_ < n % Epoch)
  def count(slots: Array[Int], from: Long, until: Long): Long =
    countBelow(slots, until) - countBelow(slots, from)
}

/** Record of the open-loop source, kept in the benchmark JVM: at each
  * micro-batch start, the ids that were already due but not yet admitted.
  */
object Backlog {
  private val samples = ArrayBuffer.empty[Long]
  def record(ids: Long): Unit = synchronized { samples += ids }
  def drain(): Array[Long] = synchronized { val a = samples.toArray; samples.clear(); a }
}

/** Micro-batch load generator (`format(classOf[LoadGenProvider].getName)`).
  *
  * Offsets are ids of the whole 1:4:4 stream; a source reads only the ids
  * of its `entity`'s slots and builds each row with `NexmarkGen`.
  *
  * Options: entity, seed, base (ms), rate (ids/s), limit (id count),
  * mode = `backlog` (each batch admits `batchIds` more ids, up to `limit`)
  * or `open` (each batch admits every id due by the wall clock, up to
  * `limit`), trackBacklog (record [[Backlog]] samples). Each batch is read
  * in [[StreamBench.Cores]] partitions.
  */
class LoadGenProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NexmarkDataSource.schemaFor(options.get("entity"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new LoadGenTable(LoadGenOpts(new CaseInsensitiveStringMap(properties)))
}

final case class LoadGenOpts(entity: String, seed: Long, base: Long, rate: Long, limit: Long,
                             mode: String, batchIds: Long, trackBacklog: Boolean) {
  def schedule: Schedule = Schedule(seed, base, rate)
}

object LoadGenOpts {
  def apply(m: CaseInsensitiveStringMap): LoadGenOpts = LoadGenOpts(
    entity = m.get("entity"),
    seed = m.get("seed").toLong,
    base = m.get("base").toLong,
    rate = m.get("rate").toLong,
    limit = m.get("limit").toLong,
    mode = m.get("mode"),
    batchIds = m.getOrDefault("batchIds", "0").toLong,
    trackBacklog = m.getOrDefault("trackBacklog", "false").toBoolean)
}

class LoadGenTable(o: LoadGenOpts) extends Table with SupportsRead {
  override def name(): String = s"loadgen(${o.entity})"
  override def schema(): StructType = NexmarkDataSource.schemaFor(o.entity)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = schema()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new LoadGenStream(o)
    }
}

case class IdOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

final case class LoadGenPartition(entity: String, seed: Long, base: Long, rate: Long,
                                  from: Long, until: Long) extends InputPartition

class LoadGenStream(o: LoadGenOpts) extends MicroBatchStream with SupportsAdmissionControl {
  private val schedule = o.schedule

  override def initialOffset(): Offset = IdOffset(0L)
  override def deserializeOffset(json: String): Offset = IdOffset(json.trim.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[IdOffset].id
    if (o.mode == "backlog") IdOffset(math.min(o.limit, from + o.batchIds))
    else {
      val due = math.min(o.limit, schedule.dueCount(System.currentTimeMillis()))
      if (o.trackBacklog && due > from) Backlog.record(due - from)
      IdOffset(due)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[IdOffset].id
    val until = end.asInstanceOf[IdOffset].id
    val n = StreamBench.Cores
    (0 until n).map { p =>
      LoadGenPartition(o.entity, o.seed, o.base, o.rate,
        from + (until - from) * p / n, from + (until - from) * (p + 1) / n): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new LoadGenReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class LoadGenReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LoadGenPartition]
    val cfg = Schedule(p.seed, p.base, p.rate).cfg
    val inSlot = new Array[Boolean](Slots.Epoch)
    Slots.of(p.entity).foreach(inSlot(_) = true)
    new PartitionReader[InternalRow] {
      private var id = p.from - 1
      override def next(): Boolean = {
        id += 1
        while (id < p.until && !inSlot((id % Slots.Epoch).toInt)) id += 1
        id < p.until
      }
      override def get(): InternalRow = NexmarkDataSource.rowOf(p.entity, cfg, id)
      override def close(): Unit = ()
    }
  }
}
