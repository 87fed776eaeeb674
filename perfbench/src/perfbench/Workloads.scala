package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.nexmark.{Auction, Bid, NexmarkGen, Person}
import graft.nexmark.queries.NexmarkQueries

/** One streaming workload: which entities it reads, the query it runs, how
  * to read a result row, and a reference that computes the same results
  * with plain Scala collections (no Spark, no `NexmarkQueries`).
  */
sealed trait StreamWorkload {
  def name: String
  def entities: Seq[String]
  /** Open-loop rate R of the whole 1:4:4 id stream, ids/s. */
  def rate: Long
  /** Capacity phase: ids admitted per micro-batch, and batch count. */
  def capacityBatchIds: Long
  def capacityBatches: Int
  /** Capacity batches of the untimed warm-up pass. */
  def warmupBatches: Int = 2
  /** Capacity drains per run; `events_per_s` takes the fastest. */
  def capacityDrains: Int
  /** Open-loop trigger interval in ms; 0 runs each micro-batch as soon as
    * the previous one ends. */
  def openTriggerMs: Long = 0L
  /** A result later than this after its last event's creation fails. */
  def latencyLimitMs: Long
  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame
  /** (windowStartMs, key) of a result row. */
  def key(r: Row): (Long, Long) = (r.getLong(0), r.getLong(1))
  def values(r: Row): Seq[Any]
  /** Creation time of the last event that contributed to the result. */
  def creation(r: Row): Long
  /** Reference results of every window over ids [0, limit), keyed like [[key]]. */
  def reference(s: Schedule, limit: Long): Map[(Long, Long), Seq[Any]]

  def slotShare: Double = entities.map(e => Slots.of(e).length).sum.toDouble / Slots.Epoch
  def events(from: Long, until: Long): Long =
    entities.map(e => Slots.count(Slots.of(e), from, until)).sum
  /** Largest event time among ids [0, limit), per entity; the watermark
    * follows the smallest of them.
    */
  def maxEventTime(s: Schedule, limit: Long): Long =
    entities.map { e =>
      val slots = Slots.of(e)
      var id = limit - 1
      while (!slots.contains((id % Slots.Epoch).toInt)) id -= 1
      s.due(id)
    }.min
}

object StreamWorkload {
  val WindowMs = 5000L
  val Window = "5 seconds"

  def windowOf(ts: Long): Long = Math.floorDiv(ts, WindowMs) * WindowMs

  def apply(name: String): StreamWorkload = name match {
    case Q5.name => Q5
    case Q8.name => Q8
    case other => throw new IllegalArgumentException(s"unknown stream workload '$other'")
  }

  /** Ids of `entity` in [0, limit). */
  def ids(entity: String, limit: Long)(f: Long => Unit): Unit = {
    val slots = Slots.of(entity)
    var epoch = 0L
    while (epoch * Slots.Epoch < limit) {
      var j = 0
      while (j < slots.length) {
        val id = epoch * Slots.Epoch + slots(j)
        if (id < limit) f(id)
        j += 1
      }
      epoch += 1
    }
  }
}

object Q5 extends StreamWorkload {
  import StreamWorkload._
  val name = "nexmark_q5"
  val entities = Seq("bids")
  val rate = 45000L
  val capacityBatchIds = 45000L
  val capacityBatches = 20
  // CPU-bound: the faster of two drains rides out a transient slowdown
  // of the host
  val capacityDrains = 2
  // 5 s window + 2 s watermark + 3 s
  val latencyLimitMs = 10000L

  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    NexmarkQueries.q5HotAuctions(in("bids").as[Bid], Window)
  }
  def values(r: Row): Seq[Any] = Seq[Any](r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5))
  def creation(r: Row): Long = r.getLong(4)

  def reference(s: Schedule, limit: Long): Map[(Long, Long), Seq[Any]] = {
    // (maxPrice, bidCount, lastTimestamp, lastIngestionTimestamp)
    val acc = mutable.HashMap.empty[(Long, Long), Array[Double]]
    val cnt = mutable.HashMap.empty[(Long, Long), Array[Long]]
    ids("bids", limit) { id =>
      val b = NexmarkGen.bid(s.cfg, id)
      val k = (windowOf(b.timestamp), b.auctionId)
      val p = acc.getOrElseUpdate(k, Array(Double.NegativeInfinity))
      if (b.bid > p(0)) p(0) = b.bid
      val c = cnt.getOrElseUpdate(k, Array(0L, Long.MinValue, Long.MinValue))
      c(0) += 1
      c(1) = math.max(c(1), b.timestamp)
      c(2) = math.max(c(2), b.ingestionTimestamp)
    }
    acc.iterator.map { case (k, p) =>
      val c = cnt(k)
      k -> Seq[Any](p(0), c(0), c(1), c(2))
    }.toMap
  }

  /** Bids scheduled in the window starting at `ws`. */
  def scheduledBids(s: Schedule, ws: Long): Long =
    Slots.count(Slots.of("bids"), s.dueCount(ws - 1), s.dueCount(ws + WindowMs - 1))
}

object Q8 extends StreamWorkload {
  import StreamWorkload._
  val name = "nexmark_q8"
  val entities = Seq("persons", "auctions")
  val rate = 5000L
  val capacityBatchIds = 15000L
  val capacityBatches = 20
  // bound by state-store commit waits; one drain is steady
  val capacityDrains = 1
  // its micro-batches take about a second whatever their size; on a grid
  // of half windows every window closes at the same point of the grid
  override val openTriggerMs = 2500L
  // 5 s window + 2 s watermark + 8 s: a window closes two micro-batches
  // after the watermark passes it, and Q8's batches take over a second
  val latencyLimitMs = 15000L

  def query(spark: SparkSession, in: Map[String, DataFrame]): DataFrame = {
    import spark.implicits._
    NexmarkQueries.q8NewUsers(in("persons").as[Person], in("auctions").as[Auction], Window)
  }
  def values(r: Row): Seq[Any] = Seq[Any](r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
  def creation(r: Row): Long = math.max(r.getLong(2), r.getLong(4))

  def reference(s: Schedule, limit: Long): Map[(Long, Long), Seq[Any]] = {
    // every generated event has ingestion time == creation time, and each
    // person id occurs once, so a result is (person ts, latest auction ts)
    val person = mutable.HashMap.empty[(Long, Long), Long]
    ids("persons", limit) { id =>
      val ts = s.due(id)
      val k = (windowOf(ts), NexmarkGen.personId(s.cfg, id))
      person(k) = math.max(person.getOrElse(k, Long.MinValue), ts)
    }
    val auction = mutable.HashMap.empty[(Long, Long), Long]
    ids("auctions", limit) { id =>
      val ts = s.due(id)
      val k = (windowOf(ts), NexmarkGen.auctionSeller(s.cfg, id))
      if (person.contains(k)) auction(k) = math.max(auction.getOrElse(k, Long.MinValue), ts)
    }
    auction.iterator.map { case (k, at) =>
      val pt = person(k)
      k -> Seq[Any](pt, pt, at, at)
    }.toMap
  }
}
