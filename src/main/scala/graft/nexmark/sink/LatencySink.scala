package graft.nexmark.sink

import java.io.{File, FileWriter, PrintWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** A latency sink a streaming query feeds once per micro-batch. Each
  * `recordBatch` runs one Spark job: every series of the sink comes out
  * of one [[LatencySink.seriesStats]] aggregate. `close()` runs after the
  * query stops.
  */
trait BatchSink {
  def recordBatch(batch: DataFrame, batchId: Long): Unit
  def close(): Unit
}

/** Per-batch latency sink (SURVEY §2.2 K1-K3, §6 measurement contract;
  * reference: NexmarkQuery5.java:253-400).
  *
  * The reference's RichSinkFunction accumulates SummaryStatistics
  * (count/mean/min/max/stddev) over latency series per subtask and appends
  * CSV rows. This sink computes the same statistics for each micro-batch
  * declaratively and appends one CSV row per non-empty series: bid
  * latency (`now - creationCol`) and flight time (`now - ingestionCol`),
  * NexmarkQuery5.java:384-394. Samples outside `[0, thresholdMs]` are
  * discarded (LATENCY_THRESHOLD = 10 min, NexmarkQuery8.java:247).
  *
  * `now` is injectable (a fixed clock makes golden tests deterministic —
  * SURVEY §7.4.3).
  */
final class LatencySink(csvPath: String, creationCol: String, ingestionCol: String,
                        now: () => Long = () => System.currentTimeMillis(),
                        thresholdMs: Long = LatencySink.DefaultThresholdMs) extends BatchSink {
  import LatencySink._

  def recordBatch(batch: DataFrame, batchId: Long): Unit = {
    val nowMs = now()
    val names = Seq("creationToSink", "flightTime")
    val series = Seq(creationCol, ingestionCol).map { c =>
      val lat = (lit(nowMs) - col(c)).cast("double")
      (lat >= 0 && lat <= thresholdMs, lat)
    }
    val rows = names.zip(seriesStats(batch, series)).collect {
      case (name, st) if st.count > 0 =>
        f"$batchId,$nowMs,$name,${st.count},${st.mean}%.3f,${st.min}%.0f,${st.max}%.0f,${st.stddev}%.3f"
    }
    if (rows.nonEmpty) appendCsv(csvPath, rows)
  }

  def close(): Unit = ()
}

object LatencySink {

  val DefaultThresholdMs: Long = 10 * 60 * 1000L // NexmarkQuery8.java:247
  val Q5bThresholdMs: Long = 30 * 60 * 1000L     // NexmarkQuery5b.java:219

  /** CSV header mirroring the reference's schema shape
    * (NexmarkQuery5.java:304: timestamp,counter,series stats...).
    */
  val CsvHeader = "batchId,wallclock,series,count,mean,min,max,stddev"

  final class Stats extends Serializable {
    var count: Long = 0
    var sum: Double = 0
    var sumSq: Double = 0
    var min: Double = Double.MaxValue
    var max: Double = Double.MinValue
    def add(count2: Long, sum2: Double, sumSq2: Double, min2: Double, max2: Double): Unit = {
      count += count2; sum += sum2; sumSq += sumSq2
      min = math.min(min, min2); max = math.max(max, max2)
    }
    def add(o: Stats): Unit = if (o.count > 0) add(o.count, o.sum, o.sumSq, o.min, o.max)
    def mean: Double = if (count == 0) 0 else sum / count
    def stddev: Double =
      if (count < 2) 0
      else math.sqrt(math.max(0, (sumSq - sum * sum / count) / (count - 1)))
  }

  /** Count, sum, sum of squares, min and max of each (condition, latency)
    * series over the rows of `batch` that meet its condition, computed in
    * ONE aggregate, so a sink runs one Spark job per micro-batch however
    * many series it keeps. `latency` is a double column; an empty series
    * comes back with count 0.
    */
  def seriesStats(batch: DataFrame, series: Seq[(Column, Column)]): Seq[Stats] = {
    val aggs = series.flatMap { case (cond, v) =>
      Seq(count(when(cond, 1)), sum(when(cond, v)), sum(when(cond, v * v)),
          min(when(cond, v)), max(when(cond, v)))
    }
    val r = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    series.indices.map { i =>
      val o = 5 * i
      val st = new Stats
      if (r.getLong(o) > 0)
        st.add(r.getLong(o), r.getDouble(o + 1), r.getDouble(o + 2), r.getDouble(o + 3), r.getDouble(o + 4))
      st
    }
  }

  private def appendCsv(path: String, rows: Seq[String]): Unit = synchronized {
    val f = new File(path)
    val fresh = !f.exists()
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(new FileWriter(f, true))
    try {
      if (fresh) w.println(CsvHeader)
      rows.foreach(w.println)
    } finally w.close()
  }

  /** Feed `df`'s micro-batches to `sink` through `foreachBatch`. */
  def attach(df: DataFrame, sink: BatchSink, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => sink.recordBatch(batch.toDF(), batchId) }
}

/** Buffered CSV appender reproducing the reference sinks' flush contract
  * (NexmarkQuery8.java:364-374, NexmarkQuery5b.java:334-341): rows buffer
  * in a BufferedWriter and `flush()` runs only once the written-character
  * estimate (`length * 2` bytes, the reference's accounting) tops
  * `flushBytes` (8 MiB default). `close()` flushes unconditionally. A
  * non-positive `flushBytes` flushes every append (for golden tests that
  * read the file mid-run).
  *
  * Restart semantics: the cumulative sinks' stats reset when a sink is
  * recreated (checkpoint restart), so appending to a pre-existing file
  * would produce a series whose cumulative counts drop mid-file —
  * consumers parsing it as monotone would misread it. A fresh appender
  * therefore ROTATES any existing non-empty file to the first free
  * `<path>.N` before writing, so every file holds exactly one monotone
  * run (and the rotated files preserve the history).
  *
  * Concurrency contract: SINGLE WRITER PER PATH. The rotation scan
  * (find first free `<path>.N`, then rename) is not atomic; two appenders
  * racing on the same path can pick the same rotation target and one
  * rename fails loudly with IOException. Every sink in this codebase owns
  * a distinct path (one appender per query run), matching the reference,
  * where each sink instance likewise owns its own file.
  */
final class CsvAppender(path: String, header: String,
                        flushBytes: Long = CsvAppender.DefaultFlushBytes) {
  private var writer: java.io.BufferedWriter = _
  private var writtenSoFar: Long = 0
  private var closed = false

  private def ensure(): Unit = if (writer == null) {
    // append-after-close would silently rotate the file THIS appender just
    // wrote and split one logical run across two files — make it loud
    if (closed)
      throw new IllegalStateException(s"append after close() on CsvAppender($path)")
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    if (f.exists() && f.length() > 0) {
      val rotated = Iterator.from(1).map(n => new File(s"$path.$n"))
        .find(!_.exists()).get
      if (!f.renameTo(rotated))
        throw new java.io.IOException(s"cannot rotate $path to $rotated")
    }
    writer = new java.io.BufferedWriter(new FileWriter(f, true))
    writer.write(header); writer.newLine()
    writtenSoFar += (header.length + 1) * 2
  }

  def append(rows: Seq[String]): Unit = synchronized {
    if (rows.nonEmpty) {
      ensure()
      rows.foreach { r =>
        writer.write(r); writer.newLine()
        writtenSoFar += (r.length + 1) * 2
      }
      if (flushBytes <= 0 || writtenSoFar >= flushBytes) {
        writer.flush(); writtenSoFar = 0
      }
    }
  }

  def close(): Unit = synchronized {
    if (writer != null) { writer.flush(); writer.close(); writer = null }
    closed = true
  }
}

object CsvAppender { val DefaultFlushBytes: Long = 8L * 1024 * 1024 }

/** Shared machinery for the cumulative CSV sinks: the reference layout
  * (subtask, ts, per-series count/mean/min/max), NaN for empty series
  * (SummaryStatistics on n = 0), the final-row-then-flush close(), and a
  * micro-batch re-execution guard — foreachBatch re-delivers the same
  * batchId after a transient failure, and merging it twice would
  * double-count the cumulative stats. (A restart from checkpoint recreates
  * the sink, so stats and guard reset together — consistent from scratch.)
  */
private[sink] abstract class CumulativeCsvSink(csvPath: String, header: String,
                                               flushBytes: Long, now: () => Long,
                                               subtask: Int) extends BatchSink {
  import LatencySink.Stats
  protected def series: Seq[Stats]
  protected val appender = new CsvAppender(csvPath, header, flushBytes)
  private var lastBatchId = -1L

  /** True if this batchId has not completed before. Call [[doneBatch]]
    * only AFTER the batch's stats merged successfully — marking on entry
    * would make a retry of a failed batch skip itself and lose the data.
    */
  protected def freshBatch(batchId: Long): Boolean = batchId > lastBatchId
  protected def doneBatch(batchId: Long): Unit = lastBatchId = batchId

  private def fmt(s: Stats, f: Stats => Double): String =
    if (s.count == 0) "NaN" else f(s).toString
  protected def csvRow(ts: Long): String =
    (Seq(subtask.toString, ts.toString) ++
      series.map(_.count.toString) ++ series.map(fmt(_, _.mean)) ++
      series.map(fmt(_, _.min)) ++ series.map(fmt(_, _.max))).mkString(",")

  /** Reference close(): one final updateCSV row, then flush+close. */
  def close(): Unit = { appender.append(Seq(csvRow(now()))); appender.close() }
}

/** Q8 3-series cumulative latency sink (NexmarkQuery8.java:245-414).
  *
  * Contract reproduced from the reference sink:
  *   - SummaryStatistics accumulate over the WHOLE run, not per batch —
  *     every CSV row is the running stats;
  *   - records with `personId > 0` feed the person-creation series
  *     (latency `< threshold`, :384-388); records with `personId <= 0` are
  *     the sign-marked probes, feeding the auction-creation series AND the
  *     flight-time series (latency `<= threshold`, :389-394);
  *   - a CSV row is written when probes arrive (the reference writes one
  *     per probe record; here one per micro-batch containing probes — the
  *     declarative-batch analog), in the reference's exact column layout
  *     (:299-363): subtask,ts,3×count,3×mean,3×min,3×max;
  *   - 8 MiB flush policy via [[CsvAppender]]; `close()` appends a final
  *     row then flushes (:313-320). Empty series print NaN, matching
  *     SummaryStatistics on n = 0.
  *
  * `now` is injectable for deterministic golden tests.
  */
final class Q8CsvSink(csvPath: String,
                      thresholdMs: Long = LatencySink.DefaultThresholdMs,
                      now: () => Long = () => System.currentTimeMillis(),
                      subtask: Int = 0,
                      flushBytes: Long = CsvAppender.DefaultFlushBytes)
    extends CumulativeCsvSink(csvPath, Q8CsvSink.Header, flushBytes, now, subtask) {
  import LatencySink.Stats

  val Header: String = Q8CsvSink.Header

  private val person = new Stats
  private val auction = new Stats
  private val flight = new Stats
  override protected def series: Seq[Stats] = Seq(person, auction, flight)

  def recordBatch(batch: DataFrame, batchId: Long): Unit = if (freshBatch(batchId)) {
    val nowMs = now()
    def lat(c: String) = (lit(nowMs) - col(c)).cast("double")
    // `personId > 0` is the reference's own discriminator verbatim
    // (NexmarkQuery8.java:384): person id 0 is sign-ambiguous there too
    // and lands in the probe branch — kept for fidelity, not "fixed".
    val isPerson = col("personId") > 0
    val pLat = lat("personCreationTimestamp")
    val aLat = lat("auctionCreationTimestamp")
    // person: strict < threshold (:386); auction/flight: <= (:390-393)
    val probeOk = !isPerson && aLat <= thresholdMs
    val stats = LatencySink.seriesStats(batch, Seq(
      (isPerson && pLat < thresholdMs, pLat), (probeOk, aLat),
      (probeOk, lat("auctionIngestionTimestamp"))))
    series.zip(stats).foreach { case (st, b) => st.add(b) }
    doneBatch(batchId)
    // the reference's updateCSV runs on probe arrival only (:394)
    if (stats(1).count > 0) appender.append(Seq(csvRow(nowMs)))
  }
}

object Q8CsvSink {
  val Header: String =
    "subtask,ts,personCount,auctionCount,flightTimeCount,personMean,auctionMean," +
      "flightTimeMean,personMin,auctionMin,flightTimeMin,personMax,auctionMax,flightTimeMax"
}

/** Q5b throttled cumulative latency sink (NexmarkQuery5b.java:219-365):
  * bid-latency and flight-time SummaryStatistics accumulate over the run
  * on EVERY record under the 30-min threshold (:348-354), but a CSV row
  * (layout :298-341: subtask,ts,2×count,2×mean,2×min,2×max) is appended
  * only when >`minRowIntervalMs` of wall clock passed since the previous
  * row (:357-360) — the sink keeps measuring while writing at most one
  * row per interval. 8 MiB flush; `close()` = final row + flush.
  */
final class Q5bCsvSink(csvPath: String,
                       creationCol: String, ingestionCol: String,
                       thresholdMs: Long = LatencySink.Q5bThresholdMs,
                       minRowIntervalMs: Long = 5000L,
                       now: () => Long = () => System.currentTimeMillis(),
                       subtask: Int = 0,
                       flushBytes: Long = CsvAppender.DefaultFlushBytes)
    extends CumulativeCsvSink(csvPath, Q5bCsvSink.Header, flushBytes, now, subtask) {
  import LatencySink.Stats

  val Header: String = Q5bCsvSink.Header

  private val bid = new Stats
  private val flightT = new Stats
  override protected def series: Seq[Stats] = Seq(bid, flightT)
  private var prevRowMs = 0L // NexmarkQuery5b.java:357 `prevValue`

  def recordBatch(batch: DataFrame, batchId: Long): Unit = if (freshBatch(batchId)) {
    val nowMs = now()
    def lat(c: String) = (lit(nowMs) - col(c)).cast("double")
    // one threshold test on the bid latency gates both series (:348-354)
    val ok = lat(creationCol) <= thresholdMs
    val stats = LatencySink.seriesStats(batch, Seq((ok, lat(creationCol)), (ok, lat(ingestionCol))))
    series.zip(stats).foreach { case (st, b) => st.add(b) }
    doneBatch(batchId)
    if (stats.head.count > 0 && nowMs - prevRowMs > minRowIntervalMs) { // :357-360
      appender.append(Seq(csvRow(nowMs)))
      prevRowMs = nowMs
    }
  }
}

object Q5bCsvSink {
  val Header: String =
    "subtask,ts,bidCount,flightTimeCount,bidMean,flightTimeMean," +
      "bidMin,flightTimeMin,bidMax,flightTimeMax"
}

/** K4: the generator's Kafka partitioner — MurmurHash3-32 (seed 104729),
  * mod partition count (generator/GeneratorPipeline.java:198-271). Public
  * murmur3 algorithm (Austin Appleby, public domain).
  *
  * DELIBERATE DIVERGENCE from the reference in the default path: the
  * reference hashes only the FIRST 4 bytes of the 8-byte big-endian key
  * (`hash32(key, 0, 4, 104729)` — i.e. the HIGH 32 bits of the id), which
  * degenerates to a single constant hash — one partition for everything —
  * whenever ids are < 2^32, as they are for every generator run that
  * matters. [[partitionFor]] therefore hashes all 8 key bytes; the
  * byte-exact reference behavior (4-byte hash, fmix length 4, negative
  * codes mapped via `-code`, MIN_VALUE → 0) is kept as
  * [[referencePartitionFor]] for fidelity tests and cross-checking.
  */
object Murmur3Partitioner {
  val Seed: Int = graft.spark.Murmur3Partition.Seed

  /** Delegates to the native-expression kernel
    * ([[graft.spark.Murmur3Partition]]) so the Scala-side partitioner and
    * the codegen'd `murmur3_partition` column can never drift apart.
    */
  def partitionFor(key: Long, numPartitions: Int): Int =
    graft.spark.Murmur3Partition.compute(key, numPartitions)

  /** Byte-exact port of the reference partitioner
    * (GeneratorPipeline.java:198-251): murmur3-32 over only the first 4
    * big-endian key bytes, `fmix(length=4)`, negatives mapped `-code`
    * (MIN_VALUE → 0), then Java `%` (non-negative by then). Degenerate for
    * ids < 2^32 — see object doc.
    */
  def referencePartitionFor(key: Long, numPartitions: Int): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    // first 4 bytes of the big-endian 8-byte key, read as ONE
    // little-endian 4-byte block = bits 63..32 of the id
    var k1 = (((key >>> 56) & 0xff) | (((key >>> 48) & 0xff) << 8) |
      (((key >>> 40) & 0xff) << 16) | (((key >>> 32) & 0xff) << 24)).toInt
    k1 *= c1
    k1 = Integer.rotateLeft(k1, 15)
    k1 *= c2
    var h1 = Seed ^ k1
    h1 = Integer.rotateLeft(h1, 13) * 5 + 0xe6546b64
    h1 ^= 4 // length
    h1 ^= (h1 >>> 16)
    h1 *= 0x85ebca6b
    h1 ^= (h1 >>> 13)
    h1 *= 0xc2b2ae35
    h1 ^= (h1 >>> 16)
    val code = if (h1 >= 0) h1 else if (h1 != Int.MinValue) -h1 else 0
    code % numPartitions
  }

  /** murmur3 32-bit over the big-endian 8-byte encoding of `key`. */
  def murmur3_32(key: Long, seed: Int): Int =
    graft.spark.Murmur3Partition.murmur3_32(key, seed)
}
