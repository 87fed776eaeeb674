package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.nexmark.NexmarkGen

/** Output check of a phase against its reference results. `dropped`
  * counts rows the state operators dropped as later than the watermark,
  * `other` errors.
  */
final case class Check(expected: Long, missing: Long, wrong: Long, extra: Long, duplicate: Long,
                       late: Long, dropped: Long, other: Long) {
  def toMap: Map[String, Any] = Map("expected" -> expected, "missing" -> missing, "wrong" -> wrong,
    "extra" -> extra, "duplicate" -> duplicate, "late" -> late, "dropped" -> dropped, "other" -> other)
}

/** One run of a streaming workload in one JVM: untimed warm-up (set-up),
  * capacity phase, open-loop phase, output checks, and with `--trace 1`
  * the per-layer measurements. Writes a JSON report that `run.py` turns
  * into metrics.
  *
  * Usage: StreamBench --workload nexmark_q5|nexmark_q8 --seed N --seconds S
  *   --trace 0|1 --work DIR --report FILE
  */
object StreamBench {
  val WatermarkMs = 2000L
  /** Event-time origin of the capacity phase (a window boundary). */
  val CapacityBase = 1704067200000L
  val Cores = 4
  /** Open-loop results of windows starting earlier than this after the
    * schedule start are warm-up. */
  val OpenWarmupMs = 1500L
  /** Capacity batches of the single-threaded baseline. */
  val Local1Batches = 8

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, report: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m("report"))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Collects every result with the wall time it reached the sink. */
  final class Sink {
    val batches = ArrayBuffer.empty[(Long, Array[Row])]
    private val windows = mutable.HashSet.empty[Long]
    def write(df: Dataset[Row], batchId: Long): Unit = {
      val rows = df.collect()
      val t = System.currentTimeMillis()
      synchronized { batches += ((t, rows)); rows.foreach(r => windows += r.getLong(0)) }
    }
    def hasWindow(ws: Long): Boolean = synchronized(windows.contains(ws))
    def rows: Seq[(Long, Row)] = synchronized(batches.toSeq.flatMap { case (t, rs) => rs.map(t -> _) })
  }

  def check(w: StreamWorkload, got: Seq[(Long, Row)], expected: Map[(Long, Long), Seq[Any]],
            lateMs: (Long, Row) => Boolean = (_, _) => false): Check = {
    val seen = mutable.HashSet.empty[(Long, Long)]
    var wrong, extra, dup, late = 0L
    got.foreach { case (t, r) =>
      val k = w.key(r)
      if (!seen.add(k)) dup += 1
      else expected.get(k) match {
        case None => extra += 1
        case Some(v) => if (v != w.values(r)) wrong += 1 else if (lateMs(t, r)) late += 1
      }
    }
    Check(expected.size, expected.keysIterator.count(!seen.contains(_)), wrong, extra, dup, late, 0, 0)
  }

  /** Adds the rows the phase's state operators dropped as later than the
    * watermark (the generator never emits such rows) and a query error.
    */
  def withRun(c: Check, droppedRows: Long, err: Option[Throwable]): Check =
    c.copy(dropped = c.dropped + droppedRows, other = c.other + err.size)

  /** `liveHeapMb`: the heap in use after a full collection at the end of
    * the phase, while its query still holds its state.
    */
  final case class Phase(progress: Seq[StreamingQueryProgress], sink: Sink, seconds: Double,
                         liveHeapMb: Double)

  private def ckptDir(work: String): String =
    Files.createTempDirectory(Paths.get(work), "ckpt").toString

  private def startQuery(spark: SparkSession, w: StreamWorkload, s: Schedule, limit: Long,
                         mode: String, batchIds: Long, work: String, phase: String, sink: Sink) = {
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
    val in = w.entities.zipWithIndex.map { case (e, i) =>
      e -> spark.readStream.format(classOf[LoadGenProvider].getName)
        .option("entity", e).option("seed", s.seed).option("base", s.base).option("rate", s.rate)
        .option("limit", limit).option("mode", mode).option("batchIds", batchIds)
        .option("trackBacklog", i == 0)
        .load()
    }.toMap
    val writer = w.query(spark, in).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckptDir(work))
      .foreachBatch((df: Dataset[Row], id: Long) => sink.write(df, id))
    val q = (if (mode == "open" && w.openTriggerMs > 0) writer.trigger(Trigger.ProcessingTime(w.openTriggerMs))
             else writer).start()
    spark.sparkContext.setLocalProperty("perfbench.phase", null)
    q
  }

  /** Capacity phase: drain `batches * batchIds` ids admitted in fixed-size
    * micro-batches; returns the phase and its output check.
    */
  def capacity(spark: SparkSession, w: StreamWorkload, seed: Long, batches: Int, batchIds: Long,
               work: String, phase: String): (Phase, Check, Long) = {
    val s = Schedule(seed, CapacityBase, w.rate)
    val limit = batches * batchIds
    val sink = new Sink
    val t0 = System.nanoTime()
    val q = startQuery(spark, w, s, limit, "backlog", batchIds, work, phase, sink)
    val err = try { q.processAllAvailable(); None } catch { case e: Throwable => Some(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.toSeq
    val heap = liveHeapMb()
    q.stop()
    log(f"$phase: ${w.events(0, limit)} events in ${progress.size} batches, $secs%.2f s")
    val closedBefore = w.maxEventTime(s, limit) - WatermarkMs
    val expected = w.reference(s, limit).filter { case ((ws, _), _) =>
      ws + StreamWorkload.WindowMs <= closedBefore }
    (Phase(progress, sink, secs, heap), withRun(check(w, sink.rows, expected), dropped(progress), err),
      w.events(0, limit))
  }

  /** Open-loop phase: ids are admitted when due at `w.rate` from a base
    * half a second ahead; results of the first `windows` whole windows that
    * start at least [[OpenWarmupMs]] after the base are measured.
    */
  def openLoop(spark: SparkSession, w: StreamWorkload, seed: Long, windows: Int, work: String,
               phase: String): (Phase, Check, Seq[Long]) = {
    val W = StreamWorkload.WindowMs
    val base = System.currentTimeMillis() + 500L
    val s = Schedule(seed, base, w.rate)
    val measuredStart = Math.floorDiv(base + OpenWarmupMs + W - 1, W) * W
    val measuredEnd = measuredStart + windows * W
    val limit = s.dueCount(measuredEnd + WatermarkMs + 500L)
    val sink = new Sink
    Backlog.drain()
    val q = startQuery(spark, w, s, limit, "open", 0L, work, phase, sink)
    val deadline = measuredEnd + w.latencyLimitMs + 1000L
    while (!sink.hasWindow(measuredEnd - W) && q.exception.isEmpty &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    val progress = q.recentProgress.toSeq
    val err = q.exception
    val secs = (System.currentTimeMillis() - base) / 1e3
    val heap = liveHeapMb()
    q.stop()
    log(f"$phase: ${progress.size} batches, $secs%.2f s after the schedule start")
    val measured = sink.rows.filter { case (_, r) => r.getLong(0) >= measuredStart && r.getLong(0) < measuredEnd }
    val expected = w.reference(s, limit).filter { case ((ws, _), _) => ws >= measuredStart && ws < measuredEnd }
    var c = check(w, measured, expected, (t, r) => t - w.creation(r) > w.latencyLimitMs)
    if (w == Q5) {
      // every bid scheduled in a measured window is counted exactly once
      val counted = measured.groupBy(_._2.getLong(0)).map { case (ws, rs) => ws -> rs.map(_._2.getLong(3)).sum }
      val bad = (measuredStart until measuredEnd by W).count(ws => counted.getOrElse(ws, 0L) != Q5.scheduledBids(s, ws))
      c = c.copy(other = c.other + bad)
    }
    (Phase(progress, sink, secs, heap), withRun(c, dropped(progress), err), measured.map { case (t, r) => t - w.creation(r) })
  }

  /** Direct `NexmarkGen` calls on one thread for the workload's slots;
    * median of five passes, ns per event.
    */
  def genNsPerEvent(w: StreamWorkload, seed: Long): Double = {
    val s = Schedule(seed, CapacityBase, w.rate)
    val limit = 9L * 20000L
    var sink = 0L
    val passes = (0 until 5).map { _ =>
      val t = System.nanoTime()
      w.entities.foreach { e =>
        StreamWorkload.ids(e, limit) { id =>
          sink += (e match {
            case "bids" => NexmarkGen.bid(s.cfg, id).auctionId
            case "persons" => NexmarkGen.person(s.cfg, id).name.length
            case _ => NexmarkGen.auction(s.cfg, id).descr.length
          })
        }
      }
      (System.nanoTime() - t).toDouble / w.events(0, limit)
    }
    if (sink == 42L) println("") // keeps the generated events live
    passes.sorted.apply(2)
  }

  /** Heap in use right after a full collection, MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def durations(ps: Seq[StreamingQueryProgress], key: String): Seq[Long] =
    ps.flatMap(p => Option(p.durationMs.get(key)).map(_.longValue))

  /** State-store layer of a phase, summed over operators per batch. */
  def stateLayer(ps: Seq[StreamingQueryProgress]): Map[String, Any] = {
    def perBatch(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ps.map(_.stateOperators.map(f).sum)
    val n = math.max(1, ps.size).toDouble
    Map(
      "state.operators" -> ps.map(_.stateOperators.length).maxOption.getOrElse(0),
      "state.rows_total_peak" -> perBatch(_.numRowsTotal).maxOption.getOrElse(0L),
      "state.memory_bytes_peak" -> perBatch(_.memoryUsedBytes).maxOption.getOrElse(0L),
      "state.commit_ms_per_batch" -> perBatch(_.commitTimeMs).sum / n,
      "state.update_ms_per_batch" -> perBatch(_.allUpdatesTimeMs).sum / n,
      "state.removal_ms_per_batch" -> perBatch(_.allRemovalsTimeMs).sum / n)
  }

  def dropped(ps: Seq[StreamingQueryProgress]): Long =
    ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = StreamWorkload(a.workload)
    var spark = session(Cores, a.work)
    log("session built")
    // untimed warm-up: a short capacity phase, checked like it
    val (_, warmCheck, _) = capacity(spark, w, a.seed, w.warmupBatches, w.capacityBatchIds, a.work, "warmup")
    val setupDone = System.currentTimeMillis()
    log("set-up done")
    val report = mutable.LinkedHashMap[String, Any]("setup_done_ms" -> setupDone)
    val windows = math.max(1, a.seconds / (StreamWorkload.WindowMs / 1000).toInt)
    val checks = mutable.LinkedHashMap[String, Any]("warmup" -> warmCheck.toMap)
    val sc = spark.sparkContext
    if (!a.trace) {
      // the open loop comes first: its warm-up window also finishes
      // warming the JIT for the capacity drains
      System.gc()
      val (open, openCheck, latency) = openLoop(spark, w, a.seed, windows, a.work, "open")
      checks("open") = openCheck.toMap
      report("latency_ms") = latency
      val caps = (1 to w.capacityDrains).map { i =>
        System.gc()
        val (cap, capCheck, n) = capacity(spark, w, a.seed, w.capacityBatches, w.capacityBatchIds, a.work, "capacity")
        checks(s"capacity$i") = capCheck.toMap
        (cap, n)
      }
      report("events") = caps.head._2
      report("drain_s") = caps.map(_._1.seconds).min
      report("live_heap_mb") = (open.liveHeapMb +: caps.map(_._1.liveHeapMb)).max
    } else {
      val tracer = new Tracer("perfbench.phase")
      def traced[T](body: => T): T = {
        sc.addSparkListener(tracer)
        try body finally { PerfbenchBus.drain(sc); sc.removeSparkListener(tracer) }
      }
      System.gc()
      val (open, openCheck, _) = traced(openLoop(spark, w, a.seed, windows, a.work, "open"))
      val backlog = Backlog.drain()
      System.gc()
      // traced drain first: JIT warming then favours the untraced one, so
      // the overhead is not understated
      val (capT, capTCheck, n) = traced(capacity(spark, w, a.seed, w.capacityBatches, w.capacityBatchIds, a.work, "capacity"))
      System.gc()
      val (cap, capCheck, _) = capacity(spark, w, a.seed, w.capacityBatches, w.capacityBatchIds, a.work, "untraced")
      checks("open") = openCheck.toMap
      checks("capacity") = capCheck.toMap
      checks("capacity_traced") = capTCheck.toMap
      val spans = tracer.spans("capacity", capT.progress) ++ tracer.spans("open", open.progress)
      report("spans") = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))
      report("self_ms") = Tracer.selfTimes(spans)
      val t = tracer.totalsOf("capacity")
      val ops = open.progress.filter(_.numInputRows > 0)
      report("raw") = Map(
        "backlog_events" -> backlog.map(_ * w.slotShare),
        "batch_duration_ms" -> durations(ops, "triggerExecution"),
        "batch_planning_ms" -> durations(ops, "queryPlanning"),
        "batch_add_batch_ms" -> durations(ops, "addBatch"),
        "batch_wal_commit_ms" -> durations(ops, "walCommit"),
        "batch_commit_offsets_ms" -> durations(ops, "commitOffsets"))
      val gen = genNsPerEvent(w, a.seed)
      // batch layers over a fixture generated from the seed
      val fixture = s"${a.work}/fixture"
      Fixture.write(spark, a.seed, fixture)
      val (tables, read) = BatchLayers.tables(spark, fixture)
      val written = Fixture.written(spark, fixture)
      checks("tables") = Check(written.size, 0, written.count { case (k, v) => read(k) != v }, 0, 0, 0, 0, 0).toMap
      val (kernels, kernelCheck) = BatchLayers.kernels(spark, fixture)
      checks("kernels") = kernelCheck.toMap
      spark.stop()
      // the JIT is warm: the single-threaded baseline drains without a warm-up
      spark = session(1, a.work)
      val (cap1, cap1Check, n1) = capacity(spark, w, a.seed, Local1Batches, w.capacityBatchIds, a.work, "local1")
      checks("local1") = cap1Check.toMap
      report("layers") = Map(
        "gen.ns_per_event" -> gen,
        "batch.count" -> capT.progress.size,
        "shuffle.bytes_per_event" -> t.shuffleBytes.toDouble / n,
        "shuffle.records_per_event" -> t.shuffleRecords.toDouble / n,
        "task.cpu_ms_per_kevent" -> t.cpuNs / 1e6 / (n / 1000.0),
        "task.gc_ms_per_kevent" -> t.gcMs / (n / 1000.0),
        "state.rows_dropped_by_watermark" -> (capTCheck.dropped + openCheck.dropped),
        "sink.results" -> capT.sink.rows.size,
        "events_per_s_local1" -> n1 / cap1.seconds,
        "trace.overhead_share" -> (capT.seconds - cap.seconds) / cap.seconds,
        "counters" -> Map("shuffle_records" -> t.shuffleRecords, "tasks" -> t.tasks)
      ) ++ stateLayer(capT.progress) ++ tables ++ kernels
    }
    report("checks") = checks
    report("peak_rss_kb") = peakRssKb()
    spark.stop()
    writeJson(a.report, report)
  }
}
