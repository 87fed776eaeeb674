package graft.nexmark

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.GraftSession
import graft.nexmark.sink.{BatchSink, LatencySink, Q5bCsvSink, Q8CsvSink}

/** The `NexmarkMain` flag table: every flag runs through `run`, every
  * streaming input's generator clock keeps pace with the one-second
  * trigger, every latency sink aggregates once per micro-batch, and no
  * flag leaves a session conf behind.
  */
class NexmarkMainSpec extends SparkSpec {
  import NexmarkMain._

  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  private def streamingFlags: Seq[(String, Streaming)] =
    Flags.toSeq.collect { case (f, s: Streaming) => f -> s }.sortBy(_._1)

  private def field(json: String, key: String): String =
    s""""$key":"?([^,"}]*)""".r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(fail(s"no $key in $json"))

  /** Data rows of the latency CSV a run wrote (0 if it wrote none). */
  private def csvRows(json: String): Int = {
    val p = Paths.get(field(json, "latencyCsv"))
    if (Files.exists(p)) Files.readAllLines(p).size - 1 else 0
  }

  test("every streaming input's event time advances one trigger interval per trigger") {
    for ((flag, s) <- streamingFlags; rpb <- Seq(1L, 8L, 1000L, 50001L); in <- s.inputs) {
      val cfg = genConfig(in, rpb, 0L)
      val advanceMs = NexmarkGen.eventTimestamp(cfg, in.rowsPerTrigger(rpb)) -
        NexmarkGen.eventTimestamp(cfg, 0L)
      assert(advanceMs == 1000L,
        s"$flag at rowsPerBatch $rpb: input ${in.entity} advances $advanceMs ms per 1 s trigger")
    }
  }

  test("each latency sink runs one Spark job per micro-batch") {
    import spark.implicits._
    val now = 1704067200000L
    val dir = Files.createTempDirectory("onejob")
    val q5 = Seq((now - 100L, now - 150L)).toDF("lastTimestamp", "lastIngestionTimestamp")
    val q8 = Seq((3L, now - 100L, now - 150L, -1L, -1L), (-3L, -1L, -1L, now - 200L, now - 250L))
      .toDF("personId", "personCreationTimestamp", "personIngestionTimestamp",
        "auctionCreationTimestamp", "auctionIngestionTimestamp")
    val sinks: Seq[(String, BatchSink, org.apache.spark.sql.DataFrame)] = Seq(
      ("LatencySink", new LatencySink(s"$dir/a.csv", "lastTimestamp", "lastIngestionTimestamp"), q5),
      ("Q5bCsvSink", new Q5bCsvSink(s"$dir/b.csv", "lastTimestamp", "lastIngestionTimestamp"), q5),
      ("Q8CsvSink", new Q8CsvSink(s"$dir/c.csv"), q8))
    // a fence job marks the end of each call: the listener bus delivers
    // events in order, so once the fence's start is seen every job the
    // call ran has been counted
    val jobs = new AtomicInteger
    val fenced = new AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.fence") != null)) fenced.set(true)
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // a micro-batch runs without adaptive execution; so does this call
      GraftSession.withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
        sinks.foreach { case (name, sink, batch) =>
          jobs.set(0); fenced.set(false)
          sink.recordBatch(batch, 0L)
          sc.setLocalProperty("graft.fence", "1")
          try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.fence", null)
          val deadline = System.currentTimeMillis() + 30000L
          while (!fenced.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
          assert(fenced.get, "fence job never reached the listener")
          assert(jobs.get == 1, s"$name ran ${jobs.get} jobs for one batch")
          sink.close()
        }
      }
    } finally sc.removeSparkListener(listener)
  }

  test("every streaming flag runs through run and reads format(\"nexmark\")") {
    for ((flag, _) <- streamingFlags if flag != "--q11" && flag != "--qxt") {
      val json = NexmarkMain.run(spark, flag, seconds = 2, rowsPerBatch = 100)
      assert(field(json, "flag") == flag)
      assert(field(json, "batches").toInt >= 0 && field(json, "rowsPerSecond").toDouble >= 0)
    }
    import scala.jdk.CollectionConverters._
    val rateSourced = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && new String(Files.readAllBytes(p)).contains("rate-micro-batch"))
      .toSeq
    assert(rateSourced.isEmpty, s"rate-micro-batch source in $rateSourced")
  }

  test("--qxt runs on RocksDB and leaves the provider conf as it found it") {
    val prior = spark.conf.getOption(Provider)
    val json = NexmarkMain.run(spark, "--qxt", seconds = 2, rowsPerBatch = 100)
    assert(field(json, "flag") == "--qxt")
    assert(spark.conf.getOption(Provider) == prior)
  }

  test("--q11 writes a latency row within its run: both inputs' clocks keep pace") {
    // 5 s windows under a 2 s watermark close after ~8 one-second triggers
    // when the person and the bid clocks advance together
    val json = NexmarkMain.run(spark, "--q11", seconds = 14, rowsPerBatch = 200)
    assert(csvRows(json) >= 1, s"no latency row in 14 s: $json")
  }

  test("every file-backed flavor returns rows; an unknown flag throws") {
    for (flag <- Flags.collect { case (f, _: FileFlavor) => f }.toSeq.sorted) {
      val json = NexmarkMain.run(spark, flag, seconds = 1, rowsPerBatch = 2000)
      assert(field(json, "rows").toLong > 0, json)
    }
    intercept[IllegalArgumentException](NexmarkMain.run(spark, "--nope", 1, 1))
  }
}
