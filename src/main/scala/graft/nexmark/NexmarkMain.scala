package graft.nexmark

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.GraftSession
import graft.nexmark.codec.{BinaryCodec, TaggedCodec}
import graft.nexmark.queries.{NexmarkQueries, NexmarkStateful, NexmarkTws}
import graft.nexmark.sink.{BatchSink, LatencySink, Q5bCsvSink, Q8CsvSink}

/** Streaming harness mirroring the reference's CLI dispatch
  * (kernel/Main.java:31-63): one flag per query topology, read from the
  * `format("nexmark")` generator source and written to a latency CSV or
  * the noop sink. [[Flags]] is the one table of flags.
  *
  * Usage: runMain graft.nexmark.NexmarkMain --q5 [seconds] [rowsPerBatch]
  *
  * Streaming flags: --q5 --q5s --q8 --q8s --q8sliding --q8session --q11
  * --qx --qxt --q7 --sessions --q5b --q5bs --debug (s-suffixed = stateful
  * exact-timer port; plain = declarative; --q8sliding/--q8session = the
  * reference's window-type switch; --qxt = Spark 4 transformWithState
  * flavor on RocksDB state). Each runs for `seconds` of wall clock on a
  * one-second processing-time trigger, then stops — the Spark analog of
  * the reference's bounded `recordsToGenerate` sources. `rowsPerBatch`
  * is the number of events each of the `GraftSession.Cpus` generator
  * subtasks emits per trigger for each full-rate input; a person input
  * of a two-source flag emits 1/8 of it, and --q5b/--q5bs read persons at
  * 1/4 so their unified stream mixes persons, auctions and bids 1:4:4.
  *
  * File-backed batch flavors (no broker in this environment): --q8fc
  * --q5fc --q11fc --cm, and --q0 — the generator pipeline
  * (GeneratorPipeline.java:31-208) as a two-phase flow: events → tagged
  * frames + murmur3 partition files (the topic analog), then read back and
  * consumed by the Q5b topology. They write `rowsPerBatch` events.
  */
object NexmarkMain {

  /** One generated input of a streaming flag: `entity` at `rowsPerBatch /
    * divisor` events per trigger per subtask. */
  private[nexmark] final case class Input(entity: String, divisor: Long = 1L) {
    def rowsPerTrigger(rowsPerBatch: Long): Long = math.max(1L, rowsPerBatch / divisor)
  }

  /** The generator config of input `in`: `eventsPerSecond` is its rows per
    * trigger per subtask, so its event-time clock advances one second per
    * one-second trigger, as every other input's does. A multi-input
    * query's watermark, the minimum over its sources, then never waits on
    * the smaller stream. */
  private[nexmark] def genConfig(in: Input, rowsPerBatch: Long, baseTimestamp: Long): GenConfig =
    GenConfig(baseTimestamp = baseTimestamp, eventsPerSecond = in.rowsPerTrigger(rowsPerBatch))

  /** The streaming reads of a flag's declared inputs, typed. */
  private[nexmark] final class Streams(spark: SparkSession, byEntity: Map[String, DataFrame]) {
    import spark.implicits._
    private def read(entity: String): DataFrame = byEntity.getOrElse(entity,
      throw new IllegalArgumentException(s"input '$entity' is not declared"))
    def persons: Dataset[Person] = read("persons").as[Person]
    def auctions: Dataset[Auction] = read("auctions").as[Auction]
    def bids: Dataset[Bid] = read("bids").as[Bid]
    /** S7: the unified stream, the union of the three entity streams. */
    def events: Dataset[Event] =
      persons.map(Event.of(_)).union(auctions.map(Event.of(_))).union(bids.map(Event.of(_)))
  }

  private[nexmark] sealed trait Flag

  /** A streaming flag: its inputs, its query over their streams, the sink
    * its output feeds (`None`: noop) given the CSV path, and the session
    * confs it runs under. */
  private[nexmark] final case class Streaming(
      inputs: Seq[Input], query: Streams => DataFrame,
      sink: Option[String => BatchSink] = None,
      confs: Seq[(String, String)] = Nil) extends Flag

  /** A file-backed batch flavor: given (session, generator config, rows,
    * work directory, CSV path), it writes its input files, reads them back,
    * runs its query and returns the query's row count. */
  private[nexmark] final case class FileFlavor(
      run: (SparkSession, GenConfig, Int, String, String) => Long) extends Flag

  private val Persons8 = Input("persons", 8)
  private val Auctions = Input("auctions")
  private val Bids = Input("bids")
  private val Events = Seq(Input("persons", 4), Auctions, Bids)

  private def latency(creationCol: String, ingestionCol: String) =
    Some((csv: String) => new LatencySink(csv, creationCol, ingestionCol): BatchSink)
  private val PersonLatency = latency("personCreation", "personIngestion")
  // reference Q5b sink contract: cumulative stats, one row per >=5 s,
  // 8 MiB flush (NexmarkQuery5b.java:219-365)
  private val Q5bLatency =
    Some((csv: String) => new Q5bCsvSink(csv, "lastTimestamp", "lastIngestionTimestamp"): BatchSink)

  private[nexmark] val Flags: Map[String, Flag] = Map(
    "--q5" -> Streaming(Seq(Bids), s => NexmarkQueries.q5HotAuctions(s.bids, "5 seconds"),
      latency("lastTimestamp", "lastIngestionTimestamp")),
    "--q5s" -> Streaming(Seq(Bids), s => NexmarkStateful.q5Stateful(s.bids, 10000L).toDF, Q5bLatency),
    "--q8" -> Streaming(Seq(Persons8, Auctions),
      s => NexmarkQueries.q8NewUsers(s.persons, s.auctions, "10 seconds"), PersonLatency),
    // window-type 1 (NexmarkQuery8.java:546-548)
    "--q8sliding" -> Streaming(Seq(Persons8, Auctions),
      s => NexmarkQueries.q8NewUsersSliding(s.persons, s.auctions, "10 seconds", "5 seconds"),
      PersonLatency),
    // window-type 2 (NexmarkQuery8.java:549-553)
    "--q8session" -> Streaming(Seq(Persons8, Auctions),
      s => NexmarkQueries.q8NewUsersSession(s.persons, s.auctions, "10 seconds"), PersonLatency),
    // Query8Output schema: 3-series sign-discriminating sink
    // (NexmarkQuery8.java:245-414)
    "--q8s" -> Streaming(Seq(Persons8, Auctions),
      s => NexmarkStateful.q8Stateful(s.persons, s.auctions).toDF,
      Some((csv: String) => new Q8CsvSink(csv))),
    "--q11" -> Streaming(Seq(Persons8, Bids),
      s => NexmarkQueries.q11BidderActivity(s.persons, s.bids, "5 seconds"),
      latency("lastBidTimestamp", "lastBidTimestamp")),
    "--qx" -> Streaming(Seq(Bids, Auctions), s => NexmarkStateful.qxStateful(s.bids, s.auctions).toDF),
    // transformWithState needs the RocksDB state store provider
    "--qxt" -> Streaming(Seq(Bids, Auctions), s => NexmarkTws.qxWinningBidsTws(s.bids, s.auctions).toDF,
      confs = Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")),
    "--q7" -> Streaming(Seq(Bids), s => NexmarkQueries.q7HighestBid(s.bids, "5 seconds")),
    "--sessions" -> Streaming(Seq(Bids), s => NexmarkQueries.sessions(s.bids, "60 seconds")),
    "--q5b" -> Streaming(Events,
      s => NexmarkQueries.q5HotAuctions(NexmarkQueries.bidsFromEvents(s.events), "10 seconds"),
      Q5bLatency),
    // processing-time timer flavor (NexmarkQuery5b.java:204)
    "--q5bs" -> Streaming(Events,
      s => NexmarkStateful.q5bStateful(NexmarkQueries.bidsFromEvents(s.events), 2000L).toDF,
      Q5bLatency),
    // persons → noop (ingest throughput, Main.java --debug)
    "--debug" -> Streaming(Seq(Input("persons")), s => s.persons.toDF),
    // NexmarkQuery8File.java:53 semantics over files
    "--q8fc" -> FileFlavor { (spark, cfg, rows, dir, _) =>
      NexmarkQueries.q8NewUsers(personsViaFile(spark, dir, cfg, rows / 8),
        auctionsViaFile(spark, dir, cfg, rows), "10 seconds").count()
    },
    // NexmarkQuery11File.java:60-457 semantics over files: the declarative
    // activity join, and the JoinUDF stateful port feeding the 3-series
    // Query8 latency sink
    "--q11fc" -> FileFlavor { (spark, cfg, rows, dir, csv) =>
      val p = personsViaFile(spark, dir, cfg, rows / 8)
      val b = bidsViaFile(spark, dir, cfg, rows)
      val declarative = NexmarkQueries.q11BidderActivity(p, b, "5 seconds").count()
      val sink = new Q8CsvSink(csv)
      try sink.recordBatch(NexmarkStateful.q11Stateful(p, b, sampleEvery = 1000L).toDF, 0L)
      finally sink.close()
      declarative
    },
    // NexmarkQuery5File.java:70 semantics over files
    "--q5fc" -> FileFlavor { (spark, cfg, rows, dir, _) =>
      NexmarkQueries.q5HotAuctions(bidsViaFile(spark, dir, cfg, rows), "10 seconds").count()
    },
    // GeneratorPipeline.java:31-208, broker-less: phase 1 produces the 1:4:4
    // interleaved events to one file per topic partition; phase 2 reads the
    // files back, decodes, and runs the Q5b topology — the reference's only
    // multi-job flow (NexmarkSuite.java:256-282)
    "--q0" -> FileFlavor { (spark, cfg, rows, dir, _) =>
      import spark.implicits._
      NexmarkSources.produceToPartitionFiles(
        spark.range(rows.toLong).map(NexmarkGen.event(cfg, _)), numPartitions = 4, dir)
      val ev = spark.read.format("binaryFile").option("pathGlobFilter", "events_p*.bin").load(dir)
        .select("content").as[Array[Byte]]
        .flatMap(c => TaggedCodec.sliceFramed(c).map(TaggedCodec.decode))
      NexmarkQueries.q5HotAuctions(NexmarkQueries.bidsFromEvents(ev), "10 seconds").count()
    },
    // cm/CM.java:86 over a text trace
    "--cm" -> FileFlavor { (spark, cfg, rows, dir, _) =>
      val lines = (0 until rows).map(i =>
        s"${cfg.baseTimestamp + i * 37L} ${i % 1000} $i ${i % 13} 0 1 2 3 0.5 0.25 0.125")
      Files.write(Paths.get(dir, "trace.txt"), lines.mkString("\n").getBytes)
      NexmarkQueries.cmWindowedSum(NexmarkSources.cmRecords(spark, s"$dir/trace.txt")).count()
    })

  /** Write `records` as 8 KiB frames to `<dir>/<name>_0.bin` and read them
    * back through the file source, decoded with the read's wall clock as
    * ingestion time — the mmap file sources' round trip
    * (NexmarkQuery8File.java:156-231). */
  private def viaFrameFile[T, R](spark: SparkSession, dir: String, name: String, records: Seq[T],
                                 perFrame: Int, encode: (Seq[T], Long) => Array[Byte])
                                (decode: (Dataset[Array[Byte]], Long) => Dataset[R]): Dataset[R] = {
    import spark.implicits._
    Files.write(Paths.get(dir, s"${name}_0.bin"),
      BinaryCodec.frameAll(records, perFrame)(encode).flatten.toArray)
    decode(spark.read.format("binaryFile").option("pathGlobFilter", s"${name}_*.bin").load(dir)
      .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames), System.currentTimeMillis())
  }
  private def personsViaFile(spark: SparkSession, dir: String, cfg: GenConfig, n: Int) =
    viaFrameFile(spark, dir, "persons", NexmarkGen.persons(cfg, n).map { p =>
      val name = p.name.split(" ")
      BinaryCodec.RawPerson(p.personId, name(0), name(1), "mail.test", p.city, p.country,
        0L, 0L, 1, 2, 3, 0, p.timestamp)
    }.toSeq, BinaryCodec.personsPerFrame, BinaryCodec.encodePersons)(NexmarkSources.personsFromFrames)
  private def auctionsViaFile(spark: SparkSession, dir: String, cfg: GenConfig, n: Int) =
    viaFrameFile(spark, dir, "auctions", NexmarkGen.auctions(cfg, n).toSeq,
      BinaryCodec.auctionsPerFrame, BinaryCodec.encodeAuctions)(NexmarkSources.auctionsFromFrames)
  private def bidsViaFile(spark: SparkSession, dir: String, cfg: GenConfig, n: Int) =
    viaFrameFile(spark, dir, "bids", NexmarkGen.bids(cfg, n).toSeq,
      BinaryCodec.bidsPerFrame, BinaryCodec.encodeBids)(NexmarkSources.bidsFromFrames)

  /** Run `flag` on `spark` and return its JSON result line. A streaming
    * flag runs `seconds` of wall clock; a file flavor writes `rowsPerBatch`
    * events. Event time is anchored at the run's wall clock (the reference
    * stamps System.currentTimeMillis), so latency samples fall under the
    * sinks' discard thresholds. */
  def run(spark: SparkSession, flag: String, seconds: Int, rowsPerBatch: Int): String = {
    val dir = Files.createTempDirectory("nexmark").toString
    val csv = s"$dir/latency.csv"
    val base = System.currentTimeMillis()
    Flags.getOrElse(flag, throw new IllegalArgumentException(
      s"unknown flag $flag (flags: ${Flags.keys.toSeq.sorted.mkString(" ")})")) match {
      case FileFlavor(body) =>
        val t0 = System.nanoTime()
        val n = body(spark, GenConfig(baseTimestamp = base, eventsPerSecond = rowsPerBatch.toLong),
          rowsPerBatch, dir, csv)
        s"""{"flag":"$flag","rows":$n,"sec":${(System.nanoTime() - t0) / 1e9},"latencyCsv":"$csv"}"""
      case Streaming(inputs, query, sinkFor, confs) => GraftSession.withConf(spark)(confs: _*) {
        val streams = new Streams(spark, inputs.map { in =>
          val perTrigger = in.rowsPerTrigger(rowsPerBatch)
          in.entity -> NexmarkSources.entityStreamDsv2(spark, in.entity,
            genConfig(in, rowsPerBatch, base), GraftSession.Cpus,
            rows = perTrigger * seconds * 10, rowsPerBatch = perTrigger)
        }.toMap)
        val result = query(streams)
        val ckpt = s"$dir/ckpt"
        val sink = sinkFor.map(_(csv))
        val writer = sink.fold(result.writeStream.format("noop")
          .option("checkpointLocation", ckpt).outputMode("append"))(LatencySink.attach(result, _, ckpt))
        val q = writer.trigger(Trigger.ProcessingTime("1 second")).start()
        try q.awaitTermination(seconds * 1000L)
        finally { q.stop(); sink.foreach(_.close()) }
        s"""{"flag":"$flag","runSeconds":$seconds,"batches":${q.recentProgress.length},""" +
          s""""rowsPerSecond":${q.recentProgress.map(_.processedRowsPerSecond).lastOption.getOrElse(0.0)},""" +
          s""""latencyCsv":"$csv"}"""
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try println(run(spark, args.headOption.getOrElse("--q5"),
      args.lift(1).map(_.toInt).getOrElse(10), args.lift(2).map(_.toInt).getOrElse(50000)))
    finally spark.stop()
  }
}
