package graft.nexmark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.nexmark.queries.{NexmarkQueries, NexmarkStateful}
import graft.nexmark.sink.LatencySink

/** Streaming harness mirroring the reference's CLI dispatch
  * (kernel/Main.java:31-63): one flag per query topology, rate-based
  * generator sources, latency-CSV or noop sinks.
  *
  * Usage: runMain graft.nexmark.NexmarkMain --q5 [seconds] [rowsPerBatch]
  * Flags: --q5 --q5s --q8 --q8s --q8sliding --q8session --q11 --qx --qxt
  * --q7 --sessions --q5b --q5bs --debug (s-suffixed = stateful
  * exact-timer port; plain = declarative; --q8sliding/--q8session = the
  * reference's window-type switch; --qxt = Spark 4 transformWithState
  * flavor on RocksDB state).
  * File-backed batch flavors (no broker in this environment): --q8fc
  * --q5fc --q11fc --cm, and --q0 — the generator pipeline
  * (GeneratorPipeline.java:31-208) as a two-phase flow: events → tagged
  * frames + murmur3 partition files (the topic analog), then read back and
  * consumed by the Q5b topology.
  * Each run executes for a bounded wall-clock window then stops — the
  * Spark analog of the reference's bounded `recordsToGenerate` sources.
  */
object NexmarkMain {

  def main(args: Array[String]): Unit = {
    val flag = args.headOption.getOrElse("--q5")
    val runSeconds = args.lift(1).map(_.toInt).getOrElse(10)
    val rowsPerBatch = args.lift(2).map(_.toInt).getOrElse(50000)

    val spark = graft.GraftSession()
    import spark.implicits._

    // anchor event time at the run's wall clock (the reference stamps
    // System.currentTimeMillis) so latency samples fall under the sink's
    // 10-minute discard threshold; tests use the fixed default base instead
    val cfg = GenConfig(baseTimestamp = System.currentTimeMillis(),
                        eventsPerSecond = rowsPerBatch.toLong)
    val outDir = java.nio.file.Files.createTempDirectory("nexmark").toString
    def ckpt(n: String) = s"$outDir/ckpt-$n"
    val csv = s"$outDir/latency.csv"

    // file-backed batch flavors (--q8fc / --q5fc mmap-file analog, --cm):
    // write generator frames / trace lines to files, read them back through
    // the real file sources, run the query, print one JSON line, exit.
    if (flag == "--q8fc" || flag == "--q5fc" || flag == "--q11fc" ||
        flag == "--q0" || flag == "--cm") {
      import graft.nexmark.codec.{BinaryCodec, TaggedCodec}
      import graft.nexmark.sink.{Murmur3Partitioner, Q8CsvSink}
      val dir = java.nio.file.Files.createTempDirectory("nexmarkfc")
      val t0 = System.nanoTime()
      val n = flag match {
        case "--q8fc" => // NexmarkQuery8File.java:53 semantics over files
          val persons = NexmarkGen.persons(cfg, rowsPerBatch / 8).toSeq.map(p =>
            BinaryCodec.RawPerson(p.personId, p.name.split(" ")(0), p.name.split(" ")(1),
              "mail.test", p.city, p.country, 0L, 0L, 1, 2, 3, 0, p.timestamp))
          val pFrames = BinaryCodec.frameAll(persons, BinaryCodec.personsPerFrame)(BinaryCodec.encodePersons)
          java.nio.file.Files.write(dir.resolve("persons_0.bin"), pFrames.flatten.toArray)
          val auctions = NexmarkGen.auctions(cfg, rowsPerBatch).toSeq
          val aFrames = BinaryCodec.frameAll(auctions, BinaryCodec.auctionsPerFrame)(BinaryCodec.encodeAuctions)
          java.nio.file.Files.write(dir.resolve("auctions_0.bin"), aFrames.flatten.toArray)
          val now = System.currentTimeMillis()
          val p = NexmarkSources.personsFromFrames(
            spark.read.format("binaryFile").load(s"$dir/persons_*.bin")
              .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames), now)
          val a = NexmarkSources.auctionsFromFrames(
            spark.read.format("binaryFile").load(s"$dir/auctions_*.bin")
              .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames), now)
          NexmarkQueries.q8NewUsers(p, a, "10 seconds").count()
        case "--q11fc" => // NexmarkQuery11File.java:60-457 semantics over files
          // persons + bids binary files through the real frame codecs, then
          // both Q11 flavors: the declarative activity join and the
          // JoinUDF stateful port feeding the 3-series Query8 latency sink.
          val persons = NexmarkGen.persons(cfg, rowsPerBatch / 8).toSeq.map(p =>
            BinaryCodec.RawPerson(p.personId, p.name.split(" ")(0), p.name.split(" ")(1),
              "mail.test", p.city, p.country, 0L, 0L, 1, 2, 3, 0, p.timestamp))
          val pFrames = BinaryCodec.frameAll(persons, BinaryCodec.personsPerFrame)(BinaryCodec.encodePersons)
          java.nio.file.Files.write(dir.resolve("persons_0.bin"), pFrames.flatten.toArray)
          val bids = NexmarkGen.bids(cfg, rowsPerBatch).toSeq
          val bFrames = BinaryCodec.frameAll(bids, BinaryCodec.bidsPerFrame)(BinaryCodec.encodeBids)
          java.nio.file.Files.write(dir.resolve("bids_0.bin"), bFrames.flatten.toArray)
          val now = System.currentTimeMillis()
          val p = NexmarkSources.personsFromFrames(
            spark.read.format("binaryFile").load(s"$dir/persons_*.bin")
              .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames), now)
          val b = NexmarkSources.bidsFromFrames(
            spark.read.format("binaryFile").load(s"$dir/bids_*.bin")
              .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames), now)
          val declarative = NexmarkQueries.q11BidderActivity(p, b, "5 seconds").count()
          val sink = new Q8CsvSink(csv)
          sink.recordBatch(NexmarkStateful.q11Stateful(p, b, sampleEvery = 1000L).toDF, 0L)
          sink.close()
          declarative
        case "--q0" => // GeneratorPipeline.java:31-208, broker-less analog:
          // phase 1 (producer): a DISTRIBUTED Spark job — 1:4:4 interleaved
          // events → tagged length-prefixed records, with the topic
          // partition computed by the native `murmur3_partition` expression
          // in the projection (plan-auditable codegen routing, SURVEY
          // §9.8.3; only the byte codec runs in a lambda), shuffled on the
          // partition column and written one file per "topic partition";
          // phase 2 (consumer): read the partition files back, decode, run
          // the Q5b topology — the reference's only multi-job flow
          // (NexmarkSuite.java:256-282).
          val numPartitions = 4
          val framed = spark.range(rowsPerBatch.toLong)
            .as[Long]
            .map { i => val e = NexmarkGen.event(cfg, i); (i, TaggedCodec.encodeFramed(e), e.key) }
            .toDF("i", "frame", "k")
            .withColumn("part",
              org.apache.spark.sql.functions.call_function("murmur3_partition",
                org.apache.spark.sql.functions.col("k"),
                org.apache.spark.sql.functions.lit(numPartitions)))
          val producerPlan = framed.queryExecution.executedPlan.toString
          require(producerPlan.contains("murmur3_partition"),
            s"producer routing must be a plan-level projection:\n$producerPlan")
          val outFileDir = dir.toString // Path is not serializable; String is
          framed
            .repartition(numPartitions, org.apache.spark.sql.functions.col("part"))
            .sortWithinPartitions("part", "i") // keep production order per topic partition
            .select("part", "frame")
            .as[(Int, Array[Byte])]
            .foreachPartition { it: Iterator[(Int, Array[Byte])] =>
              // a task sees whole part groups (part is the shuffle key);
              // hash placement may co-locate several parts in one task
              val byPart = scala.collection.mutable.LinkedHashMap[Int, java.io.ByteArrayOutputStream]()
              it.foreach { case (p, f) =>
                byPart.getOrElseUpdate(p, new java.io.ByteArrayOutputStream()).write(f)
              }
              byPart.foreach { case (p, bos) =>
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(outFileDir, s"events_p$p.bin"), bos.toByteArray)
              }
            }
          val ev = spark.read.format("binaryFile").load(s"$dir/events_p*.bin")
            .select("content").as[Array[Byte]]
            .flatMap(c => TaggedCodec.sliceFramed(c).map(TaggedCodec.decode))
          NexmarkQueries.q5HotAuctions(
            NexmarkQueries.bidsFromEvents(ev), "10 seconds").count()
        case "--q5fc" => // NexmarkQuery5File.java:70 semantics over files
          val bids = NexmarkGen.bids(cfg, rowsPerBatch).toSeq
          val frames = BinaryCodec.frameAll(bids, BinaryCodec.bidsPerFrame)(BinaryCodec.encodeBids)
          java.nio.file.Files.write(dir.resolve("bids_0.bin"), frames.flatten.toArray)
          val b = NexmarkSources.bidsFromFrames(
            spark.read.format("binaryFile").load(s"$dir/bids_*.bin")
              .select("content").as[Array[Byte]].flatMap(NexmarkSources.sliceFrames),
            System.currentTimeMillis())
          NexmarkQueries.q5HotAuctions(b, "10 seconds").count()
        case _ => // cm/CM.java:86 over a text trace
          val lines = (0 until rowsPerBatch).map(i =>
            s"${cfg.baseTimestamp + i * 37L} ${i % 1000} $i ${i % 13} 0 1 2 3 0.5 0.25 0.125")
          java.nio.file.Files.write(dir.resolve("trace.txt"), lines.mkString("\n").getBytes)
          NexmarkQueries.cmWindowedSum(NexmarkSources.cmRecords(spark, s"$dir/trace.txt")).count()
      }
      println(s"""{"flag":"$flag","rows":$n,"sec":${(System.nanoTime() - t0) / 1e9},"latencyCsv":"$csv"}""")
      spark.stop()
      return
    }

    val result: DataFrame = flag match {
      case "--q5" => // DSv2 source: one strided generator per subtask
        NexmarkQueries.q5HotAuctions(
          NexmarkSources.bidStreamDsv2(spark, cfg,
            parallelism = graft.GraftSession.Cpus,
            rows = rowsPerBatch.toLong * runSeconds * 10,
            rowsPerBatch = rowsPerBatch.toLong), "5 seconds")
      case "--q5s" =>
        NexmarkStateful.q5Stateful(
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch), 10000L).toDF
      case "--q8" =>
        NexmarkQueries.q8NewUsers(
          NexmarkSources.personStream(spark, cfg, rowsPerBatch / 8),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch), "10 seconds")
      case "--q8sliding" => // window-type 1 (NexmarkQuery8.java:546-548)
        NexmarkQueries.q8NewUsersSliding(
          NexmarkSources.personStream(spark, cfg, rowsPerBatch / 8),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch),
          "10 seconds", "5 seconds")
      case "--q8session" => // window-type 2 (NexmarkQuery8.java:549-553)
        NexmarkQueries.q8NewUsersSession(
          NexmarkSources.personStream(spark, cfg, rowsPerBatch / 8),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch), "10 seconds")
      case "--q8s" =>
        NexmarkStateful.q8Stateful(
          NexmarkSources.personStream(spark, cfg, rowsPerBatch / 8),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch)).toDF
      case "--q11" =>
        NexmarkQueries.q11BidderActivity(
          NexmarkSources.personStream(spark, cfg, rowsPerBatch / 8),
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch), "5 seconds")
      case "--qx" =>
        NexmarkStateful.qxStateful(
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch)).toDF
      case "--qxt" => // transformWithState flavor (needs RocksDB provider)
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        graft.nexmark.queries.NexmarkTws.qxWinningBidsTws(
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch),
          NexmarkSources.auctionStream(spark, cfg, rowsPerBatch)).toDF
      case "--q7" =>
        NexmarkQueries.q7HighestBid(
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch), "5 seconds")
      case "--sessions" =>
        NexmarkQueries.sessions(
          NexmarkSources.bidStream(spark, cfg, rowsPerBatch), "60 seconds")
      case "--q5b" =>
        NexmarkQueries.q5HotAuctions(
          NexmarkQueries.bidsFromEvents(
            NexmarkSources.eventStream(spark, cfg, rowsPerBatch)), "10 seconds")
      case "--q5bs" => // processing-time timer flavor (NexmarkQuery5b.java:204)
        NexmarkStateful.q5bStateful(
          NexmarkQueries.bidsFromEvents(
            NexmarkSources.eventStream(spark, cfg, rowsPerBatch)), 2000L).toDF
      case "--debug" => // persons → noop (ingest throughput, Main.java --debug)
        NexmarkSources.personStream(spark, cfg, rowsPerBatch).toDF
      case other => sys.error(s"unknown flag $other")
    }

    var closeSink: () => Unit = () => ()
    val writer = flag match {
      case "--q5" =>
        LatencySink.writeLatencyCsv(result, csv, "lastTimestamp",
          "lastIngestionTimestamp", ckpt(flag))
      case "--q5b" | "--q5bs" | "--q5s" =>
        // reference Q5b sink contract: cumulative stats, one row per >=5 s,
        // 8 MiB flush (NexmarkQuery5b.java:219-365)
        val (w, sink) = LatencySink.writeQ5bLatencyCsv(result, csv, ckpt(flag),
          "lastTimestamp", "lastIngestionTimestamp")
        closeSink = sink.close
        w
      case "--q8s" => // Query8Output schema: 3-series sign-discriminating
        // sink (NexmarkQuery8.java:245-414)
        val (w, sink) = LatencySink.writeQ8LatencyCsv(result, csv, ckpt(flag))
        closeSink = sink.close
        w
      case "--q8" | "--q11" | "--q8sliding" | "--q8session" =>
        val (c, i) = flag match {
          case "--q11" => ("lastBidTimestamp", "lastBidTimestamp")
          case _ => ("personCreation", "personIngestion")
        }
        LatencySink.writeLatencyCsv(result, csv, c, i, ckpt(flag))
      case _ =>
        result.writeStream.format("noop")
          .option("checkpointLocation", ckpt(flag)).outputMode("append")
    }

    val query = writer.trigger(Trigger.ProcessingTime("1 second")).start()
    query.awaitTermination(runSeconds * 1000L)
    query.stop()
    closeSink()
    println(s"""{"flag":"$flag","runSeconds":$runSeconds,"batches":${query.recentProgress.length},""" +
      s""""rowsPerSecond":${query.recentProgress.map(_.processedRowsPerSecond).lastOption.getOrElse(0.0)},""" +
      s""""latencyCsv":"$csv"}""")
    spark.stop()
  }
}
