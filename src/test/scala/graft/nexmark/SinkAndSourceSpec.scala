package graft.nexmark

import java.nio.file.{Files, Paths}
import graft.nexmark.codec.{BinaryCodec, TaggedCodec}
import graft.nexmark.sink.{LatencySink, Murmur3Partitioner, Q5bCsvSink, Q8CsvSink}

/** Coverage for the source/sink rows of SURVEY §2 that aren't exercised by
  * the query specs: file-backed binary frames (S5), the latency CSV
  * contract with an injectable clock (K1-K3), and the murmur3 Kafka
  * partitioner (K4).
  */
class SinkAndSourceSpec extends SparkSpec {
  val cfg = GenConfig()

  test("S5: binaryFile-sourced frames decode to the original bids") {
    import spark.implicits._
    val bids = NexmarkGen.bids(cfg, 600).toSeq
    val frames = BinaryCodec.frameAll(bids, BinaryCodec.bidsPerFrame)(BinaryCodec.encodeBids)
    val dir = Files.createTempDirectory("bidfiles")
    // two "subtask" files like bids_<subtask>.bin (NexmarkQuery5File.java:167)
    frames.grouped(2).zipWithIndex.foreach { case (fs, i) =>
      Files.write(Paths.get(dir.toString, s"bids_$i.bin"), fs.flatten.toArray)
    }
    val decoded = NexmarkSources.bidsFromFrames(
      spark.read.format("binaryFile").load(dir.toString)
        .select("content").as[Array[Byte]]
        .flatMap(NexmarkSources.sliceFrames),
      ingestionTs = 1L)
    val key = (b: Bid) => (b.timestamp, b.auctionId, b.personId, b.bid)
    assert(decoded.collect().toSeq.sortBy(key).map(key) == bids.sortBy(key).map(key))
  }

  test("K1-K3: latency CSV follows the measurement contract with a fixed clock") {
    import spark.implicits._
    val dir = Files.createTempDirectory("latency")
    val csv = s"$dir/lat.csv"
    val base = 1704067200000L
    // three rows: latencies 100, 200, and one over the threshold (discarded)
    val batch = Seq(
      (base - 100L, base - 150L),
      (base - 200L, base - 250L),
      (base - LatencySink.DefaultThresholdMs - 1L, base - 300L))
      .toDF("creation", "ingestion")
    new LatencySink(csv, "creation", "ingestion", now = () => base).recordBatch(batch, batchId = 7L)
    val lines = scala.io.Source.fromFile(csv).getLines().toSeq
    assert(lines.head == LatencySink.CsvHeader)
    val creation = lines(1).split(",")
    assert(creation(0) == "7" && creation(2) == "creationToSink")
    assert(creation(3) == "2")            // outlier discarded
    assert(creation(4) == "150.000")      // mean(100, 200)
    assert(creation(5) == "100" && creation(6) == "200")
    val flight = lines(2).split(",")
    assert(flight(2) == "flightTime" && flight(3) == "3") // 150/250/300 all kept
    assert(flight(4) == f"${(150 + 250 + 300) / 3.0}%.3f")
  }

  test("K4: murmur3 partitioner is deterministic, seeded, and well-spread") {
    val p1 = (0L until 10000L).map(Murmur3Partitioner.partitionFor(_, 32))
    val p2 = (0L until 10000L).map(Murmur3Partitioner.partitionFor(_, 32))
    assert(p1 == p2)
    assert(p1.forall(p => p >= 0 && p < 32))
    // all 32 partitions hit, no partition starved below half the fair share
    val counts = p1.groupBy(identity).view.mapValues(_.size)
    assert(counts.size == 32)
    assert(counts.values.min > 10000 / 32 / 2)
    // seed matters
    assert((0L until 100L).exists(k =>
      Murmur3Partitioner.murmur3_32(k, Murmur3Partitioner.Seed) !=
        Murmur3Partitioner.murmur3_32(k, 0)))
  }

  test("K1-K3: Q8 sink keeps 3 cumulative series, discriminates probes by id sign") {
    import spark.implicits._
    val dir = Files.createTempDirectory("q8sink")
    val csv = s"$dir/q8.csv"
    val base = 1704067200000L
    var clock = base
    // flushBytes=1: every appended row flushes (the 8 MiB policy knob)
    val sink = new Q8CsvSink(csv, now = () => clock, flushBytes = 1)
    def df(rows: Seq[(Long, Long, Long, Long, Long)]) =
      rows.toDF("personId", "personCreationTimestamp", "personIngestionTimestamp",
        "auctionCreationTimestamp", "auctionIngestionTimestamp")
    // batch 1: persons only (latencies 100, 200, one AT the threshold —
    // dropped, person series is strict <) → stats accumulate, NO row
    // (reference updateCSV runs on probe arrival only)
    sink.recordBatch(df(Seq(
      (10L, base - 100L, base - 150L, -1L, -1L),
      (11L, base - 200L, base - 250L, -1L, -1L),
      (12L, base - LatencySink.DefaultThresholdMs, base - 300L, -1L, -1L))), 0L)
    assert(!Files.exists(Paths.get(csv)), "no probe yet -> no CSV row")
    // batch 2: one more person (300) + one sign-marked probe (auction 500,
    // flight 600) → one row of RUNNING stats
    clock = base + 1000
    sink.recordBatch(df(Seq(
      (13L, clock - 300L, clock - 350L, -1L, -1L),
      (-5L, -1L, -1L, clock - 500L, clock - 600L))), 1L)
    val lines = scala.io.Source.fromFile(csv).getLines().toSeq
    assert(lines.head == sink.Header)
    val c = lines(1).split(",")
    assert(c(0) == "0" && c(1) == clock.toString)
    assert(c(2) == "3" && c(3) == "1" && c(4) == "1") // person/auction/flight N
    assert(c(5) == "200.0" && c(6) == "500.0" && c(7) == "600.0") // means
    assert(c(8) == "100.0" && c(11) == "300.0") // person min/max
    // close(): final updateCSV row + flush (reference close())
    sink.close()
    val afterClose = scala.io.Source.fromFile(csv).getLines().toSeq
    assert(afterClose.length == 3 && afterClose(2).split(",")(2) == "3")
  }

  test("K1-K3: Q5b sink throttles CSV rows to one per interval while stats accumulate") {
    import spark.implicits._
    val dir = Files.createTempDirectory("q5bsink")
    val csv = s"$dir/q5b.csv"
    val base = 1704067200000L
    var clock = base
    val sink = new Q5bCsvSink(csv, "creation", "ingestion",
      minRowIntervalMs = 5000L, now = () => clock, flushBytes = 1)
    def df(rows: Seq[(Long, Long)]) = rows.toDF("creation", "ingestion")
    sink.recordBatch(df(Seq((clock - 100L, clock - 150L))), 0L) // row 1
    clock += 1000
    sink.recordBatch(df(Seq((clock - 200L, clock - 250L),
                            (clock - 300L, clock - 350L))), 1L) // throttled
    assert(scala.io.Source.fromFile(csv).getLines().size == 2, "throttled batch wrote no row")
    clock += 6000
    sink.recordBatch(df(Seq((clock - 400L, clock - 450L))), 2L) // row 2
    val lines = scala.io.Source.fromFile(csv).getLines().toSeq
    assert(lines.head == sink.Header && lines.length == 3)
    // row 2 carries the throttled batch's samples too: cumulative N = 4
    assert(lines(1).split(",")(2) == "1")
    assert(lines(2).split(",")(2) == "4")
    assert(lines(2).split(",")(6) == "100.0") // bidMin across all batches
  }

  test("K1-K3: a fresh sink rotates a pre-existing CSV so each file is one monotone run") {
    import graft.nexmark.sink.CsvAppender
    val dir = Files.createTempDirectory("csvrotate")
    val csv = s"$dir/lat.csv"
    // run 1 writes two rows
    val a1 = new CsvAppender(csv, "h1,h2", flushBytes = 1)
    a1.append(Seq("1,100", "2,200")); a1.close()
    // "restart": a fresh appender (recreated sink, reset cumulative stats)
    // must NOT append non-monotone rows to the old file — it rotates it
    val a2 = new CsvAppender(csv, "h1,h2", flushBytes = 1)
    a2.append(Seq("1,50")); a2.close()
    val run2 = scala.io.Source.fromFile(csv).getLines().toSeq
    assert(run2 == Seq("h1,h2", "1,50"))
    val run1 = scala.io.Source.fromFile(s"$csv.1").getLines().toSeq
    assert(run1 == Seq("h1,h2", "1,100", "2,200"))
    // a third run rotates to the next free suffix, preserving both
    val a3 = new CsvAppender(csv, "h1,h2", flushBytes = 1)
    a3.append(Seq("9,900")); a3.close()
    assert(scala.io.Source.fromFile(s"$csv.2").getLines().toSeq == run2)
    assert(scala.io.Source.fromFile(csv).getLines().toSeq == Seq("h1,h2", "9,900"))
  }

  test("K4: reference partitioner port is byte-exact degenerate for ids < 2^32") {
    // the reference hashes only the HIGH 4 key bytes: every id < 2^32
    // hashes identically (the documented reason partitionFor diverges)
    val small = (0L until 1000L).map(Murmur3Partitioner.referencePartitionFor(_, 32))
    assert(small.toSet.size == 1)
    // ids with distinct high words spread across partitions
    val big = (0L until 1000L).map(k => Murmur3Partitioner.referencePartitionFor(k << 32, 32))
    assert(big.toSet.size > 16)
    assert(big.forall(p => p >= 0 && p < 32))
  }

  test("--q0: tagged partition files round-trip the 1:4:4 mix id-exact") {
    import spark.implicits._
    val events = (0 until 900).map(i => NexmarkGen.event(cfg, i.toLong))
    val dir = Files.createTempDirectory("q0")
    NexmarkSources.produceToPartitionFiles(events.toDS(), numPartitions = 4, dir.toString)
    // each partition file holds exactly its routed events, in production order
    events.groupBy(e => Murmur3Partitioner.partitionFor(e.key, 4)).foreach { case (part, es) =>
      val file = Files.readAllBytes(Paths.get(dir.toString, s"events_p$part.bin"))
      assert(TaggedCodec.sliceFramed(file).map(TaggedCodec.decode).toSeq == es, s"partition $part")
    }
    val decoded = spark.read.format("binaryFile").load(dir.toString)
      .select("content").as[Array[Byte]]
      .flatMap(c => TaggedCodec.sliceFramed(c).map(TaggedCodec.decode))
      .collect().toSeq
    assert(decoded.length == events.length)
    def ids(es: Seq[Event]) = (
      es.flatMap(_.person).map(_.personId).sorted,
      es.flatMap(_.auction).map(_.auctionId).sorted,
      es.flatMap(_.bid).map(b => (b.auctionId, b.personId, b.bid)).sorted)
    assert(ids(decoded) == ids(events))
    // the interleave is the reference's 1:4:4 person:auction:bid mix
    assert(events.count(_.person.isDefined) * 9 == events.length)
    assert(events.count(_.auction.isDefined) * 9 == events.length * 4)
  }

  test("S6: CM text file source parses whitespace-delimited trace lines") {
    val dir = Files.createTempDirectory("cm")
    val lines = (0 until 100).map(i =>
      s"${1704067200000L + i} ${i % 5} $i ${i % 9}  0 1 2 3  0.5 0.25 0.125")
    Files.write(Paths.get(dir.toString, "trace.txt"),
      (lines :+ "").mkString("\n").getBytes)
    val recs = NexmarkSources.cmRecords(spark, dir.toString).collect()
    assert(recs.length == 100)
    assert(recs.map(_.jobId).toSet == (0 until 5).map(_.toLong).toSet)
  }
}
