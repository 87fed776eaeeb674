package graft.nexmark

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.nexmark.codec.TaggedCodec
import graft.nexmark.queries.NexmarkQueries
import graft.nexmark.sink.Murmur3Partitioner

/** The generator→Kafka→Q5b multi-job pipeline (`--q0` producer +
  * `--q5b` consumer, reference GeneratorPipeline.java:182-208 →
  * NexmarkQuery5b/NexmarkQuery5b.java:119-145), composed end to end
  * through the only durable medium this sandbox offers.
  *
  * A live broker hop is permanently environment-blocked here (SURVEY §8:
  * ZERO Kafka jars on the box, offline resolution), so the broker is
  * replaced by its storage model: one append-only log file per topic
  * partition, records stored in production order. Everything else is the
  * production path, not a spec reimplementation:
  *   - the producer projection is [[NexmarkSources.keyedForProduce]] —
  *     the same key/value/partition DataFrame `--q0`'s distributed
  *     producer ([[NexmarkSources.produceToPartitionFiles]]) writes, with
  *     the routing computed by the native codegen `murmur3_partition`
  *     expression in the plan;
  *   - partition placement is asserted byte-exact against the scalar
  *     [[Murmur3Partitioner.partitionFor]] port for every record;
  *   - the consumer is a LIVE `readStream` (file-stream source over the
  *     partition logs, one micro-batch per log to force genuine
  *     multi-batch execution) → [[TaggedCodec.decode]] (S4) →
  *     the `--q5b` topology (unified-topic bid filter + windowed agg);
  *   - stream output must equal the batch run of the same topology over
  *     the same logs, restricted to windows the final watermark closed —
  *     the same final-watermark argument StreamingBench's oracles use.
  */
class BrokerlessPipelineSpec extends SparkSpec {

  private val NumPartitions = 4
  private val NumEvents = 3600
  // eps=10 → 100 ms between consecutive events: a 360 s event-time span,
  // so many 5 s windows close mid-stream and append-mode emission is
  // genuinely watermark-driven
  private val cfg = GenConfig(eventsPerSecond = 10L)

  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  test("q0→q5b: produce to partition logs, live-stream consume, stream == batch") {
    import spark.implicits._
    val events = (0 until NumEvents).map(i => NexmarkGen.event(cfg, i.toLong))

    // ---- producer phase (K4): the production projection, plan-audited ----
    val keyed = NexmarkSources.keyedForProduce(events.toDS(), NumPartitions)
    assert(keyed.queryExecution.executedPlan.toString.contains("murmur3_partition"),
      "producer routing must be the native murmur3_partition expression in the plan")
    // driver-side grouping into time-ordered segments below preserves
    // production order per partition (what Kafka's log guarantees); the
    // distributed one-file-per-partition write, produceToPartitionFiles,
    // is run by SinkAndSourceSpec's --q0 test
    val produced = keyed.collect()
    assert(produced.length == NumEvents)

    // byte-exact routing + key layout vs the ported partitioner
    produced.foreach { r =>
      val key = r.getAs[Array[Byte]]("key")
      assert(key.length == 8, "message key must be the 8-byte BE partition key")
      val k = java.nio.ByteBuffer.wrap(key).getLong
      val expected = Murmur3Partitioner.partitionFor(k, NumPartitions)
      assert(r.getAs[Int]("partition") == expected,
        s"partition mismatch for key $k")
      assert(TaggedCodec.decode(r.getAs[Array[Byte]]("value")).key == k,
        "value bytes must decode to an event with the same partition key")
    }
    assert(produced.map(_.getAs[Int]("partition")).distinct.length == NumPartitions,
      "fixture must actually spread across all topic partitions")

    // ---- the "broker": per-partition logs split into time-ordered
    // SEGMENTS (Kafka's own log-segment model). A real consumer advances
    // ALL partitions together per poll; slicing micro-batches by
    // partition instead would deliver partitions 2..N entirely below the
    // watermark batch 1 advanced and drop them as late (observed when
    // this spec fed one whole partition per trigger). Segment s of every
    // partition shares one mtime tick so the file-stream source admits
    // the segment row-for-row like a poll across all partitions.
    val dir = Files.createTempDirectory("brokerless")
    val Segments = 3
    val segLen = (NumEvents + Segments - 1) / Segments
    val base = System.currentTimeMillis() - 60000L
    // segment = contiguous GLOBAL event-id range (event time is affine in
    // the id, so segments are time-ordered); within a segment, group by
    // topic partition in production order
    produced.zipWithIndex
      .groupBy { case (_, i) => i / segLen }
      .foreach { case (s, segRows) =>
        segRows.groupBy { case (r, _) => r.getAs[Int]("partition") }
          .foreach { case (part, rows) =>
            val bos = new java.io.ByteArrayOutputStream()
            rows.sortBy(_._2).foreach { case (r, _) =>
              val v = r.getAs[Array[Byte]]("value")
              bos.write(java.nio.ByteBuffer.allocate(4).putInt(v.length).array())
              bos.write(v)
            }
            val p = Paths.get(dir.toString, s"events_p${part}_s$s.bin")
            Files.write(p, bos.toByteArray)
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(base + s * 1000L))
          }
      }

    // ---- consumer phase (S4 + --q5b), LIVE stream ----
    val streamEvents = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", NumPartitions) // one segment (all partitions) per micro-batch
      .load(dir.toString)
      .select("content").as[Array[Byte]]
      .flatMap(c => TaggedCodec.sliceFramed(c).map(TaggedCodec.decode))
    val q5bStream = NexmarkQueries.q5HotAuctions(
      NexmarkQueries.bidsFromEvents(streamEvents), "5 seconds")

    val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val q = q5bStream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not drain in 300s")
    val committed = Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    assert(committed >= Segments,
      s"expected >= $Segments committed micro-batches, got $committed")

    // ---- batch twin over the SAME logs, final-watermark restricted ----
    val batchEvents = spark.read.format("binaryFile").load(dir.toString)
      .select("content").as[Array[Byte]]
      .flatMap(c => TaggedCodec.sliceFramed(c).map(TaggedCodec.decode))
    val batchBids = NexmarkQueries.bidsFromEvents(batchEvents)
    val maxTs = batchBids.agg(org.apache.spark.sql.functions.max("timestamp"))
      .as[Long].head()
    val cutoff = maxTs - 2000L // q5's 2 s watermark delay
    val batchRows = NexmarkQueries.q5HotAuctions(batchBids, "5 seconds")
      .filter($"windowStartMs" + 5000L <= cutoff)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val streamRows = spark.read.parquet(out)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

    assert(batchRows.nonEmpty, "degenerate fixture: no closed windows")
    assert(streamRows == batchRows,
      s"stream (${streamRows.length}) != batch (${batchRows.length}) closed-window output")

    // the log really carried the 1:4:4 interleave through the round trip
    val decoded = batchEvents.collect()
    assert(decoded.length == NumEvents)
    assert(decoded.count(_.person.isDefined) * 9 == NumEvents)
  }
}
