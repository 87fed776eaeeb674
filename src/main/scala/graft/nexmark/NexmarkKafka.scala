package graft.nexmark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.nexmark.codec.TaggedCodec
import graft.nexmark.sink.Murmur3Partitioner

/** Kafka producer wiring (SURVEY §2.2 K4). The encode kernels are
  * unit-tested locally (BinaryCodecSpec/TaggedCodecSpec) and the producer
  * projection is exercised broker-less (BrokerlessPipelineSpec); the
  * Kafka sink itself needs a broker and the `spark-sql-kafka` connector,
  * which the build does not ship.
  */
object NexmarkKafka {

  /** K4: the producer's exact output projection — `key` (8-byte BE
    * partition key), `value` (tagged wire bytes), `partition` (murmur3
    * seed-104729 routing) — shared by [[writeEventsToKafka]] and the
    * broker-less partition-log composition spec, so the spec exercises
    * the production routing byte-for-byte rather than a reimplementation.
    *
    * Routing deliberately hashes all 8 key bytes, NOT the reference's
    * first-4-bytes hash (GeneratorPipeline.java:198-251), which collapses
    * to one partition for ids < 2^32 — see [[Murmur3Partitioner]]'s doc;
    * `Murmur3Partitioner.referencePartitionFor` is the byte-exact port.
    * The partition column is the native `murmur3_partition` expression
    * computed in the projection AFTER the (unavoidable) binary-encode map
    * — the routing stays codegen'd and plan-auditable; only the byte-level
    * codec runs in a lambda (the documented binary-codec exception).
    */
  def keyedForProduce(events: Dataset[Event], numPartitions: Int): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit}
    // fail fast with the actual precondition instead of an unresolved-
    // function AnalysisException at stream start: the routing column needs
    // the session built with spark.sql.extensions=graft.spark.GraftExtensions
    require(events.sparkSession.catalog.functionExists("murmur3_partition"),
      "the events producer requires graft.spark.GraftExtensions " +
        "(spark.sql.extensions) for the native murmur3_partition routing column")
    events
      .map(e => (TaggedCodec.encodeKey(e), TaggedCodec.encode(e), e.key))
      .toDF("key", "value", "k")
      .withColumn("partition", call_function("murmur3_partition", col("k"), lit(numPartitions)))
      .drop("k")
  }

  /** The Kafka sink for [[keyedForProduce]]'s projection (routing/codec
    * rationale documented there). */
  def writeEventsToKafka(events: Dataset[Event], servers: String,
                         numPartitions: Int, checkpoint: String,
                         topic: String = "nexmark-events"): DataStreamWriter[org.apache.spark.sql.Row] = {
    val keyed = keyedForProduce(events, numPartitions)
    keyed.writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
  }
}
