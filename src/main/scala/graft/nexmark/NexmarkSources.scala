package graft.nexmark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit, monotonically_increasing_id}
import graft.nexmark.codec.{BinaryCodec, TaggedCodec}

/** Spark-native source layer (SURVEY §2.1):
  *
  *   - S1-S3: the DSv2 `format("nexmark")` source
  *     ([[graft.nexmark.source.NexmarkDataSource]]): one partition per
  *     reference subtask with its own id stride, admission-controlled to
  *     `rowsPerBatch` events per subtask per trigger — the reference's
  *     RichParallelSourceFunction + RateLimiter. Every streaming read of
  *     the project goes through [[entityStreamDsv2]].
  *   - S4/S5: the 8 KiB binary frames (Kafka values or mmap file contents)
  *     decode via [[BinaryCodec]] in a flatMap — one frame → N records,
  *     the Spark analog of KeyedDeserializationSchema + PersonsFlatMapper
  *     (common/PersonsFlatMapper.java:8-13 folds into the decode).
  *   - K4: the unified-topic producer ([[keyedForProduce]],
  *     [[produceToPartitionFiles]]) and its length-prefixed partition files.
  */
object NexmarkSources {

  /** Bounded deterministic batch datasets (for tests and batch flavors). */
  def personsDs(spark: SparkSession, cfg: GenConfig, n: Long): Dataset[Person] = {
    import spark.implicits._
    spark.range(n).map(NexmarkGen.person(cfg, _))
  }
  def auctionsDs(spark: SparkSession, cfg: GenConfig, n: Long): Dataset[Auction] = {
    import spark.implicits._
    spark.range(n).map(NexmarkGen.auction(cfg, _))
  }
  def bidsDs(spark: SparkSession, cfg: GenConfig, n: Long): Dataset[Bid] = {
    import spark.implicits._
    spark.range(n).map(NexmarkGen.bid(cfg, _))
  }

  /** DSv2 `format("nexmark")` streaming source: true multi-subtask
    * parallelism (one partition per reference subtask, strided ids) with
    * admission-controlled rate limiting — the full-fidelity S1-S3 path.
    * `rows` bounds the stream (recordsToGenerate analog).
    */
  def bidStreamDsv2(spark: SparkSession, cfg: GenConfig, parallelism: Int,
                    rows: Long, rowsPerBatch: Long): Dataset[Bid] = {
    import spark.implicits._
    entityStreamDsv2(spark, "bids", cfg, parallelism, rows, rowsPerBatch).as[Bid]
  }
  def personStreamDsv2(spark: SparkSession, cfg: GenConfig, parallelism: Int,
                       rows: Long, rowsPerBatch: Long): Dataset[Person] = {
    import spark.implicits._
    entityStreamDsv2(spark, "persons", cfg, parallelism, rows, rowsPerBatch).as[Person]
  }
  def auctionStreamDsv2(spark: SparkSession, cfg: GenConfig, parallelism: Int,
                        rows: Long, rowsPerBatch: Long): Dataset[Auction] = {
    import spark.implicits._
    entityStreamDsv2(spark, "auctions", cfg, parallelism, rows, rowsPerBatch).as[Auction]
  }
  /** The `format("nexmark")` option set — ONE definition shared by the
    * streaming and the batch reader, so a batch read (StreamingBench's
    * static sides and oracle input dumps) can never silently drift from
    * the streamed input (the dump-equals-stream invariant
    * NexmarkDataSourceSpec pins).
    */
  def nexmarkOptions(entity: String, cfg: GenConfig, parallelism: Int,
                     rows: Long, rowsPerBatch: Long): Map[String, String] = Map(
    "entity" -> entity,
    "rows" -> rows.toString,
    "rowsPerBatch" -> rowsPerBatch.toString,
    "parallelism" -> parallelism.toString,
    "seed" -> cfg.seed.toString,
    "baseTimestamp" -> cfg.baseTimestamp.toString,
    "eventsPerSecond" -> cfg.eventsPerSecond.toString,
    "sizedPayloads" -> cfg.sizedPayloads.toString)

  private[graft] def entityStreamDsv2(spark: SparkSession, entity: String, cfg: GenConfig,
                                      parallelism: Int, rows: Long, rowsPerBatch: Long): DataFrame =
    spark.readStream.format("nexmark")
      .options(nexmarkOptions(entity, cfg, parallelism, rows, rowsPerBatch))
      .load()

  /** The events [[entityStreamDsv2]] streams with the same arguments, read in batch mode. */
  private[graft] def entityBatchDsv2(spark: SparkSession, entity: String, cfg: GenConfig,
                                     parallelism: Int, rows: Long, rowsPerBatch: Long): DataFrame =
    spark.read.format("nexmark")
      .options(nexmarkOptions(entity, cfg, parallelism, rows, rowsPerBatch))
      .load()

  // ---- binary frame decode (S4 Kafka values / S5 file contents) ----

  def personsFromFrames(frames: Dataset[Array[Byte]], ingestionTs: Long): Dataset[Person] = {
    import frames.sparkSession.implicits._
    frames.flatMap(BinaryCodec.decodePersons(_, ingestionTs))
  }
  def auctionsFromFrames(frames: Dataset[Array[Byte]], ingestionTs: Long): Dataset[Auction] = {
    import frames.sparkSession.implicits._
    frames.flatMap(BinaryCodec.decodeAuctions(_, ingestionTs))
  }
  def bidsFromFrames(frames: Dataset[Array[Byte]], ingestionTs: Long): Dataset[Bid] = {
    import frames.sparkSession.implicits._
    frames.flatMap(BinaryCodec.decodeBids(_, ingestionTs))
  }

  /** Slice a whole file's bytes into 8 KiB frames (the mmap file sources
    * read the same fixed-width frames — NexmarkQuery8File.java:156-231).
    * Short trailing chunks (frame padding) are skipped like the reference's
    * frame-skip logic.
    */
  def sliceFrames(content: Array[Byte]): Iterator[Array[Byte]] =
    content.grouped(BinaryCodec.FrameSize).filter(_.length == BinaryCodec.FrameSize)

  // ---- unified-topic producer (K4) ----

  /** K4: the producer's exact output projection — `key` (8-byte BE
    * partition key), `value` (tagged wire bytes), `partition` (murmur3
    * seed-104729 routing). [[produceToPartitionFiles]] writes it, and the
    * broker-less partition-log spec consumes it, so both exercise the
    * production routing byte-for-byte rather than a reimplementation.
    *
    * Routing deliberately hashes all 8 key bytes, NOT the reference's
    * first-4-bytes hash (GeneratorPipeline.java:198-251), which collapses
    * to one partition for ids < 2^32 — see `Murmur3Partitioner`'s doc;
    * `Murmur3Partitioner.referencePartitionFor` is the byte-exact port.
    * The partition column is the native `murmur3_partition` expression
    * computed in the projection AFTER the (unavoidable) binary-encode map
    * — the routing stays codegen'd and plan-auditable; only the byte-level
    * codec runs in a lambda (the documented binary-codec exception).
    */
  def keyedForProduce(events: Dataset[Event], numPartitions: Int): DataFrame = {
    import events.sparkSession.implicits._
    // fail fast with the actual precondition instead of an unresolved-
    // function AnalysisException: the routing column needs the session
    // built with spark.sql.extensions=graft.spark.GraftExtensions
    require(events.sparkSession.catalog.functionExists("murmur3_partition"),
      "the events producer requires graft.spark.GraftExtensions " +
        "(spark.sql.extensions) for the native murmur3_partition routing column")
    events
      .map(e => (TaggedCodec.encodeKey(e), TaggedCodec.encode(e), e.key))
      .toDF("key", "value", "k")
      .withColumn("partition", call_function("murmur3_partition", col("k"), lit(numPartitions)))
      .drop("k")
  }

  /** The broker-less producer (GeneratorPipeline.java:31-208): a
    * distributed job that routes [[keyedForProduce]]'s records to one
    * `<dir>/events_p<partition>.bin` file per topic partition, each record
    * [[TaggedCodec.framed]] (length-prefixed), in production order within
    * each partition — the order of `events`, as a Kafka partition log
    * keeps it. [[TaggedCodec.sliceFramed]] splits a file back into values.
    */
  def produceToPartitionFiles(events: Dataset[Event], numPartitions: Int, dir: String): Unit = {
    import events.sparkSession.implicits._
    keyedForProduce(events, numPartitions)
      .withColumn("seq", monotonically_increasing_id()) // increases in input order
      .repartition(numPartitions, col("partition"))
      .sortWithinPartitions("partition", "seq")
      .select("partition", "value")
      .as[(Int, Array[Byte])]
      .foreachPartition { it: Iterator[(Int, Array[Byte])] =>
        // a task sees whole partition groups (partition is the shuffle
        // key); hash placement may co-locate several in one task
        val byPart = scala.collection.mutable.LinkedHashMap[Int, java.io.ByteArrayOutputStream]()
        it.foreach { case (p, v) =>
          byPart.getOrElseUpdate(p, new java.io.ByteArrayOutputStream()).write(TaggedCodec.framed(v))
        }
        byPart.foreach { case (p, bos) =>
          java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"events_p$p.bin"), bos.toByteArray)
        }
      }
  }

  /** S6: CM text source — spark.read.text + positional parse
    * (cm/CM.java:184-229 manual chunking replaced by Spark partitioning).
    */
  def cmRecords(spark: SparkSession, path: String): Dataset[CmRecord] = {
    import spark.implicits._
    spark.read.textFile(path).filter(_.trim.nonEmpty).map(CmRecord.parse)
  }
}
