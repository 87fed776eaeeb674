package graft.nexmark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.nexmark.codec.BinaryCodec

/** Spark-native source layer (SURVEY §2.1):
  *
  *   - S1-S3/S7: the built-in `rate-micro-batch` source provides a
  *     deterministic, rate-limited long sequence; composing it with the
  *     pure [[NexmarkGen]] mapping reproduces the reference's
  *     RichParallelSourceFunction semantics (rate limiting via
  *     rowsPerBatch, per-subtask id strides via GenConfig) without a
  *     custom DSv2 source — the id arithmetic lives in the map, so the
  *     built-in source suffices (SURVEY §7.3).
  *   - S4/S5: the 8 KiB binary frames (Kafka values or mmap file contents)
  *     decode via [[BinaryCodec]] in a flatMap — one frame → N records,
  *     the Spark analog of KeyedDeserializationSchema + PersonsFlatMapper
  *     (common/PersonsFlatMapper.java:8-13 folds into the decode).
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

  /** Rate-limited streaming person source (S1): `rowsPerSecond` maps to the
    * reference's Guava RateLimiter budget (NexmarkPersonSource.java:34,49).
    */
  def personStream(spark: SparkSession, cfg: GenConfig, rowsPerBatch: Int): Dataset[Person] = {
    import spark.implicits._
    rateStream(spark, rowsPerBatch).map(NexmarkGen.person(cfg, _))
  }
  def auctionStream(spark: SparkSession, cfg: GenConfig, rowsPerBatch: Int): Dataset[Auction] = {
    import spark.implicits._
    rateStream(spark, rowsPerBatch).map(NexmarkGen.auction(cfg, _))
  }
  def bidStream(spark: SparkSession, cfg: GenConfig, rowsPerBatch: Int): Dataset[Bid] = {
    import spark.implicits._
    rateStream(spark, rowsPerBatch).map(NexmarkGen.bid(cfg, _))
  }
  /** S7: interleaved person/auction/bid unified stream (1:4:4 mix). */
  def eventStream(spark: SparkSession, cfg: GenConfig, rowsPerBatch: Int): Dataset[Event] = {
    import spark.implicits._
    rateStream(spark, rowsPerBatch).map(NexmarkGen.event(cfg, _))
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

  private def rateStream(spark: SparkSession, rowsPerBatch: Int): Dataset[Long] = {
    import spark.implicits._
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toLong)
      .load()
      .select("value").as[Long]
  }

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

  /** S6: CM text source — spark.read.text + positional parse
    * (cm/CM.java:184-229 manual chunking replaced by Spark partitioning).
    */
  def cmRecords(spark: SparkSession, path: String): Dataset[CmRecord] = {
    import spark.implicits._
    spark.read.textFile(path).filter(_.trim.nonEmpty).map(CmRecord.parse)
  }
}
