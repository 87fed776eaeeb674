package graft

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one place that turns a row count into a partition count or a join
  * strategy. Callers say how many rows a frame holds (or is bounded by)
  * and how it is laid out; the rules below decide. The measurements
  * behind each rule are in OPTIMIZATION_r16 §2–3, OPTIMIZATION_r17 §2 and
  * BASELINE §Partition sizing; ROADMAP aim 2 names one sizing rule as a
  * design goal.
  *
  *   - [[parts]] = `min(cores, ceil(rows / 256))`. A per-row kernel runs
  *     on as many cores as the frame can keep busy, but never on more
  *     tasks than 256-row slices: below that, task launch and scheduling
  *     cost more than the kernel saves. At cluster scale rows/256 ≫
  *     cores, so the count is the session parallelism.
  *   - [[spread]] hash-repartitions a frame to `parts` when `parts > 1`
  *     and the frame would otherwise run on fewer partitions (`have`).
  *     Otherwise it is the identity, so a table that already plans
  *     enough partitions never pays an extra shuffle. The key is a
  *     deterministic column, never round-robin: retried tasks under a
  *     random assignment can duplicate or lose rows (SPARK-38388).
  *     [[spreadTable]] passes the scan's partition count as `have`;
  *     [[spreadShuffled]] passes the partitions AQE's byte floor would
  *     coalesce a shuffle output into.
  *   - [[checkpoint]] materializes a frame with AQE's byte floor lifted,
  *     so a kB-scale frame lands one block per core instead of one
  *     block, then coalesces (narrow, no shuffle) down to `parts`.
  *   - [[fetch]] broadcasts an embedding fetch side up to 4 M rows and
  *     builds a shuffled hash join above; neither arm sorts the payload.
  *   - [[navParts]] = `clamp(rows / 128, 8, 4096)` partitions of the
  *     persisted navigation index.
  *
  * Partition counts here change only plans, never results: every
  * consumer aggregation is order-free, and the correctness gate
  * canonicalizes row order before hashing.
  */
object Sizing {

  /** Rows per task below which an extra task costs more than it saves. */
  private val RowsPerTask = 256L

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Partitions for a frame of `rows` rows on `cores` cores:
    * `min(cores, ceil(rows / 256))`, at least 1. */
  private[graft] def parts(cores: Int, rows: Long): Int =
    math.min(cores.toLong, math.max(1L, (rows + RowsPerTask - 1L) / RowsPerTask)).toInt

  def parts(spark: SparkSession, rows: Long): Int = parts(cores(spark), rows)

  /** The partition count [[spread]] repartitions to: [[parts]] when that is
    * more than 1 and more than the `have` partitions the frame would run
    * on; `None`, the identity, otherwise. */
  private[graft] def spreadTo(cores: Int, rows: Long, have: Long): Option[Int] =
    Some(parts(cores, rows)).filter(p => p > 1 && have < p)

  /** `df` hash-partitioned by `key` as [[spreadTo]] decides. */
  def spread(df: DataFrame, rows: Long, have: Long, key: Column): DataFrame =
    spreadTo(cores(df.sparkSession), rows, have).fold(df)(df.repartition(_, key))

  /** [[spread]] over the scan of fixture table `name`. The fixtures are
    * single-file, single-row-group parquet, so the scan plans one task
    * and every per-row kernel before the first exchange would run on one
    * core; a multi-file table already plans enough partitions and is
    * left alone. */
  def spreadTable(spark: SparkSession, dir: String, name: String, key: Column): DataFrame =
    spread(Tables.table(spark, dir, name), Tables.tableRows(spark, dir, name),
      Tables.scanParts(spark, dir, name), key)

  /** [[spread]] over a shuffle output of about `rows` rows of `rowBytes`
    * bytes each. AQE coalesces shuffle partitions by bytes, down to
    * `minPartitionSize` each, so a few hundred thousand 16-byte rows land
    * in 1–4 partitions and a CPU-dense kernel over them runs 1–4 tasks.
    * Repartitioning by the key the next exchange needs re-keys that
    * exchange instead of adding one. A cluster-scale output fills the
    * cores on its own and keeps the stock sizing. */
  def spreadShuffled(df: DataFrame, rows: Long, rowBytes: Long, key: Column): DataFrame = {
    val floor = JavaUtils.byteStringAsBytes(df.sparkSession.conf.get(MinPartitionSize))
    spread(df, rows, rows * rowBytes / floor, key)
  }

  /** Eager `localCheckpoint` with AQE's byte floor lifted to 1 byte for the
    * materialization, so AQE's parallelism-first target binds and a small
    * frame lands one block per core; then a narrow `coalesce` down to
    * [[parts]] of the materialized row count, so a tiny frame does not pay
    * a task per core downstream. Neither step adds an exchange.
    *
    * The floor is lifted on the shared session conf around an eager
    * action: a plan compiled concurrently on the same session would see
    * it. Every caller runs on the sequential bench/Verify path; a caller
    * that adds in-session concurrency must use `spark.newSession()`.
    */
  def checkpoint(spark: SparkSession, df: DataFrame): DataFrame = {
    val ck = GraftSession.withConf(spark)(MinPartitionSize -> "1b")(df.localCheckpoint(true))
    val p = parts(spark, ck.count())
    if (ck.rdd.getNumPartitions <= p) ck else ck.coalesce(p)
  }

  /** Largest embedding fetch side that is broadcast: 4 M rows × ~550 B
    * framed ≈ 2.2 GB, an order under Spark's 8 GB broadcast cap. */
  private val FetchBroadcastMaxRows = 4000000L

  /** Join strategy for an embedding fetch side of a corpus of `rows` rows:
    * a broadcast up to [[FetchBroadcastMaxRows]], a shuffled hash build
    * above. Either way pair rows never ride a sort with the 64-double
    * payload attached, which an unhinted sort-merge join would do. */
  def fetch(df: DataFrame, rows: Long): DataFrame =
    if (rows <= FetchBroadcastMaxRows) broadcast(df) else df.hint("shuffle_hash")

  /** Partitions of the persisted navigation index over `rows` vertices:
    * one per ~128 vertices, at least 8 (so partition pruning stays
    * observable at every gate scale) and at most 4096 (a bounded
    * directory count, as for any partitioned table). */
  def navParts(rows: Long): Long = math.max(8L, math.min(4096L, rows / 128L))
}
