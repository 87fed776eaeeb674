package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-provided parquet fixtures (TESTDATA.md).
  * All queries take the sf directory as a parameter so the same code runs
  * at any scale factor — and, on a real cluster, against any warehouse path.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet has shipped with two physical layouts for `ts` across
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long, convert to µs) and
    * plain TIMESTAMP(MICROS) (isAdjustedToUTC=false → TIMESTAMP_NTZ).
    * Handle both by inspecting the loaded dtype; either way normalize to
    * session-local TIMESTAMP so instants match DuckDB's naive µs
    * timestamps under the pinned UTC session timezone.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.LongType
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Rows-per-task floor for the fan-out target (r17, VERDICT r16 #1).
    * r16 targeted `defaultParallelism` unconditionally, which over-shards
    * kB-scale frames: a cheap per-row kernel gains nothing from 32 tasks
    * but pays 32 tasks of scheduling/launch overhead per downstream stage
    * (driver-measured regressions: t_incremental_dedup 0.48→1.18 s,
    * faster at 8 cores than 32). The floor makes the target
    * `min(cores, ceil(rows / 256))`: heavy fixtures still fan all the way
    * out (5000-doc sf0.1 corpus → 20 partitions — same-warmup A/B kept
    * every heavy-kernel win within noise of the 32-way value and beat it
    * in total), while gate-SF frames (50-500 rows) stay at 1-2 partitions
    * instead of paying a 32-task exchange for sub-ms kernels. At cluster
    * scale rows/256 ≫ cores, so the target is exactly the session
    * parallelism, as before. */
  private val SpreadMinRowsPerTask = 256L

  /** Memoized fixture-table row count — a file-layout property like
    * [[scanPartsCache]] (and the navPartsFor corpus-count idiom), NOT a
    * result cache: the data path recomputes from parquet every time; this
    * only sizes the fan-out. One count job per (dir, table) per JVM. */
  private val tableRowsCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[graft] def tableRows(spark: SparkSession, dir: String, name: String): Long =
    tableRowsCache.computeIfAbsent(s"$dir/$name",
      _ => java.lang.Long.valueOf(table(spark, dir, name).count()))

  /** The fan-out target for `rows` rows: `min(cores, ceil(rows / 256))`. */
  private[graft] def rowsAwareTarget(spark: SparkSession, rows: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val byRows = math.max(1L, (rows + SpreadMinRowsPerTask - 1L) / SpreadMinRowsPerTask)
    math.min(cores, byRows).toInt
  }

  /** Eager localCheckpoint with AQE's coalescing floor lifted for the
    * materialization (r16). AQE coalesces post-shuffle partitions by
    * BYTES with a 1 MB `minPartitionSize` floor — so a kB-scale frame
    * (token tf tables, posting lists, signature sets at bench SF)
    * checkpoints as ONE block and every downstream pass over the blocks
    * runs single-task, no matter how CPU-heavy its per-row kernel is
    * (measured r16: t_hybrid_rrf's 1.9 s single-task BM25 pass over the
    * coalesced tfq checkpoint). Lowering the floor to 1 byte makes AQE's
    * parallelism-first targeting (total/defaultParallelism) bind instead:
    * tiny frames land one block per core, big frames are untouched — and
    * unlike a pinned repartition, NO extra exchange is added at any
    * scale. Conf is restored after the eager materialization.
    *
    * Concurrency invariant (r16 ADVICE): the set/restore toggles the
    * SHARED session RuntimeConfig around an eager action, so any plan
    * compiled concurrently on the same SparkSession would see the lowered
    * floor. Every caller sits on the sequential bench/Verify path (batch
    * entries run one at a time; no streaming micro-batch shares the
    * session while a batch entry materializes) — callers introducing
    * in-session concurrency must scope the override via
    * `spark.newSession()` instead.
    */
  def checkpointSpread(spark: SparkSession, df: DataFrame): DataFrame = {
    val k = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "1b")
    val ck = try df.localCheckpoint(true)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
    // r17 rows-per-task floor (VERDICT r16 #1): the lifted floor lands one
    // block per core regardless of rows, so a genuinely tiny frame would
    // still pay defaultParallelism tasks per downstream stage. Count the
    // materialized blocks (a sub-10 ms in-memory job) and coalesce — a
    // NARROW op, no exchange, no re-materialization — down to the
    // rows-aware target when the frame doesn't fill it.
    val target = rowsAwareTarget(spark, ck.count())
    if (ck.rdd.getNumPartitions <= target) ck else ck.coalesce(target)
  }

  private val scanPartsCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Scale-conditional scan fan-out over a named fixture table
    * (optimization guide §2.5: "one huge unsplittable file → repartition
    * immediately after the read"). The fixture tables are single-file,
    * single-row-group parquet, so a scan plans ONE task regardless of core
    * count, and every per-row kernel between the scan and the first
    * exchange (normalize+tokenize, cosine, payload stats, md5 shingles)
    * would run on 1 of local[N]'s N cores.
    *
    * Condition, not a constant: the target is [[rowsAwareTarget]], and when
    * the scan already plans at least that many partitions (any real
    * multi-file table) or the target is 1, this is the IDENTITY and no
    * exchange is added. The repartition key is a deterministic id column,
    * NEVER round-robin (SPARK-38388: retried tasks under rand-derived
    * assignment duplicate or lose rows). Results are unchanged by
    * construction: every consumer aggregation is order-free, and the
    * correctness gate canonicalizes row order before hashing.
    *
    * The scan-parallelism probe is MEMOIZED per (dir, table, target): it
    * plans the scan (`.rdd.getNumPartitions`), which costs ~50-200 ms of
    * planning — fine once, poison inside entries that reference the
    * same table many times (r16 measured: the unmemoized probe in `vecs`
    * more than DOUBLED the iterative similarity entries). The cached
    * values are file-layout properties, not query results.
    */
  def spreadTable(spark: SparkSession, dir: String, name: String,
                  key: org.apache.spark.sql.Column): DataFrame = {
    val df = table(spark, dir, name)
    val target = rowsAwareTarget(spark, tableRows(spark, dir, name))
    val parts = scanPartsCache.computeIfAbsent(s"$dir/$name@$target",
      _ => Integer.valueOf(df.rdd.getNumPartitions))
    if (target <= 1 || parts >= target) df else df.repartition(target, key)
  }
}
