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

  /** File-layout facts of one fixture table: its row count and the number
    * of partitions its scan plans. Each is computed at most once per JVM
    * (a count job; a scan planning that costs ~50–200 ms, too much to pay
    * inside entries that read a table many times) and only sizes plans:
    * every query still reads the parquet itself. */
  private final class Facts(df: () => DataFrame) {
    lazy val rows: Long = df().count()
    lazy val scanParts: Int = df().rdd.getNumPartitions
  }

  private val facts = new java.util.concurrent.ConcurrentHashMap[String, Facts]()

  private def factsOf(spark: SparkSession, dir: String, name: String): Facts =
    facts.computeIfAbsent(s"$dir/$name", _ => new Facts(() => table(spark, dir, name)))

  private[graft] def tableRows(spark: SparkSession, dir: String, name: String): Long =
    factsOf(spark, dir, name).rows

  private[graft] def scanParts(spark: SparkSession, dir: String, name: String): Int =
    factsOf(spark, dir, name).scanParts
}
