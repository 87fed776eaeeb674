package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc, when}
import graft.nexmark.{GenConfig, NexmarkGen}

/** Checks of the benchmark's own logic; exits non-zero on the first
  * failure. Run through `python3 perfbench/tests/test_bench.py`.
  */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL: $what") }

  /** Due time of id i is NexmarkGen.eventTimestamp with baseTimestamp =
    * start and eventsPerSecond = R, and dueCount(now) counts exactly the
    * ids due at or before now.
    */
  def schedule(): Unit = {
    val base = 1704067200123L
    for (rate <- Seq(1L, 3L, 7L, 999L, 1000L, 1001L, 20000L, 80000L, 123457L)) {
      val s = Schedule(42L, base, rate)
      val gen = GenConfig(seed = 42L, baseTimestamp = base, eventsPerSecond = rate)
      for (id <- (0L until 2000L) ++ Seq(rate * 7 - 1, rate * 7, rate * 7 + 1))
        expect(s.due(id) == NexmarkGen.eventTimestamp(gen, id), s"due($id) at R=$rate")
      expect(s.dueCount(base - 1) == 0, s"nothing due before the start at R=$rate")
      for (d <- (0L until 1500L) ++ Seq(9999L, 10000L, 123456L)) {
        val now = base + d
        val n = s.dueCount(now)
        expect(n >= 1 && s.due(n - 1) <= now, s"last admitted id is due at R=$rate, now=+$d")
        expect(s.due(n) > now, s"first withheld id is not yet due at R=$rate, now=+$d")
      }
    }
  }

  def slots(): Unit =
    for (e <- Seq("persons", "auctions", "bids"); from <- 0L until 30L; until <- from until 40L) {
      val brute = (from until until).count(i => Slots.of(e).contains((i % 9).toInt))
      expect(Slots.count(Slots.of(e), from, until) == brute, s"Slots.count($e, $from, $until)")
    }

  /** Every kind of failure is counted once; late results are failures that
    * are still correct outputs.
    */
  def checkCounting(): Unit = {
    def row(ws: Long, key: Long, price: Double, ts: Long) = Row(ws, key, price, 1L, ts, ts)
    val expected = Map[(Long, Long), Seq[Any]](
      (0L, 1L) -> Seq[Any](5.0, 1L, 100L, 100L),
      (0L, 2L) -> Seq[Any](6.0, 1L, 200L, 200L),
      (0L, 3L) -> Seq[Any](7.0, 1L, 300L, 300L),
      (0L, 4L) -> Seq[Any](8.0, 1L, 400L, 400L))
    val got = Seq(
      1000L -> row(0L, 1L, 5.0, 100L),   // on time
      1000L -> row(0L, 1L, 5.0, 100L),   // duplicate
      1000L -> row(0L, 2L, 9.0, 200L),   // wrong value
      99999L -> row(0L, 3L, 7.0, 300L),  // late
      1000L -> row(0L, 9L, 1.0, 100L))   // not expected; (0, 4) is missing
    val c = StreamBench.check(Q5, got, expected, (t, r) => t - Q5.creation(r) > 10000L)
    expect(c == Check(expected = 4, missing = 1, wrong = 1, extra = 1, duplicate = 1,
      late = 1, dropped = 0, other = 0), s"check counts: $c")
    val run = StreamBench.withRun(c, 3L, Some(new RuntimeException("query failed")))
    expect(run == c.copy(dropped = 3, other = 1), s"rows dropped by the watermark and errors: $run")
  }

  /** The batch action's hash ignores row order and partitioning, and sees
    * a changed value in any column.
    */
  def hashOrder(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"s$i", i * 0.1, Seq(i * 1.5, i / 3.0))).toDF("id", "s", "x", "xs")
    val h = BatchBench.rowsAndHash(df)
    expect(h._1 == 500, s"row count ${h._1}")
    expect(BatchBench.rowsAndHash(df.orderBy(desc("id")).repartition(7)) == h, "hash depends on row order")
    expect(BatchBench.rowsAndHash(df.withColumn("s", when(col("id") === 250, "z").otherwise(col("s")))) != h,
      "hash misses a changed string")
    expect(BatchBench.rowsAndHash(df.withColumn("x", when(col("id") === 7, 9.9).otherwise(col("x")))) != h,
      "hash misses a changed double")
  }

  /** A fixture written from a seed reads back unchanged through the
    * `graft.Tables` readers, and every kernel agrees with its plain-Scala
    * reference on it.
    */
  def layers(spark: SparkSession): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-fixture").toString
    Fixture.write(spark, 5L, dir)
    val written = Fixture.written(spark, dir)
    val (scans, read) = BatchLayers.tables(spark, dir)
    expect(scans.size == 4 && read == written, s"Tables readers: $read, written $written")
    val (times, c) = BatchLayers.kernels(spark, dir)
    expect(times.size == 6, s"kernel times $times")
    expect(c.expected > 6000 && c.wrong == 0, s"kernel check $c")
  }

  /** Self time subtracts the union of the children, not their sum. */
  def selfTime(): Unit = {
    expect(Tracer.covered(Nil) == 0L, "covered(empty)")
    expect(Tracer.covered(Seq((20L, 25L), (0L, 10L), (5L, 15L))) == 20L, "covered merges overlaps")
    val spans = Seq(Span(0, -1, "batch 1", 0, 100), Span(1, 0, "addBatch", 10, 60),
      Span(2, 1, "job 1", 20, 40), Span(3, 1, "job 2", 30, 50))
    expect(Tracer.selfTimes(spans) == Map("batch" -> 50L, "addBatch" -> 20L, "job" -> 40L),
      s"self times ${Tracer.selfTimes(spans)}")
  }

  def main(args: Array[String]): Unit = {
    schedule()
    slots()
    checkCounting()
    selfTime()
    val spark = SparkSession.builder().master("local[2]").appName("selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try { hashOrder(spark); layers(spark) } finally spark.stop()
    if (failures > 0) { System.err.println(s"$failures failures"); sys.exit(1) }
    println("selftest ok")
  }
}
