package graft

import graft.nexmark.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for [[Sizing]], the one module that turns rows into partitions or
  * a join strategy: one table of its pure decisions, then the plans they
  * produce on the spec session (4 cores) and on the driver fixtures.
  *
  * The two behaviors that matter at the two ends of the scale:
  *   - on the single-file, single-row-group driver fixture the scan
  *     fan-out MUST fire, or every per-row kernel between the scan and the
  *     first exchange runs on 1 of local[N]'s N cores;
  *   - on an input that already plans enough partitions it MUST be the
  *     identity: a cluster-scale table never pays a full-corpus shuffle
  *     for this.
  */
class SizingSpec extends SparkSpec {

  /** AQE's `minPartitionSize` at Spark's default, 1 MiB. */
  private val M = 1L << 20

  test("one sizing table: (rows, have, cores) -> partitions") {
    val cases = Seq(
      // (what, rows, have, cores, parts, spreadTo: None is the identity)
      ("parts floor: 0 rows", 0L, 0L, 32, 1, None),
      ("parts floor: 256 rows", 256L, 0L, 32, 1, None),
      ("parts: 257 rows need two", 257L, 0L, 32, 2, Some(2)),
      ("parts: ceil(5000 / 256) under 32 cores", 5000L, 1L, 32, 20, Some(20)),
      ("parts cap: 5000 rows on 4 cores", 5000L, 1L, 4, 4, Some(4)),
      ("parts cap: cluster-scale rows", 1L << 40, 1L, 32, 32, Some(32)),
      ("one core never spreads", 1L << 20, 0L, 1, 1, None),
      ("identity: the input already has parts", 5000L, 4L, 4, 4, None),
      ("identity: the input has more than parts", 5000L, 64L, 32, 20, None),
      ("spread: one partition short of parts", 5000L, 3L, 4, 4, Some(4)),
      // the AQE byte floor: have = floor(b / M), b = t·M − 1 vs b = t·M
      ("byte floor: b = 4M - 1", 1L << 20, (4 * M - 1) / M, 4, 4, Some(4)),
      ("byte floor: b = 4M", 1L << 20, 4 * M / M, 4, 4, None))
    for ((what, rows, have, cores, parts, spreadTo) <- cases) {
      assert(Sizing.parts(cores, rows) == parts, s"$what: parts($cores, $rows)")
      assert(Sizing.spreadTo(cores, rows, have) == spreadTo, s"$what: spreadTo($cores, $rows, $have)")
    }
    // navParts = clamp(rows / 128, 8, 4096)
    for ((rows, expected) <- Seq(0L -> 8L, 1023L -> 8L, 1280L -> 10L, 200000L -> 1562L,
                                 524288L -> 4096L, (1L << 40) -> 4096L))
      assert(Sizing.navParts(rows) == expected, s"navParts($rows)")
  }

  test("spreadShuffled fires one byte under the AQE floor and not at it") {
    // 4 cores and rows ≥ 1024, so parts = 4 = t; 1-byte rows make b = rows
    val one = spark.range(0, 10, 1, 1).toDF("query_id")
    val under = Sizing.spreadShuffled(one, 4 * M - 1, 1L, col("query_id"))
    assert(under.rdd.getNumPartitions == 4)
    val plan = under.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(query_id"), s"never round-robin:\n$plan")
    assert(Sizing.spreadShuffled(one, 4 * M, 1L, col("query_id")) eq one)
  }

  test("verify-join fetch strategy is a function of corpus size (r15 VERDICT #3)") {
    val e = graft.queries.Similarity.vecs(spark, "/root/testdata/sf0.001")
    // at the bound (and every gate SF below it): broadcast
    val small = graft.queries.Similarity.verifiedDupPairs(e, 4000000L)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"),
      s"fetch joins at the bound must stay broadcast:\n$small")
    assert(!small.contains("SortMergeJoin"),
      s"embedding payload must never ride a sort:\n$small")
    // one row above the bound: shuffled-hash build — still NO sort-merge
    // join anywhere near the payload
    val big = graft.queries.Similarity.verifiedDupPairs(e, 4000001L)
      .queryExecution.executedPlan.toString
    assert(big.contains("ShuffledHashJoin"),
      s"above-bound fetch joins must be shuffled-hash builds:\n$big")
    assert(!big.contains("SortMergeJoin"),
      s"embedding payload must never ride a sort:\n$big")
  }

  test("spreadTable target is rows-aware (r17): min(cores, ceil(rows/256))") {
    // the fan-out tracks the row count, not the core count: a sub-ms
    // kernel over a few hundred rows must not pay a task per core, while
    // the bench corpus still fans out rows/256 ways
    val cores = spark.sparkContext.defaultParallelism
    for (sf <- Seq("0.001", "0.1")) {
      val dir = s"/root/testdata/sf$sf"
      // the same corpus as a multi-file table, which already plans more
      // partitions than the target: there the fan-out must be the identity
      val split = java.nio.file.Files.createTempDirectory("spread").toString
      Tables.table(spark, dir, "documents")
        .repartition(4 * cores, col("doc_id")).write.parquet(s"$split/documents.parquet")
      assert(Tables.table(spark, split, "documents").rdd.getNumPartitions >= cores)
      for (d <- Seq(dir, split)) {
        val rows = Tables.table(spark, d, "documents").count()
        val scanParts = Tables.table(spark, d, "documents").rdd.getNumPartitions
        assert(Tables.tableRows(spark, d, "documents") == rows)
        assert(Tables.scanParts(spark, d, "documents") == scanParts)
        val want = math.min(cores.toLong, math.max(1L, (rows + 255) / 256)).toInt
        val df = Sizing.spreadTable(spark, d, "documents", col("doc_id"))
        if (want <= 1 || scanParts >= want)
          assert(!df.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM"),
            s"$d: a frame under the rows-per-task floor or already parallel must not fan out")
        else {
          assert(df.rdd.getNumPartitions == want,
            s"$d: fan-out must target min(cores, rows/256) = $want, " +
              s"got ${df.rdd.getNumPartitions}")
          // deterministic hash partitioning, never round-robin (SPARK-38388)
          assert(df.queryExecution.executedPlan.toString.contains("hashpartitioning"))
        }
      }
    }
  }

  test("checkpoint coalesces a tiny materialized frame below the rows floor") {
    import spark.implicits._
    val tiny = Sizing.checkpoint(spark, (1L to 100L).toDF("id").repartition(8, col("id")))
    assert(tiny.rdd.getNumPartitions <= 1,
      s"100 rows must land in one block, got ${tiny.rdd.getNumPartitions}")
    assert(tiny.count() == 100L)
  }

  test("navParts derives the nav-index partition count from corpus size, clamped") {
    // gate fixtures sit at the floor (pruning stays observable)
    val n = Tables.tableRows(spark, "/root/testdata/sf0.001", "embeddings")
    assert(Sizing.navParts(n) == 8L, s"sf0.001 ($n vectors) must clamp to the floor 8")
    val n01 = Tables.embeddings(spark, "/root/testdata/sf0.1").count()
    assert(Tables.tableRows(spark, "/root/testdata/sf0.1", "embeddings") == n01)
    assert(Sizing.navParts(n01) == math.max(8L, math.min(4096L, n01 / 128L)),
      s"sf0.1 nav parts must be n/128 clamped for n=$n01")
  }
}
