package graft

import graft.nexmark.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the scale-conditional scan fan-out ([[Tables.spreadTable]],
  * optimization guide §2.5 "one huge unsplittable file → repartition
  * immediately after the read") and the corpus-derived navigation-index
  * partition count ([[graft.queries.Similarity.navPartsFor]]).
  *
  * The two behaviors that matter at the two ends of the scale:
  *   - on the single-file, single-row-group driver fixture the fan-out
  *     MUST fire (otherwise every per-row kernel between the scan and the
  *     first exchange runs on 1 of local[N]'s N cores — the measured r16
  *     pattern: 1-2-task stages burning 1-2.5 s each);
  *   - on an input that already plans enough partitions it MUST be the
  *     identity (no extra exchange — a cluster-scale table must never pay
  *     a full-corpus shuffle for this).
  */
class SpreadSpec extends SparkSpec {

  test("verify-join fetch strategy is a function of corpus size (r15 VERDICT #3)") {
    // below the bound (every gate SF): the exact r15 broadcast shape
    val e = graft.queries.Similarity.vecs(spark, "/root/testdata/sf0.001")
    val small = graft.queries.Similarity.verifiedDupPairs(e, 20L)
      .queryExecution.executedPlan.toString
    assert(small.contains("BroadcastHashJoin"),
      s"gate-scale fetch joins must stay broadcast:\n$small")
    assert(!small.contains("SortMergeJoin"),
      s"embedding payload must never ride a sort:\n$small")
    // above the bound: shuffled-hash build — still NO sort-merge join
    // anywhere near the payload (the r15 sf100 sort-spill shape)
    val big = graft.queries.Similarity.verifiedDupPairs(e, 5000000L)
      .queryExecution.executedPlan.toString
    assert(big.contains("ShuffledHashJoin"),
      s"above-bound fetch joins must be shuffled-hash builds:\n$big")
    assert(!big.contains("SortMergeJoin"),
      s"embedding payload must never ride a sort:\n$big")
  }

  test("spreadTable target is rows-aware (r17): min(cores, ceil(rows/256))") {
    // the fan-out must track the row count, not the core count: a sub-ms
    // kernel over a few hundred rows must not pay a 32-task fan-out (the
    // r16 t_incremental_dedup regression class), while the bench corpus
    // still fans out rows/256 ways
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
        val want = math.min(cores.toLong, math.max(1L, (rows + 255) / 256)).toInt
        val df = Tables.spreadTable(spark, d, "documents", col("doc_id"))
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

  test("checkpointSpread coalesces a tiny materialized frame below the rows floor (r17)") {
    import spark.implicits._
    val tiny = Tables.checkpointSpread(spark,
      (1L to 100L).toDF("id").repartition(8, col("id")))
    assert(tiny.rdd.getNumPartitions <= 1,
      s"100 rows must land in one block, got ${tiny.rdd.getNumPartitions}")
    assert(tiny.count() == 100L)
  }

  test("navPartsFor derives the nav-index partition count from corpus size, clamped") {
    // gate fixtures sit at the floor (pruning stays observable); the cap
    // bounds directory count at any N. Pure function of the corpus count:
    // n/128 in [8, 4096].
    val p = graft.queries.Similarity.navPartsFor(spark, "/root/testdata/sf0.001")
    assert(p == 8L, s"sf0.001 (20 vectors) must clamp to the floor 8, got $p")
    val n01 = Tables.embeddings(spark, "/root/testdata/sf0.1").count()
    val p01 = graft.queries.Similarity.navPartsFor(spark, "/root/testdata/sf0.1")
    assert(p01 == math.max(8L, math.min(4096L, n01 / 128L)),
      s"sf0.1 nav parts must be n/128 clamped, got $p01 for n=$n01")
  }
}
