package graft

import graft.nexmark.SparkSpec
import graft.queries.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Pins for ANN index deletion (`s_index_delete`) and the persisted
  * compaction job ([[Similarity.compactIvfIndex]]):
  *
  *   - tombstone correctness — the compacted postings contain not one
  *     tombstoned id, and exactly the tombstoned rows were dropped
  *     (rowcount arithmetic, no silent loss of live postings);
  *
  *   - compaction is cost-only — serving the compacted index version
  *     returns EXACTLY the rows of the tombstone-filtered serve over the
  *     original version (a compaction that changes results is a
  *     corruption, not a reclaim);
  *
  *   - the rewrite preserves the Exchange-free bucketed serve — same
  *     bucketed-scan / no-corpus-Exchange plan shape ServeIndexSpec pins
  *     for the original index, on the compacted version;
  *
  *   - audit arithmetic — stale_scanned is the exact tombstone share of
  *     every query's candidate scan (a ~5%-slice fixture must yield a
  *     small positive corpus-wide stale fraction), and the recall audit
  *     against live-corpus ground truth clears the same macro floor the
  *     ingest twin holds.
  */
class IndexDeleteSpec extends SparkSpec {
  private val Dir = "/root/testdata/sf0.001"

  test("compaction drops exactly the tombstoned postings and nothing else") {
    Similarity.buildIvfIndex(spark, Dir)
    val compactT = Similarity.compactIvfIndex(spark, Dir)
    val orig = spark.table(Similarity.ivfIndexTables(Dir)._2)
    val comp = spark.table(compactT)
    val tomb = Similarity.tombstones(spark, Dir)
    assert(comp.join(tomb, Seq("vec_id"), "left_semi").count() == 0L,
      "tombstoned id survived compaction")
    val tombInOrig = orig.join(tomb, Seq("vec_id"), "left_semi").count()
    assert(tombInOrig > 0L, "degenerate: no tombstoned postings in the fixture")
    assert(comp.count() == orig.count() - tombInOrig,
      "compaction dropped a live posting (or kept a tombstoned one)")
  }

  test("serving the compacted version == tombstone-filtered serve of the original") {
    Similarity.buildIvfIndex(spark, Dir)
    val compactT = Similarity.compactIvfIndex(spark, Dir)
    val tomb = Similarity.tombstones(spark, Dir)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      // select by NAME: a using-column join reorders output (key first)
      df.select("query_id", "vec_id", "cos6")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.toSeq
          .sortBy(t => (-t._3, t._2)).take(5).map(t => (t._2, t._3))).toMap
    val filtered = topk(Similarity.knnServeScored(spark, Dir)
      .join(tomb, Seq("vec_id"), "left_anti"))
    val compacted = topk(Similarity.knnServeScoredOn(spark, Dir, compactT))
    assert(filtered.nonEmpty, "degenerate: no served queries")
    assert(compacted == filtered,
      "compacted-index serve diverged from the tombstone-filtered serve")
    val tombIds = tomb.collect().map(_.getLong(0)).toSet
    assert(compacted.values.flatten.forall(t => !tombIds.contains(t._1)),
      "a deleted vector was served")
  }

  test("compacted serve keeps the bucketed, Exchange-free postings branch") {
    Similarity.buildIvfIndex(spark, Dir)
    val compactT = Similarity.compactIvfIndex(spark, Dir)
    GraftSession.withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
      val plan = Similarity.knnServeScoredOn(spark, Dir, compactT)
        .queryExecution.executedPlan
      assert(plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }.nonEmpty, s"compacted postings scan lost its bucketing:\n$plan")
      def corpusShuffles(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[ShuffleExchangeExec] = p match {
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => Nil
        case s: ShuffleExchangeExec => s +: s.children.flatMap(corpusShuffles)
        case other => other.children.flatMap(corpusShuffles)
      }
      assert(corpusShuffles(plan).isEmpty,
        s"compacted serve reshuffles the corpus branch:\n$plan")
    }
  }

  test("audit arithmetic and recall floor on the oracle-gated entry") {
    val rows = Similarity.indexDelete(spark, Dir).collect()
    assert(rows.nonEmpty, "degenerate: no audited queries")
    var tombSum = 0L; var candSum = 0L; var recSum = 0L
    for (r <- rows) {
      val (nb, ns, ov, nct, ncl, stale, bp, retrain) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getLong(5), r.getLong(6), r.getLong(7), r.getInt(8))
      assert(stale == nct - ncl && stale >= 0, s"stale accounting broken at ${r.getLong(0)}")
      assert(ov <= math.min(nb, ns), s"overlap exceeds a side at ${r.getLong(0)}")
      assert(bp == ov * 10000 / nb, s"recall_bp arithmetic at ${r.getLong(0)}")
      assert((retrain == 1) == (ov * 5 < 4 * nb), s"retrain rule at ${r.getLong(0)}")
      tombSum += stale; candSum += nct; recSum += bp
    }
    val staleFrac = tombSum.toDouble / candSum
    assert(staleFrac > 0.0 && staleFrac < 0.15,
      f"corpus-wide stale fraction $staleFrac%.3f outside (0, 0.15) for a 5%% delete slice")
    val macroRecall = recSum.toDouble / rows.length / 10000.0
    // measured 0.96/0.96/0.915 at sf0.001/0.01/0.1 — same floor as the
    // BeamSearchSpec serving pin, with headroom
    assert(macroRecall >= 0.90, f"macro recall $macroRecall%.3f below floor 0.90")
  }
}
