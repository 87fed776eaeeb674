package graft

import graft.nexmark.SparkSpec
import graft.queries.Similarity
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Pins for the persisted-index ANN serving split (`s_knn_serve`):
  * the point of the build/serve separation is that a SERVE never pays
  * index-construction cost, so the serve plan itself must prove it —
  * a bucketed postings scan streamed into a broadcast probe join with
  * zero Exchange below it and zero assignment aggregates anywhere.
  * The result contract (serve ≡ in-query build) is checked against
  * [[Similarity.knnIvf]] directly; the DuckDB oracle gate enforces the
  * same identity cross-engine (s_knn_serve's oracle IS knnIvfSql).
  */
class ServeIndexSpec extends SparkSpec {
  private val Dir = "/root/testdata/sf0.001"

  test("serve plan: bucketed postings scan, no Exchange on the corpus branch, no assignment stages") {
    Similarity.buildIvfIndex(spark, Dir)
    GraftSession.withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
      val scored = Similarity.knnServeScored(spark, Dir)
      val plan = scored.queryExecution.executedPlan
      // the corpus-sized branch is a BUCKETED scan of the postings table
      val bucketedScans = plan.collect {
        case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
      }
      assert(bucketedScans.nonEmpty, s"expected a bucketed postings scan:\n$plan")
      // ...streamed into a broadcast probe join (probes broadcast, the
      // corpus streams) with no Exchange on the corpus path. Broadcast
      // build sides are query-batch-sized by construction (the probes
      // agg shuffles Q rows inside its BroadcastExchange — that is per-
      // batch work, not corpus work), so the walk prunes them.
      def streamed(j: BroadcastHashJoinExec) = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
        case _                                                 => j.left
      }
      def corpusShuffles(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[ShuffleExchangeExec] = p match {
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => Nil
        case s: ShuffleExchangeExec => s +: s.children.flatMap(corpusShuffles)
        case other => other.children.flatMap(corpusShuffles)
      }
      val probeJoins = plan.collect {
        case j: BroadcastHashJoinExec if streamed(j).collect {
          case f: FileSourceScanExec if f.relation.bucketSpec.isDefined => f
        }.nonEmpty => j
      }
      assert(probeJoins.nonEmpty,
        s"postings must stream into a broadcast probe join:\n$plan")
      for (j <- probeJoins)
        assert(corpusShuffles(streamed(j)).isEmpty,
          s"the postings branch must not reshuffle:\n$plan")
      // zero index-construction stages: the corpus-wide assignment argmax
      // (a max_by SortAggregate in the BUILD job) must not appear
      assert(plan.collect { case s: SortAggregateExec => s }.isEmpty,
        s"serve plan must carry no assignment aggregate:\n$plan")
      assert(!plan.toString.contains("max_by"),
        s"serve plan must carry no assignment argmax:\n$plan")
    }
  }

  test("serving from the persisted index equals the in-query build") {
    val serve = Similarity.knnServe(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val build = Similarity.knnIvf(spark, Dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(serve.nonEmpty, "degenerate: no served results")
    assert(serve.toSeq == build.toSeq,
      "persisted-index serving diverged from the in-query IVF build")
  }
}
