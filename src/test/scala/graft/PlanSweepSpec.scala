package graft

import graft.nexmark.{Auction, GenConfig, NexmarkSources, Person, SparkSpec}
import graft.nexmark.queries.NexmarkQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

/** Table-driven plan-pin sweep over EVERY batch entry in
  * [[SparkEntry.queries]] (VERDICT r8 Next #2). ScalePlanSpec pins ~20
  * hand-picked plan shapes; this sweep is the backstop that makes the
  * t_chunk_dedup class of regression un-landable: an entry that silently
  * plans a SortAggregate (the non-mutable-agg-buffer trap), a real
  * CartesianProduct, or an unpruned wide scan fails `sbt test` the moment
  * it lands — no hand-picking required for new entries.
  *
  * Checks per entry, on the STATIC physical plan (AQE disabled for the
  * sweep so the pre-execution operator choice is inspected — exactly where
  * the t_chunk_dedup SortAggregate appeared):
  *
  *   1. zero [[SortAggregateExec]] nodes (allowlist below for entries that
  *      legitimately sort-aggregate);
  *   2. zero [[CartesianProductExec]] nodes — the broadcast-bounded
  *      crossJoins in Similarity plan as BroadcastNestedLoopJoin, never a
  *      shuffled cartesian;
  *   3. every parquet [[FileSourceScanExec]] reads at most
  *      [[DefaultWidth]] columns — column pruning must reach the scan;
  *   4. exactly the partition-less windows of
  *      [[graft.tools.PlanAudit.SanctionedGlobalWindows]] (none for any
  *      other entry): a window without a partition key runs every row
  *      through one task.
  *
  * The `stream_*` entries are excluded by name: their `queries` functions
  * EXECUTE the streaming topology and return a parquet read of the
  * results, so the returned frame's plan says nothing about the stateful
  * topology — those plans are pinned where they are built
  * (StreamingMultiBatchSpec, RocksDBStateSpec, NexmarkStreamingSpec), and
  * the Q8 flavors' aggregate by the streaming test below.
  * Subquery plans are included via collectWithSubqueries.
  */
class PlanSweepSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"

  /** Entries allowed to plan a SortAggregate, with the reason. Keep this
    * minimal — adding a name here is a reviewed decision, not a
    * convenience. The 18 below are every entry that plans one of the
    * documented argmin/argmax aggregates of the IVF/PQ/k-means family
    * (cell assignment, PQ code and k-means assignment), directly
    * or inside a subplan it shares. Their ordering key is a (double, id)
    * pair in a struct, and a struct in the agg buffer is immutable, so
    * they plan SortAggregate; the `max_by_keys` kernel
    * ([[graft.spark.MaxByKeys]], one primitive buffer slot per key) is
    * the hash-aggregated replacement they can move to. The other
    * alternatives are strictly worse at scale — a row_number window or a
    * max-then-join-back second pass shuffles the full N×K similarity
    * table, while the SortAggregate keeps map-side partials and ships
    * only one pre-reduced row per group (rationale in the
    * `nearestCell` and `nearestL2` scaladocs, Similarity.scala). */
  private val sortAggAllowed: Map[String, String] = Map(
    "s_knn_ivf" -> "IVF cell-assignment argmax over (cos, -cid) — nearestCell scaladoc",
    "s_knn_ivfpq" -> "ivfCandidates assignment + PQ code argmin over (d2, code) — nearestL2 rationale",
    "s_knn_pq" -> "PQ code-assignment argmin over (d2, code) — nearestL2 rationale",
    "s_kmeans" -> "k-means assignment argmin over (d2, cid) — nearestL2 rationale",
    "s_knn_graph" -> "IVF cell-assignment argmax (nearestCell rationale) over the full corpus",
    "s_knn_graph_scaled" -> "same build argmax as s_knn_graph, sqrt(N)-stride centroids",
    "s_ood_outliers" -> "contains the s_kmeans assignment subplan (nearestL2 argmin)",
    "s_incremental_index" -> "base/delta cell-assignment argmax over (cos, -cid) — nearestCell rationale",
    "s_index_delete" -> "cell-assignment argmax over (cos, -cid) — nearestCell rationale",
    "s_knn_pagerank" -> "contains the knnGraph subplan (cell-assignment argmax)",
    "s_hard_negatives" -> "contains the ivfCandidates assignment argmax (nearestCell rationale)",
    "s_triplet_mine" -> "ivfCandidates assignment + per-anchor pos/neg argmax over (cos6, -vec_id)",
    "s_knn_filtered" -> "contains the ivfCandidates assignment argmax (nearestCell rationale)",
    "s_knn_range_filtered" -> "global ivfCandidates assignment argmax + per-bucket cell-assignment argmax over (cos, -cid) — nearestCell rationale",
    "s_serve_ndcg" -> "contains the knnIvf subplan (cell-assignment argmax) as the audited serve",
    "s_index_merge" -> "per-segment + merged cell-assignment argmax over (cos, -cid) — nearestCell rationale",
    "s_cell_split" -> "cell-assignment argmax over (cos, -cid) carrying the rounded cos — nearestCell rationale (seed argmins are BIGINT-packed HashAggregates)",
    "s_opq_permute" -> "PQ code-assignment argmin over (d2, code) in BOTH layouts — nearestL2 rationale, as s_knn_pq")

  private val DefaultWidth = 8

  private def batchEntries: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.filterNot(e => SparkEntry.isStream(e._1)).toSeq.sortBy(_._1)

  test("every batch entry: no SortAggregate, no CartesianProduct, pruned scans") {
    val violations = scala.collection.mutable.ArrayBuffer[String]()
    GraftSession.withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
      for ((name, fn) <- batchEntries) {
        val df = fn(spark, SfDir)
        val plan: SparkPlan = df.queryExecution.executedPlan
        val sortAggs = plan.collectWithSubqueries { case s: SortAggregateExec => s }
        if (sortAggs.nonEmpty && !sortAggAllowed.contains(name))
          violations += s"$name: ${sortAggs.size} SortAggregate node(s) — " +
            "hash aggregation lost (non-mutable agg buffer type?)"
        val carts = plan.collectWithSubqueries { case c: CartesianProductExec => c }
        if (carts.nonEmpty)
          violations += s"$name: CartesianProduct — unbroadcast cross join"
        val wide = plan.collectWithSubqueries {
          case f: FileSourceScanExec if f.requiredSchema.size > DefaultWidth =>
            s"${f.requiredSchema.size} cols (${f.requiredSchema.fieldNames.mkString(",")})"
        }
        wide.foreach(w => violations += s"$name: unpruned scan reads $w > $DefaultWidth")
        val gwin = graft.tools.PlanAudit.globalWindows(df)
        val sanctioned = graft.tools.PlanAudit.SanctionedGlobalWindows.getOrElse(name, 0)
        if (gwin != sanctioned)
          violations += s"$name: $gwin partition-less window(s), sanctioned $sanctioned"
      }
    }
    assert(violations.isEmpty,
      s"\nplan sweep violations (${violations.size}):\n  " + violations.mkString("\n  "))
  }

  test("streaming Q8, tumbling and sliding: no SortAggregate, no Sort in any micro-batch plan") {
    import spark.implicits._
    val cfg = GenConfig(eventsPerSecond = 100L)
    def side(entity: String, rows: Long): DataFrame =
      NexmarkSources.entityStreamDsv2(spark, entity, cfg, 2, rows, rows / 2)
    val flavors = Seq[(String, (DataFrame, DataFrame) => DataFrame)](
      "q8" -> ((p, a) => NexmarkQueries.q8NewUsers(p.as[Person], a.as[Auction], "5 seconds")),
      "q8sliding" -> ((p, a) =>
        NexmarkQueries.q8NewUsersSliding(p.as[Person], a.as[Auction], "5 seconds", "1 second")))
    val sorts = flavors.flatMap { case (name, q) =>
      val run = q(side("persons", 200), side("auctions", 800)).writeStream
        .format("noop").outputMode("append").trigger(Trigger.AvailableNow()).start()
      try assert(run.awaitTermination(120000), s"$name did not drain in 120 s")
      finally run.stop()
      val plan = run.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case s: StateStoreSaveExec => s }.size == 1, s"$name: $plan")
      plan.collect {
        case s: SortAggregateExec => s"$name: SortAggregate"
        case s: SortExec => s"$name: Sort"
      }
    }
    assert(sorts.isEmpty, sorts.mkString("\n"))
  }
}
