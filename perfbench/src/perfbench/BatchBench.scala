package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** The `batch_sf01` workload: a fixed list of `SparkEntry.queries`
  * entries over a fixture directory, each timed through one action that
  * consumes every output column (row count plus an order-independent hash).
  *
  * Usage: BatchBench --data DIR --trace 0|1 --work DIR --report FILE
  *   [--expected FILE] [--record FILE]
  */
object BatchBench {
  val Entries: Seq[String] = Seq(
    "s_knn_beam", "s_kmeans_conv", "s_knn_ivf", "s_opq_permute", "s_cosine_cc",
    "s_knn_graph_scaled", "t_cluster_best", "t_hybrid_rrf", "t_minhash_pairs",
    "t_winnow_fingerprint", "t_dup_spans", "t_curation_e2e", "q5_hot_users",
    "q8_new_user_activity", "q11_user_sessions", "q_skew_join", "r_region_revenue",
    "r_zorder_layout")

  val Families: Seq[(String, Set[String])] = Seq(
    "EventAnalytics" -> graft.queries.EventAnalytics.queries.keySet,
    "Relational" -> graft.queries.Relational.queries.keySet,
    "TextPipeline" -> graft.queries.TextPipeline.queries.keySet,
    "Similarity" -> graft.queries.Similarity.queries.keySet)

  def family(entry: String): String =
    Families.find(_._2.contains(entry)).map(_._1).getOrElse("Other")

  /** Doubles become floats before hashing, so last-bit differences of
    * floating-point sums computed in another order do not change the hash.
    */
  private def coarse(t: DataType): DataType = t match {
    case DoubleType => FloatType
    case ArrayType(e, n) => ArrayType(coarse(e), n)
    case MapType(k, v, n) => MapType(coarse(k), coarse(v), n)
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = coarse(f.dataType))))
    case other => other
  }

  /** (row count, sum of the 64-bit hash of every row): independent of row
    * order and partitioning.
    */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map(f => col(s"`${f.name}`").cast(coarse(f.dataType)))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))).cast(StringType))
      .head()
    (r.getLong(0), r.getString(1))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${StreamBench.Cores}]")
      .appName("perfbench-batch")
      .config("spark.sql.shuffle.partitions", StreamBench.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    spark
  }

  private def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** [[Tracer]] keyed by the `perfbench.entry` local property set around
    * each entry's action, plus the shuffle-exchange and SortAggregate nodes
    * of the executed plans of the entry that is running.
    */
  final class EntryTracer extends Tracer("perfbench.entry") with QueryExecutionListener {
    @volatile var current = ""
    val exchanges, sortAggregates = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

    private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      val ns = nodes(qe.executedPlan)
      exchanges(current) += ns.count(_.isInstanceOf[ShuffleExchangeLike])
      sortAggregates(current) += ns.count(_.isInstanceOf[SortAggregateExec])
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def readExpected(path: String): Map[String, (Long, String)] =
    new ObjectMapper().readTree(new java.io.File(path)).properties().asScala
      .map(e => e.getKey -> ((e.getValue.get("rows").asLong, e.getValue.get("hash").asText))).toMap

  def main(argv: Array[String]): Unit = {
    val m = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val (dir, work, trace) = (m("data"), m("work"), m.getOrElse("trace", "0") == "1")
    // the streaming entries' oracle input dumps are correctness-surface work
    System.setProperty("graft.stream.dumpInputs", "false")
    val spark = session(work)
    val queries = SparkEntry.queries
    // untimed warm-up pass over the same fixture: class loading, codegen,
    // and whatever the entries memoize
    Entries.foreach { e =>
      try rowsAndHash(queries(e)(spark, dir)) catch { case _: Throwable => () }
      sweep(spark)
    }
    val report = mutable.LinkedHashMap[String, Any]("setup_done_ms" -> System.currentTimeMillis())
    StreamBench.log("set-up done")

    val tracer = new EntryTracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val results = mutable.LinkedHashMap.empty[String, (Long, String)]
    val wall = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    // heap in use after a full collection once each entry's action is done,
    // while what the entry cached is still held
    val heap = mutable.LinkedHashMap.empty[String, Double]
    Entries.foreach { e =>
      System.gc()
      tracer.current = e
      spark.sparkContext.setLocalProperty("perfbench.entry", e)
      val t0 = System.nanoTime()
      try results(e) = rowsAndHash(queries(e)(spark, dir))
      catch { case ex: Throwable => errors(e) = String.valueOf(ex.getMessage).take(300) }
      wall(e) = (System.nanoTime() - t0) / 1e9
      heap(e) = StreamBench.liveHeapMb()
      spark.sparkContext.setLocalProperty("perfbench.entry", null)
      if (trace) PerfbenchBus.drain(spark.sparkContext)
      sweep(spark)
      StreamBench.log(f"$e%-22s ${wall(e)}%7.2f s ${results.get(e).map(_._1).getOrElse(-1L)} rows")
    }
    m.get("record").foreach { path =>
      StreamBench.writeJson(path, results.map { case (e, (n, h)) => e -> Map("rows" -> n, "hash" -> h) })
    }
    val expected = m.get("expected").map(readExpected).getOrElse(Map.empty)
    val wrong = Entries.filter(e => results.contains(e) && expected.get(e) != results.get(e))
    report("time_to_result_s") = wall.values.sum
    report("live_heap_mb") = heap.values.max
    val checks = mutable.LinkedHashMap[String, Any](
      "batch" -> Check(Entries.size, 0, wrong.size, 0, 0, 0, 0, errors.size).toMap)
    report("errors") = errors
    report("wrong") = wrong

    if (trace) {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      val layers = mutable.LinkedHashMap[String, Any]()
      Entries.foreach(e => layers(s"entry.$e.wall_s") = wall(e))
      Entries.groupBy(family).toSeq.sortBy(_._1).foreach { case (f, es) =>
        val ts = es.map(tracer.totalsOf)
        layers(s"$f.jobs") = ts.map(_.jobs).sum
        layers(s"$f.tasks") = ts.map(_.tasks).sum
        layers(s"$f.task_cpu_s") = ts.map(_.cpuNs).sum / 1e9
        layers(s"$f.gc_s") = ts.map(_.gcMs).sum / 1e3
        layers(s"$f.shuffle_write_bytes") = ts.map(_.shuffleBytes).sum
        layers(s"$f.shuffle_records") = ts.map(_.shuffleRecords).sum
        layers(s"$f.spill_bytes") = ts.map(_.spillBytes).sum
        layers(s"$f.driver_gap_s") = es.map(e => wall(e) - Tracer.covered(tracer.jobIntervals(e)) / 1e3).sum
        layers(s"$f.exchanges") = es.map(tracer.exchanges).sum
        layers(s"$f.sort_aggregates") = es.map(tracer.sortAggregates).sum
      }
      layers ++= BatchLayers.tables(spark, dir)._1
      val (kernels, kernelCheck) = BatchLayers.kernels(spark, dir)
      layers ++= kernels
      checks("kernels") = kernelCheck.toMap
      sweep(spark)
      report("layers") = layers
      report("entry_counters") = Entries.map(e => e -> Map("jobs" -> tracer.totalsOf(e).jobs,
        "exchanges" -> tracer.exchanges(e), "shuffle_records" -> tracer.totalsOf(e).shuffleRecords)).toMap
    }
    report("checks") = checks
    report("peak_rss_kb") = StreamBench.peakRssKb()
    spark.stop()
    StreamBench.writeJson(m("report"), report)
  }
}
