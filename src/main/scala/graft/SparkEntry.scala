package graft

import graft.queries.{Entry, EventAnalytics, Relational, Similarity, StreamingBench, TextPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The entry registry: the one lookup every runner picks entries from.
  *
  * [[entries]] concatenates the families' entries:
  *   - [[graft.queries.EventAnalytics]] — Nexmark query semantics over `events`
  *   - [[graft.queries.Relational]]    — join/agg/set-op coverage over TPC-H-ish tables
  *   - [[graft.queries.TextPipeline]]  — dedup + text analysis over `documents`
  *   - [[graft.queries.Similarity]]    — embedding similarity over `embeddings`
  *   - [[graft.queries.StreamingBench]] — streaming pipelines over the Nexmark source
  *
  * Contract: every name is registered once (a second registration fails
  * when this object initializes), and every entry carries its DuckDB
  * oracle. [[queries]], [[oracleSql]] and [[oracleInputs]] are the views
  * `Verify` and `Bench` read, keyed by the same names; [[select]] is the one
  * unknown-name guard and [[isStream]] the one stream-vs-batch test.
  */
object SparkEntry {

  val entries: Seq[Entry] = {
    val all = Seq(EventAnalytics, Relational, TextPipeline, Similarity, StreamingBench)
      .flatMap(_.entries)
    val twice = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(twice.isEmpty, s"entry names registered twice: ${twice.toSeq.sorted.mkString(",")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.EventAnalytics.hotUsers(spark, "/root/testdata/sf0.001")

  /** name → query, for every entry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  /** name → ANSI SQL DuckDB runs over the same parquet tables, for every entry. */
  val oracleSql: Map[String, String] = entries.map(e => e.name -> e.oracleSql).toMap

  /** name → the writer of the inputs its oracle reads besides the tables,
    * for the entries that have one. */
  val oracleInputs: Map[String, (SparkSession, String) => Unit] =
    entries.flatMap(e => e.writeOracleInputs.map(e.name -> _)).toMap

  /** The named entries of [[queries]], or all of them when `names` is
    * empty. Throws on an unknown name: a typo'd filter that ran nothing
    * would read as a fast or green run.
    */
  def select(names: Set[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown entry names: ${unknown.toSeq.sorted.mkString(",")}")
    queries.filter { case (n, _) => names.isEmpty || names(n) }
  }

  private lazy val streamNames = StreamingBench.entries.map(_.name).toSet

  /** True for the entries that run a streaming pipeline inside the query
    * and return only its sink re-read. */
  def isStream(name: String): Boolean = streamNames(name)
}
