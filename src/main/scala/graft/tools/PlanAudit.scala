package graft.tools

/** Plan-quality audit over every batch SparkEntry query (stream_* entries
  * are skipped — see the note at the loop): counts shuffles, join
  * strategies, codegen coverage, and scan pruning — the checklist the
  * 100 TB design review cares about. runMain graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {

  /** The batch entries allowed to plan partition-less windows, each with
    * how many. Every such window runs over an input bounded by construction:
    * r_monthly_trend's post-aggregation lag (calendar-sized — Relational.scala
    * comment), r_zorder_layout's two (the dense rank over the ~80 distinct
    * order months, once in each layout's branch of the union — the
    * zorderLayout scaladoc) and t_dsir_select's two (the 64-row
    * bucket-distribution totals and the rank over the top-DsirKeep cut
    * AFTER TakeOrderedAndProject — TextPipeline.dsirSelect comments).
    * PlanSweepSpec fails any entry whose count differs. */
  private[graft] val SanctionedGlobalWindows: Map[String, Int] =
    Map("r_monthly_trend" -> 1, "r_zorder_layout" -> 2, "t_dsir_select" -> 2)

  /** Partition-less windows in `df`'s optimized plan: every row through ONE
    * task, the scale-killer pattern. */
  private[graft] def globalWindows(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }.size

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    println(f"${"query"}%-24s ${"xchg"}%4s ${"bhj"}%4s ${"smj"}%4s ${"bnlj"}%5s ${"sortagg"}%7s ${"gwin"}%5s  readSchemaCols")
    var totalGlobalWindows = 0
    // stream_* entries RUN a whole streaming pipeline inside the query fn
    // and return only the sink re-read — auditing that scan is meaningless
    // and slow; their plan story is the streaming specs + bench numbers
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(e => graft.SparkEntry.isStream(e._1)).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        def c(p: String) = p.r.findAllIn(s).size
        val gwin = globalWindows(df)
        totalGlobalWindows += gwin
        val scans = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(s)
          .map(_.group(1).split(",").length).toSeq
        println(f"$name%-24s ${c("Exchange")}%4d ${c("BroadcastHashJoin")}%4d " +
          f"${c("SortMergeJoin")}%4d ${c("BroadcastNestedLoopJoin")}%5d " +
          f"${c("SortAggregate")}%7d $gwin%5d  ${scans.mkString(",")}")
      } catch { case e: Throwable =>
        println(f"$name%-24s ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(60)}") }
    }
    val sanctioned = SanctionedGlobalWindows.toSeq.sorted.map { case (n, k) => s"$n x$k" }
    println(s"global-window (no partition) occurrences: $totalGlobalWindows " +
      s"(expected: ${SanctionedGlobalWindows.values.sum} — ${sanctioned.mkString(", ")}, all bounded inputs)")
    spark.stop()
  }
}
