package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-time attribution inside a single SparkEntry query, under
  * the EXACT bench session ([[graft.GraftSession.bench]], same `.count()`
  * timed action as graft.Bench). Prints each entry's formatted physical
  * plan once, then one line per Spark job of every timed run — wall
  * seconds, executor task time, shuffle bytes, and the job's callsite —
  * so an entry's total can be split into its actions (index build vs
  * serve rounds, checkpoint materializations, the final count).
  *
  *   runMain graft.tools.EntryProfile <entry> [sfDir] [runs]
  *
  * Measurement-only tool: never touched by the driver or the gates.
  */
object EntryProfile {
  def main(args: Array[String]): Unit = {
    System.setProperty("graft.stream.dumpInputs", "false")
    val names = args.headOption.getOrElse(sys.error("usage: EntryProfile <entry,entry,...> [sfDir] [runs]"))
      .split(",").map(_.trim).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val queries = SparkEntry.select(names.toSet)
    val spark = GraftSession.bench()

    final case class Job(id: Int, var desc: String = "", var t0: Long = 0L,
                         var t1: Long = 0L, var taskMs: Long = 0L,
                         var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
                         var stages: Int = 0, var gcMs: Long = 0L,
                         var deserMs: Long = 0L, var cpuMs: Long = 0L,
                         var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = Job(e.jobId)
        j.t0 = e.time
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, j)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
          j.taskMs += si.taskMetrics.executorRunTime
          j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.stages += 1
          j.gcMs += si.taskMetrics.jvmGCTime
          j.deserMs += si.taskMetrics.executorDeserializeTime
          j.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
          j.tasks += si.numTasks
        }
      }
    }

    names.foreach { name =>
    val fn = queries(name)
    // warmup at the smallest SF, like the bench
    try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    GraftSession.sweep(spark)
    // the plan, untimed; stream_* entries run their whole pipeline inside
    // the query fn and return a sink re-read, whose plan says nothing
    // about the pipeline, so they print none
    if (!SparkEntry.isStream(name)) {
      println(s"== $name plan ==")
      fn(spark, sfDir).explain("formatted")
      GraftSession.sweep(spark)
    }

    (1 to runs).foreach { r =>
      jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name run $r: total ${wall}%.3f s, ${jobs.size} jobs ==")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      js.foreach { j =>
        val w = (j.t1 - j.t0) / 1000.0
        println(f"job ${j.id}%3d ${w}%7.3f s  task ${j.taskMs / 1000.0}%8.3f s  cpu ${j.cpuMs / 1000.0}%7.3f gc ${j.gcMs / 1000.0}%6.3f deser ${j.deserMs / 1000.0}%6.3f  n ${j.tasks}%3d st ${j.stages}%2d  shR ${j.shuffleRead / 1024}%7d K shW ${j.shuffleWrite / 1024}%7d K  ${j.desc.take(70)}")
      }
      val sumJobs = js.map(j => (j.t1 - j.t0) / 1000.0).sum
      println(f"sum(job walls) ${sumJobs}%.3f s; gaps (driver/planning) ${wall - sumJobs}%.3f s")
      GraftSession.sweep(spark)
    }
    }
    spark.stop()
  }
}
