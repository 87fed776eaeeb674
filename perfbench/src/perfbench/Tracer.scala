package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A traced interval. `parent` is the id of the span that caused it, or -1. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** A Spark job, tagged with the benchmark's tag and the micro-batch id. */
final case class TracedJob(id: Int, tag: String, batch: Long, start: Long, var end: Long)

/** Job and task totals of one tag. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

/** SparkListener of a traced run: job intervals and job and task totals per
  * tag, the value of the local property `tagKey` the benchmark sets before
  * the work it measures (`perfbench.phase` for stream phases,
  * `perfbench.entry` for batch entries). Everything stays in memory until
  * it is read after the run.
  */
class Tracer(tagKey: String) extends SparkListener {
  private val jobs = ArrayBuffer.empty[TracedJob]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val totals = mutable.HashMap.empty[String, TaskTotals]

  def totalsOf(tag: String): TaskTotals = synchronized(totals.getOrElseUpdate(tag, new TaskTotals))

  /** Start and end of every finished job of `tag`. */
  def jobIntervals(tag: String): Seq[(Long, Long)] = synchronized {
    jobs.filter(j => j.tag == tag && j.end >= 0).map(j => (j.start, j.end)).toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(tagKey))).getOrElse("")
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L)
    jobs += TracedJob(e.jobId, tag, batch, e.time, -1L)
    e.stageIds.foreach(stageTag(_) = tag)
    totalsOf(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totalsOf(stageTag.getOrElse(e.stageId, ""))
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  /** Spans of one stream phase: micro-batch -> phase -> job. Spark reports
    * phase durations only, so phases are laid end to end from the batch
    * start in the order the micro-batch loop runs them.
    */
  def spans(phase: String, progress: Seq[StreamingQueryProgress]): Seq[Span] = synchronized {
    val out = ArrayBuffer.empty[Span]
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val phaseJobs = jobs.filter(j => j.tag == phase && j.end >= 0).groupBy(_.batch)
    progress.foreach { p =>
      val d = p.durationMs
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val batchSpan = Span(out.size, -1, s"batch ${p.batchId}", start,
        start + Option(d.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      out += batchSpan
      var t = start
      order.foreach { name =>
        Option(d.get(name)).map(_.longValue).foreach { ms =>
          val s = Span(out.size, batchSpan.id, name, t, t + ms)
          out += s
          t += ms
          if (name == "addBatch")
            phaseJobs.getOrElse(p.batchId, Nil).foreach { j =>
              out += Span(out.size, s.id, s"job ${j.id}", j.start, j.end)
            }
        }
      }
    }
    out.toSeq
  }
}

object Tracer {
  /** Wall time covered by the union of a set of intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var start, end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { total += end - start; start = a; end = b }
      else end = math.max(end, b)
    }
    total + (end - start)
  }

  /** Self time per span name class: duration minus the union of its
    * children's intervals (clipped to the span).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(s => s.name.takeWhile(_ != ' ')).map { case (cls, ss) =>
      cls -> ss.map { s =>
        val iv = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.end - s.start) - covered(iv)
      }.sum
    }
  }
}
