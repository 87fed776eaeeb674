package graft.nexmark

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.Trigger
import graft.GraftSession
import graft.nexmark.queries.NexmarkQueries

/** Hot-key skew probe (VERDICT r8 Next #5): pins SURVEY §9.2's claim that
  * MAP-SIDE PARTIAL AGGREGATION absorbs the generator's hot-auction skew
  * with numbers, not prose.
  *
  * The bid generator sends 14% of all bids to the CURRENT hot auction
  * (NexmarkGen.bidAuction, ported from NexmarkBidSource.java:44-56) —
  * but the hot id is quantized to HotAuctionRatio=100 over 4-auction
  * epochs, so it ROTATES every ~225 bids and no single key dominates a
  * bench-volume window (measured: max key share 0.24% at 20k rows). The
  * probe therefore remaps the 14% hot branch onto ONE persistent
  * auctionId before the aggregation: the strictly harder case that the
  * rotating-hot-key reality is upper-bounded by.
  *
  * With 32 state partitions the mean partition carries ~3% of the
  * shuffled rows — an UNABSORBED persistent hot key would make its
  * partition read ~14% of them (≈4.5× the mean). Partial aggregation
  * pre-reduces each map partition to one row per (key, window), so the
  * hot key crosses the shuffle as ~#mapTasks rows and every reduce
  * task's read stays near the mean — measured here per stage from the
  * task-level shuffle-read metrics of the real streaming query.
  */
class SkewAbsorptionSpec extends SparkSpec {

  import SkewAbsorptionSpec.{HotKey, heat}

  test("partial aggregation absorbs a persistent 14% hot key: no state partition reads >2x the mean") {
    val cfg = GenConfig(eventsPerSecond = 1000L)
    val rowsPerSubtask = 20000L
    // sanity: the remapped skew is really in the data (hot key >= 10%)
    val sample = NexmarkGen.bids(cfg, rowsPerSubtask).map(heat).toSeq
    val hotShare = sample.count(_.auctionId == HotKey).toDouble / sample.size
    assert(hotShare >= 0.10, s"hot share only $hotShare")

    val reads = new scala.collection.concurrent.TrieMap[(Int, Long), Long]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          reads((te.stageId, te.taskInfo.taskId)) = m.shuffleReadMetrics.recordsRead
      }
    }
    GraftSession.withConf(spark)("spark.sql.shuffle.partitions" -> "32") {
      spark.sparkContext.addSparkListener(listener)
      try {
        import spark.implicits._
        val bids = NexmarkSources.bidStreamDsv2(spark, cfg, parallelism = 4,
          rows = rowsPerSubtask, rowsPerBatch = 5000L).map(heat)
        val q = NexmarkQueries.q5HotAuctions(bids, "10 seconds")
          .writeStream.format("memory").queryName("skewprobe")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(180000), "stream did not drain in 180s")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(spark.table("skewprobe").count() > 0)

    // group task reads by stage; judge every reduce stage of the stateful
    // agg (32 tasks, non-trivial volume)
    val byStage = reads.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2)).toMap
      .filter { case (_, rs) => rs.size == 32 && rs.sum > 1000 }
    assert(byStage.nonEmpty, s"no 32-task reduce stage captured; stages: ${
      reads.keys.map(_._1).toSeq.distinct.sorted}")
    byStage.foreach { case (stage, rs) =>
      val mean = rs.sum.toDouble / rs.size
      val worst = rs.max.toDouble
      assert(worst <= 2.0 * mean,
        s"stage $stage: hottest state partition read $worst rows vs mean $mean " +
          s"(${worst / mean}x) — hot key not absorbed by partial aggregation")
    }
  }
}

/** Serializable home for the hot-key remap (a spec-class method would drag
  * the non-serializable suite into the task closure). */
object SkewAbsorptionSpec {
  /** 14%-to-one-key remap: the persistent-hot-key worst case. Keyed off
    * the deterministic timestamp so stream and sample agree exactly. */
  val HotKey = 777000777L
  def heat(b: Bid): Bid =
    if (b.timestamp % 100 < 14) b.copy(auctionId = HotKey) else b
}
