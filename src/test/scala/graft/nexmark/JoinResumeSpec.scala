package graft.nexmark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.nexmark.queries.NexmarkQueries

/** Checkpoint kill-and-resume for STREAM-STREAM JOIN state — the restore
  * surface the tws/agg resume pins don't touch: the symmetric hash join
  * keeps BOTH sides' unmatched rows in per-side state stores, and a
  * restore must bring back (a) the buffered rows, (b) each side's state
  * watermark (or evicted rows would re-buffer / surviving rows would
  * drop), and (c) for the OUTER flavor the not-yet-emitted null
  * obligations.
  *
  * Same bound-raise protocol as TwsResumeSpec: run the bounded source to
  * half its rows, let the query terminate with unmatched rows buffered,
  * restart from the SAME checkpoint with the bound raised. Unlike the qx
  * timer port there is no arrival-order quirk here: the match set and
  * the null set are both pure functions of the input and the final
  * watermark (qIntervalJoin scaladoc), so interrupted+resumed must be
  * BYTE-IDENTICAL to the uninterrupted control — inner on the default
  * store, left-outer on RocksDB so both providers' join-state restore
  * paths are exercised.
  */
class JoinResumeSpec extends SparkSpec {

  private val cfg = GenConfig(eventsPerSecond = 100L)

  private def drain(result: DataFrame, out: String, ckpt: String): Unit = {
    val q = result.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "stream did not drain in 180s")
  }

  private def snapshot(out: String): (Long, Set[Seq[Any]]) = {
    val df = spark.read.parquet(out)
    (df.count(), df.collect().map(_.toSeq).toSet)
  }

  private def topo(rows: Long, joinType: String): DataFrame = {
    val bids = NexmarkSources.bidStreamDsv2(spark, cfg, 2, rows * 4, 500L)
    val auctions = NexmarkSources.auctionStreamDsv2(spark, cfg, 2, rows, 500L)
    NexmarkQueries.qIntervalJoin(bids, auctions, joinType = joinType)
  }

  private def runKillResume(joinType: String): Unit = {
    val base = java.nio.file.Files.createTempDirectory(s"joinresume_$joinType")
    val interrupted = s"$base/int"; val ckptI = s"$base/ckptI"
    val full = s"$base/full"; val ckptF = s"$base/ckptF"
    drain(topo(750L, joinType), interrupted, ckptI)
    val (half, _) = snapshot(interrupted)
    drain(topo(1500L, joinType), interrupted, ckptI)
    drain(topo(1500L, joinType), full, ckptF)
    val (nResumed, resumed) = snapshot(interrupted)
    val (nFull, control) = snapshot(full)
    assert(half < nFull,
      s"interrupted run must stop with matches outstanding: $half vs $nFull")
    assert(nFull > 0)
    assert(nResumed == nFull, s"row count after resume: $nResumed != $nFull")
    assert(resumed == control, "resumed join output differs from uninterrupted run")
    if (joinType == "left_outer")
      assert(control.exists(_(4) == null),
        "degenerate: no null rows — outer state restore was not exercised")
  }

  test("inner interval join survives kill-and-resume (default store)") {
    runKillResume("inner")
  }

  test("left-outer interval join survives kill-and-resume (RocksDB), null obligations restored") {
    withRocksDB { runKillResume("left_outer") }
  }
}
