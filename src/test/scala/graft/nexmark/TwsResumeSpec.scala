package graft.nexmark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.nexmark.queries.NexmarkTws

/** Checkpoint kill-and-resume for transformWithState + RocksDB (VERDICT
  * r8 Next #4): the r7 resume pin covers the classic state store; these
  * tests cover the tws shapes — named state (ValueState/ListState
  * column families) plus REAL per-key timers, snapshotted by RocksDB —
  * where timer re-registration across restore is exactly where
  * implementations break.
  *
  * Protocol (the NexmarkDataSourceSpec bound-raise trick): run the
  * bounded DSv2 source to HALF its rows and let the query terminate —
  * the final committed batch leaves open sessions / unresolved auctions
  * whose timers are ARMED in state (asserted: the interrupted run emitted
  * strictly fewer rows than the full run). Restart from the SAME
  * checkpoint with the bound raised; the source resumes from the
  * committed offset and the restored state+timers must finish the job.
  * PASS = the interrupted+resumed output multiset equals an
  * uninterrupted run's over identical input.
  */
class TwsResumeSpec extends SparkSpec {

  private def withRocksDB[T](body: => T): T =
    graft.GraftSession.withConf(spark)("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  // 10 ms event spacing → a 30 s span at 3000 rows/subtask: wide enough
  // that the 2 s watermark delay closes most 500 ms-gap sessions and
  // resolves most 10 s auctions by end-of-stream, while the half-bound
  // run leaves plenty open (the armed-timer precondition)
  private val cfg = GenConfig(eventsPerSecond = 100L)

  private def drain(result: DataFrame, out: String, ckpt: String): Unit = {
    val q = result.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "stream did not drain in 180s")
  }

  /** Rows as (count, multiset) for exact output comparison. */
  private def snapshot(out: String): (Long, Set[Seq[Any]]) = {
    val df = spark.read.parquet(out)
    (df.count(), df.collect().map(_.toSeq).toSet)
  }

  test("sessionsTws survives kill-and-resume: restored sessions + timers finish the job") {
    val base = java.nio.file.Files.createTempDirectory("twsresume")
    val interrupted = s"$base/int"; val ckptI = s"$base/ckptI"
    val full = s"$base/full"; val ckptF = s"$base/ckptF"
    def bids(rows: Long) =
      NexmarkSources.bidStreamDsv2(spark, cfg, parallelism = 2, rows = rows, rowsPerBatch = 500L)
    withRocksDB {
      // part 1: half the stream, then the query terminates with open
      // sessions and their timers armed in RocksDB
      drain(NexmarkTws.sessionsTws(bids(1500L), gapMs = 500L).toDF, interrupted, ckptI)
      val (half, _) = snapshot(interrupted)
      // part 2: SAME checkpoint, bound raised — resumes mid-stream
      drain(NexmarkTws.sessionsTws(bids(3000L), gapMs = 500L).toDF, interrupted, ckptI)
      // uninterrupted control over identical input
      drain(NexmarkTws.sessionsTws(bids(3000L), gapMs = 500L).toDF, full, ckptF)
      val (nResumed, resumed) = snapshot(interrupted)
      val (nFull, control) = snapshot(full)
      assert(half < nFull,
        s"interrupted run must stop with work (open sessions) outstanding: $half vs $nFull")
      assert(nResumed == nFull, s"row count after resume: $nResumed != $nFull")
      assert(resumed == control, "resumed output differs from uninterrupted run")
      assert(nFull > 0)
    }
  }

  /** qx is NOT byte-identical across a kill, by documented design: the
    * processor (reference fidelity, QxWinningBidProcessor:94-98) lets a
    * bid with ts past `end` count as long as it ARRIVES before the timer
    * fires, so an auction whose timer straddles the kill point fires at
    * the kill (AvailableNow's final no-data batch) having seen fewer bids
    * than the control, whose same timer fires one batch later TOGETHER
    * with the next batch's input. With 500-rows/batch × 10 ms spacing the
    * straddling timers are exactly those with end in
    * (wmAfterBatch2, wmAtKill] = (base+7990, base+12990]. The restore
    * contract is therefore: every auction resolves EXACTLY ONCE (no timer
    * lost, none doubled), rows identical outside that window, and every
    * difference explained by it.
    */
  test("qxWinningBidsTws kill-and-resume: exactly-once resolution; diffs confined to the straddling-timer window") {
    val base = java.nio.file.Files.createTempDirectory("twsresumeqx")
    val interrupted = s"$base/int"; val ckptI = s"$base/ckptI"
    val full = s"$base/full"; val ckptF = s"$base/ckptF"
    def topo(rows: Long) = {
      val bids = NexmarkSources.bidStreamDsv2(spark, cfg, 2, rows, 500L)
      val auctions = NexmarkSources.auctionStreamDsv2(spark, cfg, 2, rows, 500L)
      NexmarkTws.qxWinningBidsTws(bids, auctions).toDF
    }
    withRocksDB {
      drain(topo(1500L), interrupted, ckptI)
      val (half, _) = snapshot(interrupted)
      drain(topo(3000L), interrupted, ckptI)
      drain(topo(3000L), full, ckptF)
      val (nResumed, resumed) = snapshot(interrupted)
      val (nFull, control) = snapshot(full)
      assert(half < nFull,
        s"interrupted run must stop with unresolved auctions: $half vs $nFull")
      assert(nResumed == nFull, s"row count after resume: $nResumed != $nFull")
      assert(nFull > 0)
      def ids(s: Set[Seq[Any]]) = s.map(_.head.asInstanceOf[Long])
      // exactly-once resolution: same auction set, one row per auction
      // (counts already equal, so set equality rules out double-fires too)
      assert(ids(resumed) == ids(control), "resolved auction sets differ")
      assert(ids(resumed).size == nResumed, "an auction resolved more than once")
      // every differing row sits in the straddling-timer window
      val sensitive: Set[Long] = (0 until 2).flatMap { st =>
        NexmarkGen.auctions(GenConfig(eventsPerSecond = 100L, subtask = st, parallelism = 2), 3000)
          .filter(a => a.end > cfg.baseTimestamp + 7990L && a.end <= cfg.baseTimestamp + 12990L)
          .map(_.auctionId)
      }.toSet
      val diffIds = ids((resumed -- control) ++ (control -- resumed))
      assert(diffIds.subsetOf(sensitive),
        s"diffs outside the straddling-timer window: ${(diffIds -- sensitive).take(5)}")
      // the non-sensitive majority must be byte-identical
      assert((control -- resumed).forall(r => sensitive(r.head.asInstanceOf[Long])))
    }
  }
}
