package graft.nexmark

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger
import graft.nexmark.queries.{NexmarkQueries, NexmarkStateful}

/** Batching-invariance of the streaming surface (the multi-batch oracle
  * argument, StreamingBench class doc): generator event time is globally
  * non-decreasing across micro-batches — every subtask emits the same
  * affine timestamp sequence and batch N covers strictly-later eventIds —
  * so intermediate watermark advances drop nothing and the append-mode
  * output is a pure function of the INPUT SET, not of how admission
  * control slices it into micro-batches.
  *
  * Pinned per stateful shape (tumbling agg, session merge, global argmax,
  * dedup, event-time timer state): running the same bounded source as ONE
  * micro-batch and as FOUR micro-batches yields identical output sets, and
  * the multi-batch run really did commit ≥ 4 batches. This is the
  * spec-level warrant for StreamingBench's final-watermark DuckDB oracles
  * staying exact at multi-batch scales.
  *
  * The timer shape carries a REAL extra condition the window shapes don't
  * (discovered by this spec's first fixture): monotone event time makes
  * window/session/dedup state untouchable once closed, but an ARMED TIMER
  * fires as soon as any intermediate watermark crosses its timestamp — and
  * qx bids may reference auctions long after the auction's end (the
  * reference's late-bid reality). If a timer fires mid-stream, bids
  * arriving in later batches miss the fired state and the output diverges
  * from the final-watermark model. Invariance therefore additionally
  * requires every armed end (≥ first event ts + 10 s auction duration) to
  * exceed every intermediate watermark (≤ span·(k−1)/k − 2 s for k
  * batches), i.e. event-time span ≤ (10 s + 2 s)·k/(k−1). The qx fixture
  * here sits inside that bound exactly like the sf0.01 correctness gate
  * (12.5 s span, 3 batches — StreamingBench class doc); at bench-only
  * scales beyond it (sf0.1: 125 s span) early fires are honest streaming
  * semantics and those runs stay timing-only, as in round 6.
  */
class StreamingMultiBatchSpec extends SparkSpec {

  private val Rows = 2000L // per subtask; ~2000s of event time at eps=1

  /** Run `query` over a bounded bid stream admitted in `batches` slices;
    * return (output rows as a multiset-ish sorted seq, committed batches).
    */
  private def run(batches: Int, query: Dataset[Bid] => DataFrame): (Seq[String], Int) = {
    val rpb = math.max(1L, (Rows + batches - 1) / batches)
    // eps=1: 1000 ms between consecutive events per subtask — many 5 s
    // windows/sessions close mid-stream, so intermediate watermark
    // advances genuinely fire state eviction in the multi-batch run
    val bids = NexmarkSources.bidStreamDsv2(spark, GenConfig(eventsPerSecond = 1L),
      parallelism = 2, rows = Rows, rowsPerBatch = rpb)
    val base = java.nio.file.Files.createTempDirectory(s"graftmb_$batches")
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val q = query(bids).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not drain in 300s")
    val committed = Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    val rows = spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    (rows, committed)
  }

  private def pinInvariance(name: String)(query: Dataset[Bid] => DataFrame): Unit =
    test(s"$name: 1-batch output == 4-batch output") {
      val (one, _) = run(1, query)
      val (four, committed) = run(4, query)
      assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
      assert(one.nonEmpty, "degenerate: no finalized output at this volume")
      assert(four == one)
    }

  pinInvariance("tumbling agg (q5 hot auctions)")(
    NexmarkQueries.q5HotAuctions(_, "5 seconds"))

  pinInvariance("session merge (q11 sessions)")(
    NexmarkQueries.sessions(_, "5 seconds"))

  pinInvariance("global argmax (q7 highest)")(
    NexmarkQueries.q7HighestBid(_, "5 seconds"))

  pinInvariance("watermarked dedup")(
    NexmarkQueries.dedupBids(_).toDF)

  pinInvariance("windowed CDC upsert compaction (stream_upsert_apply stage 1)")(
    bids => graft.queries.StreamingBench.upsertCompact(bids.toDF))

  pinInvariance("near-dup ingest guard (dedup + LSH corpus screen)") { bids =>
    // dedup state + stream-static posting-list probes: the corpus index is
    // the stream's own first-half prefix (the streamIncrementalNearDup
    // shape at spec volume), so exact dups, group near-dups and fresh docs
    // all genuinely occur; every output column is a pure function of the
    // id, so 4-batch admission must reproduce the 1-batch output exactly
    val corpus = spark.read.format("nexmark")
      .options(NexmarkSources.nexmarkOptions("bids",
        GenConfig(eventsPerSecond = 1L), 2, 1000L, 1000L))
      .load()
      .select(org.apache.spark.sql.functions.col("auctionId").as("corpus_id"))
      .distinct()
    // 2 subtasks × 1000 bids bound the corpus ids
    graft.queries.StreamingBench.nearDupGuard(bids.toDF, corpus, 2 * 1000L)
  }

  pinInvariance("ingestion quality gate (static battery + windowed accounting)") { bids =>
    // static side from the smallest fixture: per-source thresholds + pass
    // bits; every output column is a pure function of (auctionId,
    // timestamp), so 4-batch admission must reproduce the 1-batch output
    val gate = graft.queries.TextPipeline
      .qualityGateStatic(spark, "/root/testdata/sf0.001").localCheckpoint(true)
    graft.queries.StreamingBench.qualityGateStream(bids.toDF, gate, gate.count())
  }

  test("tws session merge == declarative session_window, and batching-invariant") {
    // the two Q11 ports are a state-backend-and-API head-to-head
    // (StreamingBench.streamQ11Tws); this pins output EQUALITY between
    // them on a fixture where many sessions close mid-stream, plus the
    // same 1-batch == 4-batch invariance the declarative port carries.
    // The 4-batch tws run is the regression net for the two timer-boundary
    // bugs the sf0.1 gate caught (watermark-filtered fires, exclusive
    // end−1 timers — NexmarkTws.SessionWindowProcessor doc).
    withRocksDB {
      val (declarative, _) = run(1, NexmarkQueries.sessions(_, "5 seconds"))
      def tws(batches: Int) =
        run(batches, graft.nexmark.queries.NexmarkTws.sessionsTws(_).toDF)
      val (one, _) = tws(1)
      val (four, committed) = tws(4)
      assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
      assert(declarative.nonEmpty, "degenerate: no finalized sessions at this volume")
      assert(one == declarative)
      assert(four == declarative)
    }
  }

  test("conversion-window funnel state: 1-batch output == 4-batch output") {
    // one-shot-timer + tombstone shape (NexmarkStateful.funnelStateful).
    // rows/eps chosen so the three streams' batch boundaries land on the
    // same event-time instants (500@eps100 vs 2000@eps400, 1:4 with 4×
    // spacing — the alignment StreamingBench.streamFunnel forces), and
    // W=2 s against a 5 s span so some windows close (and fire) under
    // INTERMEDIATE watermarks in the 4-batch run — the mid-stream-fire
    // path must agree with the 1-batch final-pass-only path.
    def funnel(batches: Int): (Seq[String], Int) = {
      val pRows = 500L; val abRows = 2000L
      val pRpb = math.max(1L, (pRows + batches - 1) / batches)
      val abRpb = math.max(1L, (abRows + batches - 1) / batches)
      val persons = NexmarkSources.personStreamDsv2(spark,
        GenConfig(eventsPerSecond = 100L), 2, pRows, pRpb)
      val auctions = NexmarkSources.auctionStreamDsv2(spark,
        GenConfig(eventsPerSecond = 400L), 2, abRows, abRpb)
      val bids = NexmarkSources.bidStreamDsv2(spark,
        GenConfig(eventsPerSecond = 400L), 2, abRows, abRpb)
      val base = java.nio.file.Files.createTempDirectory(s"graftmbfn_$batches")
      val out = s"$base/out"; val ckpt = s"$base/ckpt"
      val q = NexmarkStateful.funnelStateful(persons, auctions, bids, windowMs = 2000L)
        .toDF.writeStream
        .format("parquet").option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), "stream did not drain in 300s")
      val committed = Option(new java.io.File(s"$ckpt/commits").listFiles())
        .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
      (spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).toSeq.sorted, committed)
    }
    val (one, _) = funnel(1)
    val (four, committed) = funnel(4)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.nonEmpty, "degenerate: no closed conversion windows at this volume")
    assert(four == one)
  }

  /** Run a two-entity query admitted in `batches` slices per source. */
  private def runTwo(batches: Int, tag: String,
                     aRows: Long, aEps: Long, bRows: Long, bEps: Long)(
      query: (Dataset[Auction], Dataset[Bid]) => DataFrame): (Seq[String], Int) = {
    val aRpb = math.max(1L, (aRows + batches - 1) / batches)
    val bRpb = math.max(1L, (bRows + batches - 1) / batches)
    val auctions = NexmarkSources.auctionStreamDsv2(spark,
      GenConfig(eventsPerSecond = aEps), 2, aRows, aRpb)
    val bids = NexmarkSources.bidStreamDsv2(spark,
      GenConfig(eventsPerSecond = bEps), 2, bRows, bRpb)
    val base = java.nio.file.Files.createTempDirectory(s"graftmb${tag}_$batches")
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val q = query(auctions, bids).writeStream
      .format("parquet").option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(300000), "stream did not drain in 300s")
    val committed = Option(new java.io.File(s"$ckpt/commits").listFiles())
      .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0)
    (spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).toSeq.sorted, committed)
  }

  test("event-time timer state (qx winner): 1-batch output == 4-batch output") {
    // gate-regime fixture (class doc): span 15 s ∈ (12, 16) — auctions
    // with ts < span−12 resolve (non-empty), yet every armed end (≥ 10 s)
    // exceeds every intermediate watermark (≤ span·¾ − 2 = 9.25 s), so
    // timers fire only in the finalize batch, like the sf0.01 gate
    def qx(batches: Int) =
      runTwo(batches, "qx", aRows = 1500L, aEps = 100L, bRows = 6000L, bEps = 400L)(
        (a, b) => NexmarkStateful.qxStateful(b, a).toDF)
    val (one, _) = qx(1)
    val (four, committed) = qx(4)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.nonEmpty, "degenerate: no resolved auctions at this volume")
    assert(four == one)
  }

  /** Scala twin of StreamingBench.qxTimerSql's multi-batch timer replay:
    * reconstructs per-batch watermarks from the event set and replays each
    * key's timer. Validated here against the REAL ports at a fixture where
    * timers genuinely fire mid-stream (the divergence the first version of
    * this spec caught), which is what warrants the DuckDB oracle using the
    * same model at sf0.1.
    */
  private def qxReplay(auctions: Seq[(Long, Long, Long)], // (auctionId, ts, end)
                       bids: Seq[(Long, Long, Double, Long)], // (auctionId, personId, bid, ts)
                       aRpb: Long, bRpb: Long,
                       maxEnd: Boolean): Set[(Long, Long, Double, Long)] = {
    def batchOf(allTs: Seq[Long], rpb: Long): Long => Int = {
      val distinct = allTs.distinct.sorted
      val idx = distinct.zipWithIndex.toMap
      ts => (idx(ts) / rpb).toInt
    }
    val aB = batchOf(auctions.map(_._2), aRpb); val bB = batchOf(bids.map(_._4), bRpb)
    val perBatchMax = (auctions.map(a => aB(a._2) -> a._2) ++ bids.map(b => bB(b._4) -> b._4))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val dataBatches = perBatchMax.keys.max + 1
    def wm(k: Int): Long =
      if (k == 0) 0L
      else (0 until math.min(k, dataBatches)).map(perBatchMax).max - 2000L
    val finalize = dataBatches // first no-data batch
    val keys = auctions.groupBy(_._1)
    keys.flatMap { case (aId, as) =>
      val emax = as.map(_._3).max; val emin = as.map(_._3).min
      val la = as.map(a => aB(a._2)).max
      val kBids = bids.filter(_._1 == aId)
      val kb = (as.map(a => aB(a._2)) ++ kBids.map(b => bB(b._4))).toSet
      val fk: Option[Int] =
        if (maxEnd)
          (0 to finalize).find { k =>
            !kb.contains(k) && {
              val js = kb.filter(_ < k)
              js.nonEmpty && js.max >= la && wm(k) > math.max(emax, wm(js.max) + 1)
            }
          }
        else (0 to finalize).find(k => wm(k) >= emin) // tws timers fire inclusively (wm >= ts)
      fk.flatMap { f =>
        val eligible =
          if (maxEnd) kBids.filter(b => bB(b._4) < f)
          else kBids.filter(b => bB(b._4) <= f)
        eligible.sortBy(b => (-b._3, -b._4, b._2)).headOption
          .map(b => (aId, b._2, b._3, b._4))
      }
    }.toSet
  }

  private def divergentQxFixture(batches: Int, tws: Boolean): (Seq[String], Int) = {
    if (!tws) runTwo(batches, "qxdiv", aRows = 500L, aEps = 1L, bRows = 2000L, bEps = 4L)(
      (a, b) => NexmarkStateful.qxStateful(b, a).toDF)
    else {
      withRocksDB(runTwo(batches, "qxdivtws", aRows = 500L, aEps = 1L, bRows = 2000L, bEps = 4L)(
        (a, b) => graft.nexmark.queries.NexmarkTws.qxWinningBidsTws(b, a).toDF))
    }
  }

  private def qxModelExpected(maxEnd: Boolean): Set[(Long, Long, Double, Long)] = {
    // rpbs must mirror divergentQxFixture's 4-batch admission plan
    val aRpb = 125L; val bRpb = 500L
    val aOpts = NexmarkSources.nexmarkOptions("auctions", GenConfig(eventsPerSecond = 1L), 2, 500L, aRpb)
    val bOpts = NexmarkSources.nexmarkOptions("bids", GenConfig(eventsPerSecond = 4L), 2, 2000L, bRpb)
    val as = spark.read.format("nexmark").options(aOpts).load()
      .select("auctionId", "timestamp", "end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val bs = spark.read.format("nexmark").options(bOpts).load()
      .select("auctionId", "personId", "bid", "timestamp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    qxReplay(as, bs, aRpb, bRpb, maxEnd)
  }

  test("qx timer replay model matches the real port where timers fire mid-stream") {
    // eps=1 fixture: 500 s span >> the 12 s timer horizon, so most timers
    // fire in intermediate batches — the regime the final-watermark model
    // cannot express (and where this spec's first version caught it)
    val (rows, committed) = divergentQxFixture(4, tws = false)
    assert(committed >= 4)
    val got = rows.map { s =>
      val Array(a, b, p, t) = s.split('|'); (a.toLong, b.toLong, p.toDouble, t.toLong)
    }.toSet
    val want = qxModelExpected(maxEnd = true)
    assert(got.nonEmpty && got == want,
      s"model mismatch: extra=${got -- want}, missing=${want -- got}")
  }

  test("tws timer replay model matches the real port where timers fire mid-stream") {
    val (rows, committed) = divergentQxFixture(4, tws = true)
    assert(committed >= 4)
    val got = rows.map { s =>
      val Array(a, b, p, t) = s.split('|'); (a.toLong, b.toLong, p.toDouble, t.toLong)
    }.toSet
    val want = qxModelExpected(maxEnd = false)
    assert(got.nonEmpty && got == want,
      s"model mismatch: extra=${got -- want}, missing=${want -- got}")
  }

  test("stateful resume: interrupted-and-resumed run == uninterrupted run") {
    // the multi-batch analog of the source-level exactly-once spec: a
    // windowed AGGREGATION killed between micro-batches and resumed from
    // its checkpoint (state store + watermark + offsets restored) must
    // produce exactly the uninterrupted run's appended output
    def run(out: String, ckpt: String, rows: Long, rpb: Long): Unit = {
      val bids = NexmarkSources.bidStreamDsv2(spark, GenConfig(eventsPerSecond = 1L),
        parallelism = 2, rows = rows, rowsPerBatch = rpb)
      val q = NexmarkQueries.q5HotAuctions(bids, "5 seconds").writeStream
        .format("parquet").option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(300000), "stream did not drain in 300s")
    }
    val base = java.nio.file.Files.createTempDirectory("graftresume")
    // interrupted: first run is bounded at half the rows (the "kill"),
    // second reuses the SAME checkpoint with the full bound (the resume)
    run(s"$base/i/out", s"$base/i/ckpt", rows = 1000L, rpb = 500L)
    run(s"$base/i/out", s"$base/i/ckpt", rows = 2000L, rpb = 500L)
    // uninterrupted control at identical admission boundaries
    run(s"$base/u/out", s"$base/u/ckpt", rows = 2000L, rpb = 500L)
    val got = spark.read.parquet(s"$base/i/out").collect().map(_.toSeq.mkString("|")).sorted
    val want = spark.read.parquet(s"$base/u/out").collect().map(_.toSeq.mkString("|")).sorted
    assert(got.nonEmpty && got.sameElements(want),
      s"resumed output (${got.length}) != uninterrupted (${want.length})")
  }

  test("windowed stream-stream join (q8 new users): 1-batch output == 4-batch output") {
    // one union aggregate per (window, person) over both streams, closed
    // by the min of their watermarks; the person stream doubles as the
    // auction stream's seller space
    def q8(batches: Int) =
      runTwo(batches, "q8", aRows = 2000L, aEps = 4L, bRows = 2000L, bEps = 4L) {
        (auctions, _) =>
          val persons = NexmarkSources.personStreamDsv2(spark,
            GenConfig(eventsPerSecond = 1L), 2, 500L,
            math.max(1L, (500L + batches - 1) / batches))
          NexmarkQueries.q8NewUsers(persons, auctions, "5 seconds")
      }
    val (one, _) = q8(1)
    val (four, committed) = q8(4)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.nonEmpty, "degenerate: no joined windows at this volume")
    assert(four == one)
  }

  test("stream-stream interval join: 1-batch output == 4-batch output") {
    // pins the stream_interval_join oracle's no-cutoff model: inner-join
    // matches must be independent of where batch boundaries fall (state
    // eviction between batches never drops a future in-range match under
    // non-decreasing event time — qIntervalJoin scaladoc)
    def ij(batches: Int) =
      runTwo(batches, "ij", aRows = 1500L, aEps = 100L, bRows = 6000L, bEps = 400L)(
        (a, b) => NexmarkQueries.qIntervalJoin(b, a))
    val (one, _) = ij(1)
    val (four, committed) = ij(4)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.nonEmpty, "degenerate: no in-range matches at this volume")
    assert(four == one)
  }

  test("chained stateful windowed top-k: 1-batch output == 4-batch output") {
    // two stateful aggs share one watermark: windows must finalize
    // through BOTH stages identically wherever the batch boundaries fall
    val q = (bids: Dataset[Bid]) => NexmarkQueries.qWindowTopK(bids, "5 seconds")
    val (one, _) = run(1, q)
    val (four, committed) = run(4, q)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.nonEmpty, "degenerate: no finalized top-k windows at this volume")
    assert(four == one)
  }

  test("left-outer interval join: 1-batch output == 4-batch output, nulls emitted") {
    // null-row SET must be batch-boundary-invariant: a null row's
    // membership depends only on the FINAL watermark crossing its match
    // horizon (intermediate watermarks change when it emits, not whether)
    def oj(batches: Int) =
      runTwo(batches, "oj", aRows = 1500L, aEps = 100L, bRows = 6000L, bEps = 400L)(
        (a, b) => NexmarkQueries.qIntervalJoin(b, a, joinType = "left_outer"))
    val (one, _) = oj(1)
    val (four, committed) = oj(4)
    assert(committed >= 4, s"expected >= 4 committed batches, got $committed")
    assert(one.exists(_.contains("null")), "degenerate: no null rows at this volume " +
      "— the outer semantics were not exercised")
    assert(four == one)
  }
}
