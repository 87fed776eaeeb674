package graft.nexmark.queries

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.nexmark._
import graft.nexmark.queries.NexmarkStateful.AB

/** QX winning-bid on Spark 4's `transformWithState` — the API whose state
  * model maps 1:1 onto the reference's Flink `KeyedProcessFunction`
  * (NexmarkQueryX.java:613-763):
  *
  *   | reference (Flink)                      | this port                  |
  *   |----------------------------------------|----------------------------|
  *   | `ValueState<AuctionEvent0>` in-flight  | `ValueState[Long]` (end)   |
  *   | `ListState<BidEvent0>` window contents | `ListState[QxBid]`         |
  *   | `registerEventTimeTimer(auction.end)`  | `getHandle.registerTimer`  |
  *   | `onTimer`: emit + clear                | `handleExpiredTimer`       |
  *
  * Contrast [[NexmarkStateful.qxStateful]] (flatMapGroupsWithState): there
  * the single `GroupState` value forces the running-max reformulation and
  * one timeout per key; `transformWithState` gives real named state
  * variables and true per-key timers, so the reference's accumulate-then-
  * resolve structure carries over verbatim (bids buffered in ListState,
  * winner chosen at timer fire). Requires the RocksDB state store
  * provider, the analog of the reference's RocksDB backend (pom.xml:
  * 204-218). The winner rule matches qxStateful's deterministic order:
  * price desc, then timestamp desc, then lower bidder.
  */
object NexmarkTws {

  case class QxBid(bidder: Long, price: Double, ts: Long)

  /** @param purgeHorizonMs event-time horizon after which residual state is
    *   purged — the `resolved` tombstone after resolution, and buffered bids
    *   whose auction never arrived. Defaults to the reference's 4 h failsafe
    *   window ([[NexmarkStateful.QXBackupTimeoutMs]], NexmarkQueryX.java:629),
    *   so every key's state is bounded by that horizon. (The reference leaks
    *   both: post-resolution bids append to a never-again-read ListState and
    *   orphan bids have no timer at all.) State TTL (`TTLConfig`) is
    *   processing-time-only in Spark, so an event-time query expresses the
    *   bound with a second timer per key instead.
    */
  class QxWinningBidProcessor(purgeHorizonMs: Long = NexmarkStateful.QXBackupTimeoutMs)
      extends StatefulProcessor[Long, AB, WinningBid] {
    // inFlightEnd stores the auction's end as the payload analog of the
    // reference's ValueState<AuctionEvent0> (only presence gates timer
    // registration — the timer itself carries the expiry, like the
    // reference's onTimer). `resolved` marks a key whose timer already
    // fired, so post-resolution bids are DROPPED instead of accumulating
    // forever; the flag itself is purged by a timer at resolution +
    // purgeHorizonMs. `cleanupAt` tracks the pending orphan-bid cleanup
    // timer so it registers once and can be cancelled when the auction
    // shows up.
    @transient private var inFlightEnd: ValueState[Long] = _
    @transient private var resolved: ValueState[Boolean] = _
    @transient private var bids: ListState[QxBid] = _
    @transient private var cleanupAt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      // names mirror the reference's state descriptors
      // (NexmarkQueryX.java:502-509)
      inFlightEnd = getHandle.getValueState[Long](
        "inflight-auction", Encoders.scalaLong, TTLConfig.NONE)
      resolved = getHandle.getValueState[Boolean](
        "resolved", Encoders.scalaBoolean, TTLConfig.NONE)
      bids = getHandle.getListState[QxBid](
        "window-contents", Encoders.product[QxBid], TTLConfig.NONE)
      cleanupAt = getHandle.getValueState[Long](
        "cleanup-at", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[AB],
                                 timerValues: TimerValues): Iterator[WinningBid] = {
      if (!resolved.exists()) rows.foreach { e =>
        if (e.isAuction) {
          // register once per auction, like the reference's null guard
          // (NexmarkQueryX.java:641-646)
          if (!inFlightEnd.exists()) {
            // retire the orphan-cleanup timer BEFORE registering at e.end:
            // if cleanupAt == e.end the (key, ts) timer slot is shared, and
            // delete-after-register would remove the resolution timer just
            // armed — leaving the auction unresolved and its state retained
            // forever
            if (cleanupAt.exists()) {
              getHandle.deleteTimer(cleanupAt.get())
              cleanupAt.clear()
            }
            inFlightEnd.update(e.end)
            getHandle.registerTimer(e.end)
          }
        } else {
          // no ts <= end filter, like the reference: onTimer scans the
          // full list without re-checking the window (:481-491), so a bid
          // with ts past `end` that arrives before the timer fires is
          // eligible — the declarative flavor's BETWEEN start AND end is
          // the spec-clean variant
          bids.appendValue(QxBid(e.bidder, e.price, e.ts))
          // orphan-bid bound: if no auction is in flight, arm one cleanup
          // timer so a key whose auction never arrives still frees its list
          if (!inFlightEnd.exists() && !cleanupAt.exists()) {
            val at = e.ts + purgeHorizonMs
            getHandle.registerTimer(at)
            cleanupAt.update(at)
          }
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[WinningBid] = {
      if (inFlightEnd.exists()) {
        // auction resolution (reference onTimer, NexmarkQueryX.java:691-762)
        var best: QxBid = null
        bids.get().foreach { b =>
          val better = best == null || b.price > best.price ||
            (b.price == best.price && (b.ts > best.ts ||
              (b.ts == best.ts && b.bidder < best.bidder)))
          if (better) best = b
        }
        inFlightEnd.clear()
        bids.clear()
        resolved.update(true)
        // purge the tombstone once late bids can no longer plausibly arrive
        getHandle.registerTimer(expiredTimerInfo.getExpiryTimeInMs() + purgeHorizonMs)
        if (best != null)
          Iterator.single(WinningBid(key, best.bidder, best.price, best.ts))
        else Iterator.empty
      } else {
        if (resolved.exists()) resolved.clear() // tombstone purge
        else { bids.clear(); cleanupAt.clear() } // orphan-bid cleanup
        Iterator.empty
      }
    }
  }

  /** Same input shape as [[NexmarkStateful.qxStateful]]; emits each
    * auction's winner when the watermark passes `auction.end`. */
  def qxWinningBidsTws(bids: Dataset[Bid], auctions: Dataset[Auction],
                       purgeHorizonMs: Long = NexmarkStateful.QXBackupTimeoutMs): Dataset[WinningBid] = {
    import bids.sparkSession.implicits._
    NexmarkStateful.bidsAndAuctions(bids, auctions)
      .groupByKey(_.auctionId)
      .transformWithState(new QxWinningBidProcessor(purgeHorizonMs),
        TimeMode.EventTime(), OutputMode.Append(), Encoders.product[WinningBid])
  }

  /** One merged-but-not-yet-closed session: `lastMs` is the max bid
    * timestamp, so the session's end is `lastMs + gap`. */
  case class SessionAcc(startMs: Long, lastMs: Long, count: Long, maxIngest: Long)

  /** All of one bidder's open sessions as a single state row — kept in a
    * ValueState rather than a ListState because the whole list is rewritten
    * on every touch anyway (merging can collapse ANY subset), and a
    * ValueState rewrite is one RocksDB get + one put per touched key where
    * the ListState equivalent was a merge-iterator scan + range-delete +
    * one append PER SESSION; with ~10⁵ touched keys per micro-batch the
    * state-op count is the dominant cost term (measured: ~14.5 s → the
    * recorded baseline at sf0.1 before this change). Nearly every key
    * holds exactly one open session, so the row stays tiny. */
  case class OpenSessions(sessions: Seq[SessionAcc])

  /** Output row shape of [[sessionsTws]] — identical columns to
    * [[NexmarkQueries.sessions]] so both ports share one oracle. */
  case class Q11Session(sessionStartMs: Long, sessionEndMs: Long, personId: Long,
                        bidCount: Long, maxTimestamp: Long, maxIngestionTimestamp: Long)

  /** Q11 session merge on transformWithState — the session-window analog
    * of [[QxWinningBidProcessor]]: where the declarative
    * `session_window` port delegates merging to Spark's session-state
    * operator, this one carries the reference's merging-window-state shape
    * explicitly (Flink's merging `WindowOperator` over a session
    * `MergingWindowAssigner`, NexmarkQueryX.java:765-786): the list of
    * open sessions per bidder (one ValueState row — see [[OpenSessions]]
    * for why not a ListState), merged on every arrival, closed by one
    * per-session event-time timer.
    *
    * Merge rule matches Spark/Flink session semantics exactly: intervals
    * [ts, ts+gap) merge when they overlap OR TOUCH (an exact-gap successor
    * extends the session — the boundary StreamingOracleBoundarySpec pins
    * for the declarative port). A bid bridging two open sessions collapses
    * them into one.
    *
    * Timer discipline: ONE timer PER OPEN SESSION, at its end.
    * transformWithState event-time timers fire when wm ≥ ts — INCLUSIVE,
    * unlike flatMapGroupsWithState timeouts which fire strictly below;
    * pinned empirically at sf0.1, where a timer at exactly the final
    * watermark fires (a session with end = wm + 1, timer end − 1 = wm,
    * emitted 8 boundary rows the append-mode oracle withholds until
    * end ≤ wm). Registering at `end` under the inclusive rule gives
    * exactly append-mode's emit-at-end==wm boundary.
    * The fire handler closes sessions by comparing their end against the
    * TIMER'S OWN expiry, never against `getCurrentWatermarkInMs()`: Spark
    * carries two per-batch watermarks (late-events = previous batch,
    * eviction = current), and a session whose end lands between them
    * would consume its only fire without emitting if the handler filtered
    * on the older value (observed as silently-dropped sessions at sf0.1).
    * Merges retire the absorbed sessions' timers and arm the merged end's
    * via a set-diff, so duplicate (key, ts) timer slots shared by two
    * equal-end sessions are never double-deleted. Generator timestamps
    * are globally non-decreasing, so a closed session can never be
    * extended afterwards (any later bid's ts ≥ wm + delay > end) — the
    * same invariant append-mode emission relies on.
    */
  class SessionWindowProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Bid, Q11Session] {
    @transient private var open: ValueState[OpenSessions] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSessions](
        "open-sessions", Encoders.product[OpenSessions], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Bid],
                                 timerValues: TimerValues): Iterator[Q11Session] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
      Option(open.get()).foreach(_.sessions.foreach(buf += _))
      val oldTimers = buf.map(_.lastMs + gapMs).toSet
      rows.foreach { b =>
        // start from the bid's own [ts, ts+gap) interval, absorb every
        // open session it overlaps or touches (possibly several — a
        // bridging bid collapses its neighbors)
        var acc = SessionAcc(b.timestamp, b.timestamp, 1L, b.ingestionTimestamp)
        var i = 0
        while (i < buf.length) {
          val s = buf(i)
          if (acc.startMs <= s.lastMs + gapMs && s.startMs <= acc.lastMs + gapMs) {
            acc = SessionAcc(math.min(acc.startMs, s.startMs),
              math.max(acc.lastMs, s.lastMs), acc.count + s.count,
              math.max(acc.maxIngest, s.maxIngest))
            buf.remove(i)
          } else i += 1
        }
        buf += acc
      }
      open.update(OpenSessions(buf.toSeq))
      val newTimers = buf.map(_.lastMs + gapMs).toSet
      (oldTimers diff newTimers).foreach(getHandle.deleteTimer)
      (newTimers diff oldTimers).foreach(getHandle.registerTimer)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Q11Session] = {
      // several timers may expire in one batch: the first invocation's
      // <= filter can close later-qualifying sessions too, and their own
      // fires then find nothing — harmless by construction
      val expiry = expiredTimerInfo.getExpiryTimeInMs()
      val buf = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
      Option(open.get()).foreach(_.sessions.foreach(buf += _))
      val (closed, stillOpen) = buf.partition(_.lastMs + gapMs <= expiry)
      if (closed.nonEmpty) {
        // deleting the row outright when nothing stays open keeps RocksDB
        // from accumulating empty lists for every bidder ever seen
        if (stillOpen.isEmpty) open.clear()
        else open.update(OpenSessions(stillOpen.toSeq))
      }
      closed.sortBy(_.startMs).iterator.map(s =>
        Q11Session(s.startMs, s.lastMs + gapMs, key, s.count, s.lastMs, s.maxIngest))
    }
  }

  /** Same input/output shape as [[NexmarkQueries.sessions]] (5 s gap, 2 s
    * watermark delay); emits each session when the watermark reaches its
    * end. */
  def sessionsTws(bids: Dataset[Bid], gapMs: Long = 5000L): Dataset[Q11Session] = {
    import bids.sparkSession.implicits._
    NexmarkQueries.watermarked(bids.toDF, "2 seconds")
      .as[Bid]
      .groupByKey(_.personId)
      .transformWithState(new SessionWindowProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append(), Encoders.product[Q11Session])
  }
}
