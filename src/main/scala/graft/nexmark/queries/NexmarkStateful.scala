package graft.nexmark.queries

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.nexmark._

/** Stateful exact-semantics ports of the reference's timer-driven operators
  * (SURVEY §2.4 J1/J3/J4, §2.5 A1, §2.6 W6/W8): Flink's
  * KeyedProcessFunction + ValueState/ListState + timers map onto
  * `flatMapGroupsWithState` with `GroupStateTimeout` — keyed state lives in
  * Spark's state store (RocksDB-backed when configured, the analog of the
  * reference's RocksDB backend, pom.xml:204-218).
  *
  * Divergences (documented per SURVEY §7.4):
  *   - the reference's Q5 timer is registered at the *absolute* timestamp
  *     `windowDuration` (NexmarkQuery5.java:239-241) — near epoch, so it
  *     fires at the first watermark. Spark refuses timeouts below the
  *     current watermark, so we clamp to watermark+1: the observable
  *     behavior (one-shot flush once the watermark passes the timer) is
  *     identical.
  *   - Q8's JoinUDF retains all state forever (NexmarkQuery8.java:634, no
  *     cleanup); the port keeps NoTimeout state for fidelity by default,
  *     with an opt-in idle-state TTL (`stateTtlMs`) as the
  *     production-scale mode. The declarative flavor
  *     (NexmarkQueries.q8NewUsers) is the watermark-bounded version to
  *     use at scale.
  */
object NexmarkStateful {

  // ---- Q5: per-auction one-shot window aggregate (A1) ----

  /** NexmarkQuery5.java:444-483 accumulator: max price, bid count and the
    * latest (timestamp, ingestionTimestamp). `add` is the per-bid fold
    * (:461-480), `merge` the partial combine (:402-422); the stamps start
    * at Long.MinValue so [[Q5Acc.Zero]] is the identity of both. */
  case class Q5Acc(maxPrice: Double, count: Long, lastTs: Long, lastIngest: Long) {
    def add(b: Bid): Q5Acc = Q5Acc(math.max(maxPrice, b.bid), count + 1,
      math.max(lastTs, b.timestamp), math.max(lastIngest, b.ingestionTimestamp))
    def merge(o: Q5Acc): Q5Acc = Q5Acc(math.max(maxPrice, o.maxPrice), count + o.count,
      math.max(lastTs, o.lastTs), math.max(lastIngest, o.lastIngest))
  }
  object Q5Acc {
    val Zero: Q5Acc = Q5Acc(Double.MinValue, 0L, Long.MinValue, Long.MinValue)
  }

  /** NexmarkQuery5.java:201-251: accumulate max/count/latest per auctionId;
    * one event-time timer flushes and removes the accumulator.
    */
  def q5Stateful(bids: Dataset[Bid], windowDurationMs: Long,
                 wm: String = "2 seconds"): Dataset[Query5Output] = {
    import bids.sparkSession.implicits._
    val withTime = NexmarkQueries.watermarked(bids.toDF, wm)
      .as[Bid]
    withTime
      .groupByKey(_.auctionId)
      .flatMapGroupsWithState[Q5Acc, Query5Output](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (auctionId, rows, state: GroupState[Q5Acc]) =>
          if (state.hasTimedOut) {
            // timer fired (NexmarkQuery5.java:246-250): emit + remove
            val acc = state.get
            state.remove()
            Iterator.single(Query5Output(
              auctionId, acc.maxPrice, acc.count, acc.lastTs, acc.lastIngest,
              state.getCurrentWatermarkMs()))
          } else {
            state.update(rows.foldLeft(state.getOption.getOrElse(Q5Acc.Zero))(_ add _))
            // absolute-duration timer quirk, clamped to the watermark floor
            state.setTimeoutTimestamp(
              math.max(windowDurationMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Q5b variant (NexmarkQuery5b.java:165-215): same accumulator but a
    * *processing-time* timer (:204) — flush each auction `flushIntervalMs`
    * of wall clock after its last update. ProcessingTimeTimeout is reset on
    * every element, like the reference re-registering its timer.
    */
  def q5bStateful(bids: Dataset[Bid], flushIntervalMs: Long,
                  wm: String = "2 seconds"): Dataset[Query5Output] = {
    import bids.sparkSession.implicits._
    val withTime = NexmarkQueries.watermarked(bids.toDF, wm)
      .as[Bid]
    withTime
      .groupByKey(_.auctionId)
      .flatMapGroupsWithState[Q5Acc, Query5Output](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        case (auctionId, rows, state: GroupState[Q5Acc]) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            Iterator.single(Query5Output(
              auctionId, acc.maxPrice, acc.count, acc.lastTs, acc.lastIngest,
              System.currentTimeMillis()))
          } else {
            state.update(rows.foldLeft(state.getOption.getOrElse(Q5Acc.Zero))(_ add _))
            state.setTimeoutDuration(flushIntervalMs)
            Iterator.empty
          }
      }
  }

  // ---- Q8/Q11: union + keyed join with latest-person state (J1/J3) ----

  /** Tagged union element for the JoinUDF port (replaces TaggedUnion /
    * JoinHelper.java:24-96 — Spark needs one schema, so nullable sides).
    */
  case class PA(personId: Long, isPerson: Boolean, creationTs: Long, ingestionTs: Long)
  case class Q8State(personTs: Long, personIngest: Long, hasPerson: Boolean, othersSeen: Long)

  /** Per-JVM probe counters, keyed by a per-query id. The reference's
    * `seenAuctions` (NexmarkQuery8.java:610,635) is a PLAIN OPERATOR FIELD
    * — one counter per subtask across ALL keys, not keyed state. A keyed
    * counter would sample almost never (the generator rotates hot keys far
    * below the 200k threshold, so no single key accumulates enough). The
    * Spark analog of "per subtask" is one counter per executor JVM per
    * query instance; closures capture the id string and resolve the
    * counter on the executor, so task re-serialization never resets it.
    * Like the reference's field (NOT in snapshotState — :647-649), the
    * counter is outside checkpointed state: a task retry or restore
    * re-counts, so WHICH element carries a probe is nondeterministic
    * under failure. Probes are latency samples, not results — only their
    * rate matters, exactly as in the reference.
    */
  private object ProbeCounters {
    /** Bounded registry: queries have no executor-side termination hook, so
      * entries of long-gone query instances cannot be removed exactly when
      * their query stops; instead the registry is an access-ordered LRU
      * capped at [[MaxEntries]]. Every live query touches its counter on
      * each task, so under the cap active entries are never evicted; stale
      * instances age out instead of accumulating forever. (Worst case of a
      * wrongful eviction — >MaxEntries query instances live in one JVM —
      * resets that instance's probe phase, which only shifts WHICH element
      * carries a probe: already nondeterministic under retries, see above.)
      */
    private val MaxEntries = 1024
    private val counters = new java.util.LinkedHashMap[
        String, java.util.concurrent.atomic.AtomicLong](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.util.concurrent.atomic.AtomicLong]): Boolean =
        size() > MaxEntries
    }
    private val nextId = new java.util.concurrent.atomic.AtomicInteger()
    def freshId(): String = s"q8probe-${nextId.incrementAndGet()}"
    def get(id: String): java.util.concurrent.atomic.AtomicLong = counters.synchronized {
      val existing = counters.get(id)
      if (existing != null) existing
      else {
        val fresh = new java.util.concurrent.atomic.AtomicLong()
        counters.put(id, fresh)
        fresh
      }
    }

    /** Per-task handle: resolves the shared counter ONCE per deserialized
      * task (transient lazy val) instead of taking the registry lock once
      * per key-group per micro-batch — with person-id key cardinality that
      * lock would serialize millions of group invocations per batch across
      * all cores. The LRU is still touched every task, so active entries
      * stay hot under the cap.
      */
    final class Handle(id: String) extends Serializable {
      @transient lazy val counter: java.util.concurrent.atomic.AtomicLong = get(id)
    }
  }

  /** NexmarkQuery8.java:602-662 (reused by Q11 with bids,
    * NexmarkQuery11File.java:397-457): keep the latest person per key; emit
    * one output per person element immediately; emit a sampled probe (id
    * negated, sink discriminates by sign — NexmarkQuery8.java:388-414)
    * every `sampleEvery`-th non-person element counted ACROSS keys per JVM
    * (see [[ProbeCounters]]). The keyed `othersSeen` count is retained as
    * the bounded analog of the reference's unbounded `matchingAuctions`
    * ListState (accumulated, never read back — :634).
    *
    * @param stateTtlMs production-scale mode: when set, a key whose state
    *   has gone `stateTtlMs` of processing time without an update is
    *   silently expired (a later element for the key simply starts fresh,
    *   as if never seen). The DEFAULT (None) keeps the reference's exact
    *   retain-forever semantics (NexmarkQuery8.java:634 registers no
    *   cleanup), which is the right fidelity port but unbounded on a
    *   stream with unbounded key cardinality — the TTL flavor is what a
    *   real deployment runs. Expiry is idle-time based (the timer re-arms
    *   on every update), so hot persons are never evicted no matter how
    *   long the stream runs.
    */
  def joinUdfStateful(elems: Dataset[PA], sampleEvery: Long = 200000L,
                      stateTtlMs: Option[Long] = None): Dataset[Query8Output] = {
    import elems.sparkSession.implicits._
    val probe = new ProbeCounters.Handle(ProbeCounters.freshId())
    val withTime = NexmarkQueries.watermarked(elems.toDF, "2 seconds", "creationTs")
      .as[PA]
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    withTime
      .groupByKey(_.personId)
      .flatMapGroupsWithState[Q8State, Query8Output](
        OutputMode.Append, timeoutConf) {
        case (personId, rows, state: GroupState[Q8State]) =>
          if (state.hasTimedOut) {
            // idle-TTL expiry: drop the state, emit nothing (only reachable
            // in the stateTtlMs mode — NoTimeout never times out)
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(Q8State(-1L, -1L, hasPerson = false, 0L))
            val out = Iterator.newBuilder[Query8Output]
            val seen = probe.counter
            rows.foreach { e =>
              if (e.isPerson) {
                st = st.copy(personTs = e.creationTs, personIngest = e.ingestionTs, hasPerson = true)
                // NexmarkQuery8.java:612-633: output per person immediately
                out += Query8Output(e.creationTs, e.creationTs, e.ingestionTs, -1L, -1L, personId)
              } else {
                st = st.copy(othersSeen = st.othersSeen + 1)
                if (seen.incrementAndGet() % sampleEvery == 0) // :635 (1-per-200k)
                  out += Query8Output(e.creationTs, -1L, -1L, e.creationTs, e.ingestionTs, -personId)
              }
            }
            state.update(st)
            stateTtlMs.foreach(ttl => state.setTimeoutDuration(ttl)) // re-armed per update
            out.result()
          }
      }
  }

  def q8Stateful(persons: Dataset[Person], auctions: Dataset[Auction],
                 sampleEvery: Long = 200000L,
                 stateTtlMs: Option[Long] = None): Dataset[Query8Output] = {
    import persons.sparkSession.implicits._
    val p = persons.map(x => PA(x.personId, isPerson = true, x.timestamp, x.ingestionTimestamp))
    val a = auctions.map(x => PA(x.personId, isPerson = false, x.timestamp, x.ingestionTimestamp))
    joinUdfStateful(p.unionByName(a), sampleEvery, stateTtlMs)
  }

  def q11Stateful(persons: Dataset[Person], bids: Dataset[Bid],
                  sampleEvery: Long = 200000L,
                  stateTtlMs: Option[Long] = None): Dataset[Query8Output] = {
    import persons.sparkSession.implicits._
    val p = persons.map(x => PA(x.personId, isPerson = true, x.timestamp, x.ingestionTimestamp))
    val b = bids.map(x => PA(x.personId, isPerson = false, x.timestamp, x.ingestionTimestamp))
    joinUdfStateful(p.unionByName(b), sampleEvery, stateTtlMs)
  }

  // ---- QX: winning bid resolved at auction end (J4/J5) ----

  /** Tagged union of bids and auctions keyed by auctionId. */
  case class AB(auctionId: Long, isAuction: Boolean, end: Long,
                bidder: Long, price: Double, ts: Long)

  /** Bids and auctions as one [[AB]] stream, event time `ts` under a 2 s
    * watermark: the input of both QX winning-bid ports. */
  def bidsAndAuctions(bids: Dataset[Bid], auctions: Dataset[Auction]): Dataset[AB] = {
    import bids.sparkSession.implicits._
    val b = bids.map(x => AB(x.auctionId, isAuction = false, -1L, x.personId, x.bid, x.timestamp))
    val a = auctions.map(x => AB(x.auctionId, isAuction = true, x.end, -1L, -1.0, x.timestamp))
    NexmarkQueries.watermarked(b.unionByName(a).toDF, "2 seconds", "ts")
      .as[AB]
  }

  case class QXState(end: Long, hasAuction: Boolean,
                     bestPrice: Double, bestBidder: Long, bestTs: Long, hasBid: Boolean,
                     backupDeadlineMs: Long = Long.MaxValue)

  /** The reference's processing-time failsafe window: Time.hours(4)
    * (NexmarkQueryX.java:629). */
  val QXBackupTimeoutMs: Long = 4L * 3600 * 1000

  /** NexmarkQueryX.java:613-763 / WinningBidsMapper :447-511: track the
    * in-flight auction and the best bid per auctionId; an event-time timer
    * at `auction.end` emits the winner and clears state. Bids may arrive
    * before their auction (staging map in the reference) — the running-max
    * replaces the 32-bid staging buckets (only the winner is ever emitted).
    *
    * Backup processing-time timer (NexmarkQueryX.java:640-647): when the
    * auction arrives, the reference ALSO registers a processing-time timer
    * at now + 4 h, so an auction whose watermark stalls forever still
    * resolves (onTimer :691 emits and clears for either timer kind).
    * Spark's flatMapGroupsWithState allows one timeout conf per query, so
    * the port keeps EventTimeTimeout as the primary and stores the
    * wall-clock deadline in state: every invocation for the key first
    * checks the deadline and resolves the auction if it has passed.
    * Divergence (documented): a key receiving NO further elements under a
    * stalled watermark is never re-invoked, so the deadline is enforced at
    * the key's next wake-up rather than spontaneously — with the
    * generator's continuous per-key traffic the practical difference is
    * one batch interval. `now` is injectable for deterministic specs.
    */
  def qxStateful(bids: Dataset[Bid], auctions: Dataset[Auction],
                 backupTimeoutMs: Long = QXBackupTimeoutMs,
                 now: () => Long = () => System.currentTimeMillis()): Dataset[WinningBid] = {
    import bids.sparkSession.implicits._
    bidsAndAuctions(bids, auctions)
      .groupByKey(_.auctionId)
      .flatMapGroupsWithState[QXState, WinningBid](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (auctionId, rows, state: GroupState[QXState]) =>
          def emitAndClear(st: QXState): Iterator[WinningBid] = {
            state.remove()
            if (st.hasAuction && st.hasBid)
              Iterator.single(WinningBid(auctionId, st.bestBidder, st.bestPrice, st.bestTs))
            else Iterator.empty
          }
          if (state.hasTimedOut) {
            emitAndClear(state.get)
          } else {
            var st = state.getOption.getOrElse(
              QXState(-1L, hasAuction = false, -1.0, -1L, -1L, hasBid = false))
            rows.foreach { e =>
              if (e.isAuction) {
                // register the wall-clock failsafe once, on auction arrival
                // (reference :641-646 guards on inFlightAuction == null)
                val deadline =
                  if (st.hasAuction) st.backupDeadlineMs else now() + backupTimeoutMs
                st = st.copy(end = e.end, hasAuction = true, backupDeadlineMs = deadline)
              } else {
                // deterministic winner: price, then timestamp, then lower bidder
                val better = !st.hasBid || e.price > st.bestPrice ||
                  (e.price == st.bestPrice && (e.ts > st.bestTs ||
                    (e.ts == st.bestTs && e.bidder < st.bestBidder)))
                if (better)
                  st = st.copy(bestPrice = e.price, bestBidder = e.bidder,
                               bestTs = e.ts, hasBid = true)
              }
            }
            if (st.hasAuction && now() >= st.backupDeadlineMs) {
              // processing-time failsafe fired: resolve despite the stalled
              // watermark (reference onTimer handles both timer kinds)
              emitAndClear(st)
            } else {
              state.update(st)
              if (st.hasAuction)
                state.setTimeoutTimestamp(
                  math.max(st.end, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
          }
      }
  }

  // ---- conversion funnel: CEP-style ordered pattern detection ----

  /** Tagged per-person funnel event: kind 0 = person created (the signup),
    * 1 = auction listed by that person, 2 = bid placed by that person.
    * The kind is also the equal-timestamp processing order within a batch.
    */
  case class FEvent(personId: Long, kind: Int, ts: Long)
  case class FunnelState(sMs: Long, vMs: Long, pMs: Long, done: Boolean)
  case class FunnelOut(personId: Long, sMs: Long, vMs: Long, pMs: Long, stage: Int)

  /** Ordered conversion funnel with a fixed per-key conversion window —
    * the product-analytics "signup → first listing → first sale-bid
    * within W of signup" pattern, as a keyed state machine with ONE
    * event-time timer armed at signup + W (the conversion window close).
    * This is the CEP shape Flink users write as a KeyedProcessFunction
    * with a one-shot timer; stages advance only forward and only inside
    * [signup, signup + W).
    *
    * Determinism under multi-batch admission (the oracle's model):
    *   - generator event time is globally non-decreasing across batches
    *     and each batch's per-key slice is sorted (ts, kind) here, so
    *     stage transitions process in event-time order;
    *   - the timer never re-arms at a different instant (the clamp to
    *     watermark+1 only DELAYS an already-closed window's emission to
    *     the key's next quiet batch — by then every event below
    *     signup + W has long arrived), so the emitted row is the same
    *     whether the timer fires mid-stream or in the AvailableNow final
    *     pass: emitted iff signup + W < final watermark, stages = the
    *     batch conditional-mins over [signup, signup + W);
    *   - after firing, the key keeps a `done` tombstone so stragglers
    *     can never re-open an emitted funnel (generator person ids are
    *     unique, so this is belt-and-braces; pass `tombstoneTtlMs` to
    *     retire tombstones — see param doc).
    *
    * Watermark semantics: each stream is watermarked BEFORE the union, so
    * the engine's global watermark is the MIN across the three sources
    * (`spark.sql.streaming.multipleWatermarkPolicy` defaults to `min`) —
    * i.e. `LEAST(per-stream MAX) - delay`, exactly what the oracle
    * models. A single post-union watermark would instead track the
    * overall MAX across streams, which diverges whenever one stream's
    * last event trails the others' (here persons end 3 ms early at 4 ms
    * vs 1 ms spacing) — a window closing inside that gap would then be
    * emitted by the engine but excluded by the oracle.
    *
    * State hygiene: keys seen only in auction/bid events (no signup yet)
    * create NO state — pre-signup events cannot advance any stage
    * (`ts >= sMs` fails for them; generator time is non-decreasing across
    * batches and equal-timestamp pairs share a batch where the (ts, kind)
    * sort puts the signup first), so dropping them is lossless and the
    * state footprint is bounded by signup cardinality, not event-key
    * cardinality.
    *
    * @param tombstoneTtlMs production mode: when set, an emitted funnel's
    *   `done` tombstone is retired by a second event-time timer at
    *   fire-time + TTL (choose TTL ≥ `windowMs` so no straggler inside
    *   the conversion window can outlive it). State then holds at most
    *   one conversion-window wave of keys. The default (None) keeps
    *   tombstones forever — exact replay fidelity, unbounded on an
    *   unbounded signup stream.
    */
  def funnelStateful(persons: Dataset[Person], auctions: Dataset[Auction],
                     bids: Dataset[Bid], windowMs: Long,
                     tombstoneTtlMs: Option[Long] = None): Dataset[FunnelOut] = {
    import persons.sparkSession.implicits._
    def wm(ds: Dataset[FEvent]): org.apache.spark.sql.DataFrame =
      NexmarkQueries.watermarked(ds.toDF, "2 seconds", "ts")
    val p = wm(persons.map(x => FEvent(x.personId, 0, x.timestamp)))
    val a = wm(auctions.map(x => FEvent(x.personId, 1, x.timestamp)))
    val b = wm(bids.map(x => FEvent(x.personId, 2, x.timestamp)))
    val withTime = p.unionByName(a).unionByName(b).as[FEvent]
    withTime
      .groupByKey(_.personId)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (pid, rows, state: GroupState[FunnelState]) =>
          def out(st: FunnelState) = FunnelOut(pid, st.sMs, st.vMs, st.pMs,
            1 + (if (st.vMs >= 0) 1 else 0) + (if (st.pMs >= 0) 1 else 0))
          if (state.hasTimedOut) {
            val st = state.get
            if (st.done) {
              // second (TTL) fire: the tombstone has outlived every
              // possible straggler — retire the key entirely
              state.remove()
              Iterator.empty
            } else {
              state.update(st.copy(done = true))
              tombstoneTtlMs.foreach { ttl =>
                state.setTimeoutTimestamp(math.max(
                  st.sMs + windowMs + ttl, state.getCurrentWatermarkMs() + 1))
              }
              if (st.sMs >= 0) Iterator.single(out(st)) else Iterator.empty
            }
          } else {
            var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L, done = false))
            if (st.done) Iterator.empty
            else {
              rows.toSeq.sortBy(e => (e.ts, e.kind)).foreach { e =>
                e.kind match {
                  case 0 =>
                    if (st.sMs < 0) st = st.copy(sMs = e.ts)
                  case 1 =>
                    if (st.sMs >= 0 && st.vMs < 0 &&
                        e.ts >= st.sMs && e.ts < st.sMs + windowMs)
                      st = st.copy(vMs = e.ts)
                  case _ =>
                    if (st.vMs >= 0 && st.pMs < 0 &&
                        e.ts >= st.vMs && e.ts < st.sMs + windowMs)
                      st = st.copy(pMs = e.ts)
                }
              }
              // no signup yet → nothing can have advanced and no timer to
              // arm: create no state for this key (see class doc)
              if (st.sMs >= 0) {
                state.update(st)
                state.setTimeoutTimestamp(
                  math.max(st.sMs + windowMs, state.getCurrentWatermarkMs() + 1))
              }
              Iterator.empty
            }
          }
      }
  }
}
