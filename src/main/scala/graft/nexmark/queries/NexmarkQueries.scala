package graft.nexmark.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.nexmark._

/** Declarative (Catalyst-optimized) flavors of the reference's queries
  * (SURVEY §2.4/§2.5). Every function takes plain Datasets and works
  * unchanged on batch or streaming inputs — the streaming caller adds
  * nothing but a source and a sink, which is exactly the Spark-first
  * re-expression of the reference's hand-built topologies.
  *
  * Scale: each query is a single keyed shuffle (window+key hash agg or
  * equi-join); no per-key driver state, no collect. At 100 TB the same
  * plans run with `spark.sql.shuffle.partitions` sized to the cluster, and
  * AQE handles skewed hot keys (the generator's 1-in-100 hot auctions).
  */
object NexmarkQueries {

  /** `df` with the event-time column `eventTime` (the model's epoch-millis
    * `tsCol`) and a watermark `wm` behind it: the one event-time watermark
    * of every Nexmark and streaming pipeline. */
  private[graft] def watermarked(df: DataFrame, wm: String,
                                 tsCol: String = "timestamp"): DataFrame =
    df.withColumn("eventTime", timestamp_millis(col(tsCol))).withWatermark("eventTime", wm)

  /** Q5 (A1/A2): per-auction windowed MAX(bid) + count + latest probe
    * timestamps (NexmarkQuery5.java:201-251; commented spec agg :402-422).
    * The reference accumulator keeps the *latest-arriving* (ts, ingestion);
    * in a declarative agg arrival order is meaningless, so we take max —
    * identical for monotone generator time.
    */
  def q5HotAuctions(bids: Dataset[Bid], windowDur: String, wm: String = "2 seconds"): DataFrame =
    q5HotAuctionsSliding(bids, windowDur, windowDur, wm)

  /** Sliding variant (W4; windowSlide default dur/2 in the reference,
    * NexmarkQuery5.java:186): identical agg over overlapping windows.
    */
  def q5HotAuctionsSliding(bids: Dataset[Bid], windowDur: String, slide: String,
                           wm: String = "2 seconds"): DataFrame =
    watermarked(bids.toDF, wm)
      .groupBy(window(col("eventTime"), windowDur, slide), col("auctionId"))
      .agg(
        max(col("bid")).as("maxPrice"),
        count(lit(1)).as("bidCount"),
        max(col("timestamp")).as("lastTimestamp"),
        max(col("ingestionTimestamp")).as("lastIngestionTimestamp"))
      .select(unix_millis(col("window.start")).as("windowStartMs"),
              col("auctionId"), col("maxPrice"), col("bidCount"),
              col("lastTimestamp"), col("lastIngestionTimestamp"))

  /** Chained stateful windowed TOP-K: per tumbling window, the K hottest
    * auctions by bid count (ties → lower auctionId) with their max
    * price — TWO stateful aggregations in one append-mode pipeline
    * (per-(window, auction) counts, then per-window top-K), the
    * multiple-stateful-operator support Spark added in 3.4. Stage 2
    * collects at most the stage-1 rows of ONE window per group and
    * sorts/slices that bounded set in the agg output — the per-window
    * candidate count is bounded by distinct auctions per window, and
    * only K rows per window survive to the sink.
    */
  def qWindowTopK(bids: Dataset[Bid], windowDur: String, k: Int = 3,
                  wm: String = "2 seconds"): DataFrame = {
    val stage1 = watermarked(bids.toDF, wm)
      .groupBy(window(col("eventTime"), windowDur), col("auctionId"))
      .agg(count(lit(1)).as("bidCount"), max(col("bid")).as("maxPrice"))
    stage1
      .groupBy(col("window"))
      .agg(expr(s"slice(array_sort(collect_list(struct(-bidCount AS nc, auctionId, bidCount, maxPrice))), 1, $k)").as("top"))
      .select(unix_millis(col("window.start")).as("windowStartMs"),
              posexplode(col("top")))
      .select(col("windowStartMs"), (col("pos") + 1).cast("long").as("rk"),
              col("col.auctionId").as("auctionId"),
              col("col.bidCount").as("bidCount"), col("col.maxPrice").as("maxPrice"))
  }

  /** Persons co-grouped with one other per-person stream (auctions or bids)
    * per (window, personId) in ONE stateful aggregation over the union of
    * both inputs. When both sides share the group key, a join followed by
    * a group-by is one co-grouped aggregation: one shuffle and one state
    * store per partition, where a person agg → stream-stream join → agg
    * chain keeps an agg store, the join's four stores and a second agg
    * store, and commits all of them every micro-batch.
    *
    * Each input is watermarked BEFORE the union, so the global watermark is
    * the min of the two per-input watermarks, as in a join: a window closes
    * only once both sides have passed it, and neither side's rows are
    * judged late against the other side's event time. `win` maps the
    * unioned event time to the window key (tumbling, sliding or session).
    * Each row carries `eventTime`, `personId`, `isPerson` and those of
    * `cols` its input has (the rest are null); `aggs` pick a side with
    * `isPerson`. Only keys with a person row and an other row survive —
    * the inner-join semantics.
    */
  private def perPersonWindows(persons: DataFrame, other: DataFrame, cols: Seq[String],
                               win: Column => Column, wm: String)(aggs: Column*): DataFrame = {
    def side(df: DataFrame, isPerson: Boolean): DataFrame = {
      val w = watermarked(df, wm)
      w.select(Seq(col("eventTime"), col("personId")) ++
        cols.filter(w.columns.contains).map(col) :+ lit(isPerson).as("isPerson"): _*)
    }
    side(persons, isPerson = true)
      .unionByName(side(other, isPerson = false), allowMissingColumns = true)
      .groupBy(win(col("eventTime")).as("win"), col("personId"))
      .agg(max(col("isPerson")).as("hasPerson"), max(!col("isPerson")).as("hasOther") +: aggs: _*)
      .filter(col("hasPerson") && col("hasOther"))
  }

  /** Q8 (J2 cogroup spec, NexmarkQuery8.java:106-153,541-568): per window,
    * new persons joined to their new auctions; one output row per
    * (window, person) carrying the person's latest stamps (ValueState keeps
    * one person per key, :621-627) and the latest-ingested auction's
    * (JoiningNewUsersWithAuctionsCoGroupFunction, :118-147; ties on
    * ingestion → the later creation). Built as one union aggregate
    * ([[perPersonWindows]]); `startCol` names the window-start column.
    * The auction pick is `max_by_keys(creation, ingestion, creation)`
    * ([[graft.spark.MaxByKeys]]), whose primitive buffer slots keep the
    * aggregate a HashAggregate; person rows carry null keys and are
    * skipped by it.
    */
  private def newUsers(persons: Dataset[Person], auctions: Dataset[Auction], win: Column => Column,
                       wm: String, startCol: String = "windowStartMs"): DataFrame = {
    val isPerson = col("isPerson")
    def auction(c: Column) = when(!isPerson, c)
    perPersonWindows(persons.toDF, auctions.toDF, Seq("timestamp", "ingestionTimestamp"), win, wm)(
      max(when(isPerson, col("timestamp"))).as("personCreation"),
      max(when(isPerson, col("ingestionTimestamp"))).as("personIngestion"),
      call_function("max_by_keys", auction(col("timestamp")),
                    auction(col("ingestionTimestamp")), auction(col("timestamp"))).as("auctionCreation"),
      max(auction(col("ingestionTimestamp"))).as("auctionIngestion"))
      .select(unix_millis(col("win.start")).as(startCol), col("personId"),
              col("personCreation"), col("personIngestion"),
              col("auctionCreation"), col("auctionIngestion"))
  }

  /** Q8 with tumbling windows (window-type 0). */
  def q8NewUsers(persons: Dataset[Person], auctions: Dataset[Auction],
                 windowDur: String, wm: String = "2 seconds"): DataFrame =
    newUsers(persons, auctions, window(_, windowDur), wm)

  /** Q8 window-type switch (NexmarkQuery8.java:541-554: 0=tumbling,
    * 1=sliding, 2=session). Sliding: the same union aggregate keyed on
    * every overlapping window.
    */
  def q8NewUsersSliding(persons: Dataset[Person], auctions: Dataset[Auction],
                        windowDur: String, slide: String,
                        wm: String = "2 seconds"): DataFrame =
    newUsers(persons, auctions, window(_, windowDur, slide), wm)

  /** Session: both streams per person build SHARED session windows (the
    * reference cogroups both streams into the same keyed session windows);
    * only sessions with a person and an auction emit.
    */
  def q8NewUsersSession(persons: Dataset[Person], auctions: Dataset[Auction],
                        gap: String, wm: String = "2 seconds"): DataFrame =
    newUsers(persons, auctions, session_window(_, gap), wm, "sessionStartMs")

  /** Q11 (J3, NexmarkQuery11File.java:397-457): persons ⋈ bids on personId
    * (bidder activity per window): per (window, person) with at least one
    * person event, the bid count, max bid and last bid time — one union
    * aggregate ([[perPersonWindows]]) instead of a person agg → join → agg.
    */
  def q11BidderActivity(persons: Dataset[Person], bids: Dataset[Bid],
                        windowDur: String, wm: String = "2 seconds"): DataFrame = {
    def bid(c: String) = when(!col("isPerson"), col(c))
    perPersonWindows(persons.toDF, bids.toDF, Seq("bid", "timestamp"), window(_, windowDur), wm)(
      count(bid("bid")).as("bidCount"),
      max(bid("bid")).as("maxBid"),
      max(bid("timestamp")).as("lastBidTimestamp"))
      .select(unix_millis(col("win.start")).as("windowStartMs"), col("personId"),
              col("bidCount"), col("maxBid"), col("lastBidTimestamp"))
  }

  /** Declarative stream-stream INTERVAL join — the Flink
    * `intervalJoin`/`between` shape (the reference builds the equivalent
    * by hand inside its QX state machine, NexmarkQueryX.java:613-763;
    * this is the built-in-operator flavor Spark offers): each bid joined
    * to the auction EVENTS of its auction id whose event time lies within
    * [bid − 5 s, bid], i.e. `bidTime BETWEEN auctionTime AND
    * auctionTime + 5 s`. Both sides watermarked; Spark derives each
    * side's state horizon FROM the range condition (an auction is evicted
    * once the watermark passes its time + 5 s, a bid once the watermark
    * passes its time), so state is bounded by the interval width — the
    * whole point of an interval join vs an unconstrained stream join.
    *
    * Oracle model: a plain batch join with the same range condition and
    * NO watermark cutoff. Inner stream-stream joins emit matches
    * immediately (nothing is withheld for finalization), and with the
    * generator's globally non-decreasing event times an evicted row can
    * never be missed by a future match: a row is evicted only when the
    * watermark (= max ts − 2 s) passes its last useful instant, and every
    * later-arriving row carries ts ≥ max ts, putting the pair outside the
    * interval by at least the 2 s delay margin — so boundary semantics
    * can't flip the result either.
    */
  def qIntervalJoin(bids: Dataset[Bid], auctions: Dataset[Auction],
                    wm: String = "2 seconds", joinType: String = "inner"): DataFrame = {
    val a = watermarked(auctions.toDF, wm)
      .select(col("auctionId").as("aAuctionId"), col("eventTime").as("aTime"),
              col("timestamp").as("auctionCreation"))
    val b = watermarked(bids.toDF, wm)
      .select(col("auctionId"), col("eventTime").as("bTime"),
              col("personId").as("bidderId"), col("bid"),
              col("timestamp").as("bidTimestamp"))
    b.join(a,
        col("auctionId") === col("aAuctionId") &&
        col("bTime") >= col("aTime") &&
        col("bTime") <= col("aTime") + expr("INTERVAL 5 SECONDS"),
        joinType)
      .select(col("auctionId"), col("bidderId"), col("bid"),
              col("bidTimestamp"), col("auctionCreation"),
              (col("bidTimestamp") - col("auctionCreation")).as("bidDelayMs"))
  }

  /** QX/Q4 winning bid (J4/J5, NexmarkQueryX.java:613-763): bids matched to
    * their auction's open interval [start, end], the highest-priced bid per
    * auction wins (ties: latest timestamp, then lowest bidder id).
    */
  def qxWinningBids(bids: Dataset[Bid], auctions: Dataset[Auction]): DataFrame = {
    val a = auctions.toDF.select(col("auctionId"), col("start"), col("end"))
    val b = bids.toDF.select(col("auctionId"), col("personId"), col("bid"), col("timestamp"))
    b.join(a, Seq("auctionId"))
      .filter(col("timestamp") >= col("start") && col("timestamp") <= col("end"))
      .groupBy(col("auctionId"))
      .agg(
        max_by(struct(col("personId").as("bidderId"), col("bid"), col("timestamp")),
               struct(col("bid"), col("timestamp"), -col("personId"))).as("w"))
      .select(col("auctionId"), col("w.bidderId").as("bidderId"),
              col("w.bid").as("bid"), col("w.timestamp").as("bidTimestamp"))
  }

  /** Q7 highest bid (A5, NexmarkQueryX.java:417-445): global per-window
    * argmax across all keys.
    */
  def q7HighestBid(bids: Dataset[Bid], windowDur: String, wm: String = "2 seconds"): DataFrame =
    watermarked(bids.toDF, wm)
      .groupBy(window(col("eventTime"), windowDur))
      .agg(max_by(struct(col("auctionId"), col("personId"), col("bid"), col("timestamp")),
                  struct(col("bid"), col("timestamp"), -col("personId"))).as("w"))
      .select(unix_millis(col("window.start")).as("windowStartMs"),
              col("w.auctionId").as("auctionId"), col("w.personId").as("bidderId"),
              col("w.bid").as("bid"), col("w.timestamp").as("bidTimestamp"))

  /** Q10-style sessions (A4, NexmarkQueryX.java:765-786 + commented wiring
    * :272-285): per-bidder session windows with a gap; allowedLateness ≈
    * the watermark delay.
    */
  def sessions(bids: Dataset[Bid], gap: String, wm: String = "2 seconds"): DataFrame =
    watermarked(bids.toDF, wm)
      .groupBy(session_window(col("eventTime"), gap), col("personId"))
      .agg(count(lit(1)).as("bidCount"),
           max(col("timestamp")).as("maxTimestamp"),
           max(col("ingestionTimestamp")).as("maxIngestionTimestamp"))
      .select(unix_millis(col("session_window.start")).as("sessionStartMs"),
              unix_millis(col("session_window.end")).as("sessionEndMs"),
              col("personId"), col("bidCount"), col("maxTimestamp"),
              col("maxIngestionTimestamp"))

  /** Session windows honouring the reference's `allowedLateness`
    * (NexmarkQueryX.java:280: 15 s). Flink keeps a closed window's state
    * for `lateness` beyond the watermark and re-fires on late arrivals;
    * Structured Streaming has no per-window re-fire in append mode, so the
    * closest semantics-preserving port HOLDS the watermark back by the
    * lateness instead: windows close `lateness` later and late events
    * inside that horizon are aggregated into their original session in the
    * single final result (the reference's refinements, collapsed into one
    * emission). Divergence documented per SURVEY §7.4: intermediate
    * early-firings are not reproduced.
    */
  def sessionsWithLateness(bids: Dataset[Bid], gap: String,
                           lateness: String = "15 seconds",
                           wm: String = "2 seconds"): DataFrame = {
    // parse with Spark's own interval grammar so any valid duration string
    // ("1 minute", "500 milliseconds", ...) combines correctly
    def micros(s: String): Long = {
      val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      require(iv.months == 0, s"calendar months not supported in '$s'")
      iv.days * 86400L * 1000000L + iv.microseconds
    }
    sessions(bids, gap, s"${micros(wm) + micros(lateness)} microseconds")
  }

  /** CM (A3, cm/CM.java:272-303): SUM(cpu) per jobId per 2 s tumbling
    * event-time window — the only live window().aggregate in the reference.
    */
  def cmWindowedSum(cm: Dataset[CmRecord], windowDur: String = "2 seconds",
                    wm: String = "2 seconds"): DataFrame =
    watermarked(cm.toDF, wm)
      .groupBy(window(col("eventTime"), windowDur), col("jobId"))
      .agg(sum(col("cpu").cast("double")).as("totalCpu"),
           count(lit(1)).as("taskCount"))
      .select(unix_millis(col("window.start")).as("windowStartMs"),
              col("jobId"), col("totalCpu"), col("taskCount"))

  /** Watermarked streaming dedup (W7-adjacent): drop duplicate events by
    * identity key within the watermark horizon — the streaming analog of
    * exact dedup for at-least-once sources.
    */
  def dedupBids(bids: Dataset[Bid], wm: String = "2 seconds"): Dataset[Bid] = {
    import bids.sparkSession.implicits._
    watermarked(bids.toDF, wm)
      .dropDuplicates("auctionId", "personId", "timestamp", "bid")
      .drop("eventTime")
      .as[Bid]
  }

  /** Q5b event-type filter over the unified stream (P2,
    * NexmarkQuery5b.java:129-136) — pushed ahead of the shuffle exactly
    * like the reference filters before keyBy.
    */
  def bidsFromEvents(events: Dataset[Event]): Dataset[Bid] = {
    import events.sparkSession.implicits._
    events.filter(_.eventType == Event.BidType).map(_.bid.get)
  }
}
