package graft.nexmark

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.nexmark.queries.NexmarkQueries

/** The person-keyed two-stream queries (q8NewUsers and its sliding and
  * session variants, q11BidderActivity) in streaming mode. Each is ONE
  * windowed aggregation over the union of its two watermarked inputs; the
  * specs pin that plan shape, the min-of-inputs watermark it must keep,
  * its inner-join edge cases and its output against the batch flavor.
  */
class Q8StreamingSpec extends SparkSpec {
  val cfg = GenConfig()
  val SentinelTs = 1893456000000L
  val SentinelId = Long.MaxValue / 2
  val T = cfg.baseTimestamp

  def person(id: Long, ts: Long): Person =
    NexmarkGen.person(cfg, 0L).copy(personId = id, timestamp = ts, ingestionTimestamp = ts)
  def auction(seller: Long, ts: Long, ingest: Long): Auction =
    NexmarkGen.auction(cfg, 0L).copy(personId = seller, timestamp = ts, ingestionTimestamp = ingest)
  def auction(seller: Long, ts: Long): Auction = auction(seller, ts, ts)

  /** Feeds two MemoryStreams one step per micro-batch (either side may be
    * empty) and returns the sink's rows after every step, plus the query.
    */
  def stream[A: Encoder, B: Encoder](name: String, steps: Seq[(Seq[A], Seq[B])])(
      query: (Dataset[A], Dataset[B]) => DataFrame): (Seq[Set[Row]], StreamingQuery) = {
    implicit val sqlCtx = spark.sqlContext
    val msA = MemoryStream[A]
    val msB = MemoryStream[B]
    val q = query(msA.toDS(), msB.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val seen = steps.map { case (as, bs) =>
        if (as.nonEmpty) msA.addData(as)
        if (bs.nonEmpty) msB.addData(bs)
        q.processAllAvailable()
        spark.table(name).collect().toSet
      }
      (seen, q)
    } finally q.stop()
  }

  /** Two rounds of far-future rows on both inputs: the first moves both
    * watermarks past every real window, the second runs a batch under it.
    */
  def closeAll(p: Person, a: Auction): Seq[(Seq[Person], Seq[Auction])] =
    Seq(0L, 7200000L).map { dt =>
      (Seq(p.copy(personId = SentinelId, timestamp = SentinelTs + dt)),
       Seq(a.copy(personId = SentinelId, timestamp = SentinelTs + dt)))
    }

  def real(rows: Set[Row]): Set[Row] = rows.filter(_.getLong(1) != SentinelId)

  def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  test("streaming q8NewUsers (windowed join) matches the batch result") {
    import spark.implicits._
    val persons = NexmarkGen.persons(cfg, 600).toSeq
    val auctions = NexmarkGen.auctions(cfg, 2400).toSeq
    val (seen, _) = stream("q8stream", (persons, auctions) +: closeAll(persons.head, auctions.head))(
      NexmarkQueries.q8NewUsers(_, _, "1 hour"))
    val batch = NexmarkQueries.q8NewUsers(
      spark.createDataset(persons), spark.createDataset(auctions), "1 hour").collect().toSet
    assert(real(seen.last) == batch)
    assert(batch.nonEmpty)
  }

  test("q8 / q8 sliding / q11 plans: one state store, no stream-stream join, one shuffle") {
    import spark.implicits._
    val persons = NexmarkGen.persons(cfg, 200).toSeq
    val auctions = NexmarkGen.auctions(cfg, 400).toSeq
    val bids = NexmarkGen.bids(cfg, 400).toSeq
    def shape(q: StreamingQuery): (Int, Int, Int) = {
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      (plan.collect { case s: StateStoreSaveExec => s }.size,
       plan.collect { case j: StreamingSymmetricHashJoinExec => j }.size,
       plan.collect { case e: ShuffleExchangeExec => e }.size)
    }
    val shapes = Map(
      "q8" -> shape(stream("q8shape", Seq((persons, auctions)))(
        NexmarkQueries.q8NewUsers(_, _, "10 seconds"))._2),
      "q8sliding" -> shape(stream("q8slidingshape", Seq((persons, auctions)))(
        NexmarkQueries.q8NewUsersSliding(_, _, "10 seconds", "5 seconds"))._2),
      "q11" -> shape(stream("q11shape", Seq((persons, bids)))(
        NexmarkQueries.q11BidderActivity(_, _, "10 seconds"))._2))
    assert(shapes == Map("q8" -> (1, 0, 1), "q8sliding" -> (1, 0, 1), "q11" -> (1, 0, 1)))
  }

  test("q8 windows close on the min of the two inputs' watermarks") {
    import spark.implicits._
    val none = Seq.empty
    val (seen, q) = stream("q8wm", Seq(
      (Seq(person(1, T + 1000)), Seq(auction(1, T + 2000))),
      // persons alone run far past the window, twice (the second batch
      // runs under the watermark the first one set)
      (Seq(person(2, T + 60000)), none),
      (Seq(person(3, T + 61000)), none),
      // then auctions catch up
      (none, Seq(auction(2, T + 60000))),
      (none, Seq(auction(3, T + 61000)))))(
      NexmarkQueries.q8NewUsers(_, _, "10 seconds"))
    val win = Row(T, 1L, T + 1000, T + 1000, T + 2000, T + 2000)
    assert(seen.take(3).forall(_.isEmpty), s"emitted before the auctions' watermark passed: $seen")
    assert(seen.last.contains(win), seen.last)
    assert(droppedByWatermark(q) == 0)
  }

  test("q8 inner-join edge cases: lone sides, ingestion ties, a hot seller") {
    import spark.implicits._
    val persons = Seq(
      person(1, T + 1000), // no auction of seller 1 in [T, T+10s)
      person(2, T + 2000),
      person(3, T + 1500))
    val auctions = Seq(
      auction(1, T + 12000), // next window, where person 1 is absent
      auction(4, T + 3000), // seller 4 has no person at all
      // equal ingestion: the later creation wins; a later-created auction
      // with an earlier ingestion loses to both
      auction(2, T + 3000, T + 9000),
      auction(2, T + 5000, T + 9000),
      auction(2, T + 7000, T + 8000)) ++
      (0 until 50).map(i => auction(3, T + 1000 + i * 100L)) // hot seller
    val want = Set(
      Row(T, 2L, T + 2000, T + 2000, T + 5000, T + 9000),
      Row(T, 3L, T + 1500, T + 1500, T + 5900, T + 5900))
    val batch = NexmarkQueries.q8NewUsers(
      spark.createDataset(persons), spark.createDataset(auctions), "10 seconds").collect().toSet
    // auctions in reverse, a few per batch: arrival order and batch
    // boundaries must not matter
    val steps = persons.map(Seq(_)).zipAll(auctions.reverse.grouped(8).toSeq, Nil, Nil)
    val (seen, q) = stream("q8edges", steps ++ closeAll(persons.head, auctions.head))(
      NexmarkQueries.q8NewUsers(_, _, "10 seconds"))
    assert(batch == want)
    assert(real(seen.last) == want)
    assert(droppedByWatermark(q) == 0)
  }

  test("q8 session: persons far behind auctions lose no rows to the watermark") {
    import spark.implicits._
    // the NexmarkMain --q8session feed: per batch, m persons and 8m
    // auctions from the same id -> event-time map, so auction event time
    // runs 8x ahead of person event time
    val g = GenConfig(eventsPerSecond = 10L)
    val m = 100L
    val batches = (0L until 4L).map { k =>
      ((m * k until m * (k + 1)).map(NexmarkGen.person(g, _)),
       (8 * m * k until 8 * m * (k + 1)).map(NexmarkGen.auction(g, _)))
    }
    val (seen, q) = stream("q8session", batches ++ closeAll(batches.head._1.head, batches.head._2.head))(
      NexmarkQueries.q8NewUsersSession(_, _, "10 seconds"))
    val batch = NexmarkQueries.q8NewUsersSession(
      spark.createDataset(batches.flatMap(_._1)), spark.createDataset(batches.flatMap(_._2)),
      "10 seconds").collect().toSet
    assert(droppedByWatermark(q) == 0)
    assert(real(seen.last) == batch)
    assert(batch.nonEmpty)
  }
}
