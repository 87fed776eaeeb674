package graft.nexmark.queries

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.nexmark._
import graft.nexmark.queries.NexmarkStateful.Q5Acc

/** Typed-API ports of the remaining SURVEY §2.8 rows:
  *
  *   - `AggregateFunction<IN, ACC, OUT>` (A2, the commented Q4/Q5 spec
  *     aggregator — NexmarkQuery5.java:402-422) →
  *     `org.apache.spark.sql.expressions.Aggregator[IN, BUF, OUT]`,
  *     mergeable (partial/final) exactly like Flink's
  *     createAccumulator/add/merge/getResult contract, and registrable
  *     with `udaf(...)` for SQL use.
  *   - `RichCoGroupFunction` (J2, JoiningNewUsersWithAuctionsCoGroupFunction
  *     — NexmarkQuery8.java:106-153) → `KeyValueGroupedDataset.cogroup`:
  *     for each person with ≥1 auction in the group, emit one output with
  *     the latest-ingested auction's timestamps.
  */
object NexmarkTyped {

  /** NexmarkQuery5.java:402-422: add/merge keep max price, count, and the
    * latest (timestamp, ingestionTimestamp) — the stateful ports' [[Q5Acc]].
    */
  class Query4Aggregator extends Aggregator[Bid, Q5Acc, Query5Output] {
    override def zero: Q5Acc = Q5Acc.Zero
    override def reduce(acc: Q5Acc, b: Bid): Q5Acc = acc.add(b)
    override def merge(a: Q5Acc, b: Q5Acc): Q5Acc = a.merge(b)
    override def finish(acc: Q5Acc): Query5Output =
      Query5Output(-1L, acc.maxPrice, acc.count, acc.lastTs, acc.lastIngest, -1L)
    override def bufferEncoder: Encoder[Q5Acc] = Encoders.product[Q5Acc]
    override def outputEncoder: Encoder[Query5Output] = Encoders.product[Query5Output]
  }

  /** Q5 via the typed Aggregator (groupByKey + agg(TypedColumn)). */
  def q5Typed(bids: Dataset[Bid]): Dataset[(Long, Query5Output)] = {
    import bids.sparkSession.implicits._
    bids.groupByKey(_.auctionId)
      .agg(new Query4Aggregator().toColumn.name("out"))
      .map { case (auctionId, out) => (auctionId, out.copy(auctionId = auctionId)) }
  }

  /** Q8 cogroup port (NexmarkQuery8.java:106-153): per personId, if the
    * group has at least one person and one auction, emit the person's
    * timestamps with the latest-ingested auction's timestamps.
    */
  def q8Cogroup(persons: Dataset[Person], auctions: Dataset[Auction]): Dataset[Query8Output] = {
    import persons.sparkSession.implicits._
    persons.groupByKey(_.personId)
      .cogroup(auctions.groupByKey(_.personId)) { (personId, ps, as) =>
        val personList = ps.toSeq
        val auctionList = as.toSeq
        if (personList.isEmpty || auctionList.isEmpty) Iterator.empty
        else {
          // ValueState semantics keep the latest person (:621-627)
          val p = personList.maxBy(_.timestamp)
          // the cogroup picks the auction with max ingestion (:118-147)
          val a = auctionList.maxBy(x => (x.ingestionTimestamp, x.timestamp))
          Iterator.single(Query8Output(
            a.ingestionTimestamp, p.timestamp, p.ingestionTimestamp,
            a.timestamp, a.ingestionTimestamp, personId))
        }
      }
  }
}
