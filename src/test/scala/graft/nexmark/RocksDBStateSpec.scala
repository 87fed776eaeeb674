package graft.nexmark

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.nexmark.queries.{NexmarkQueries, NexmarkStateful, NexmarkTws}

/** W8: the reference uses the RocksDB state backend for keyed state
  * (pom.xml:204-218); Spark's analog is RocksDBStateStoreProvider. This
  * spec runs a stateful port against it to prove the state path works with
  * a spillable store, not only the in-memory HDFS-backed default.
  */
class RocksDBStateSpec extends SparkSpec {
  val cfg = GenConfig()

  test("stateful q5 runs on RocksDBStateStoreProvider with identical results") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val bids = NexmarkGen.bids(cfg, 2000).toSeq
      val sentinelTs = 1893456000000L
      val s1 = Bid(sentinelTs, sentinelTs, Long.MaxValue / 2, 1L, -1L, 1.0)
      val s2 = Bid(sentinelTs + 60000, sentinelTs + 60000, Long.MaxValue / 2 + 1, 1L, -1L, 1.0)
      val ms = MemoryStream[Bid]
      val q = NexmarkStateful.q5Stateful(ms.toDS(), 10000L).toDF
        .writeStream.format("memory").queryName("rocksq5").outputMode("append").start()
      try {
        ms.addData(bids); q.processAllAvailable()
        ms.addData(Seq(s1)); q.processAllAvailable()
        ms.addData(Seq(s2)); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("rocksq5").collect()
        .filter(_.getLong(0) < Long.MaxValue / 2)
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      val want = bids.groupBy(_.auctionId)
        .view.mapValues(bs => (bs.map(_.bid).max, bs.size.toLong)).toMap
      assert(got == want)
    }
  }

  test("transformWithState QX port matches the declarative interval-join argmax") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val sentinelTs = 1893456000000L
      val sentinelKey = Long.MaxValue / 2
      // unique auctions with bids strictly inside [start, end]
      val auctions = NexmarkGen.auctions(cfg, 300).toSeq
        .groupBy(_.auctionId).map(_._2.head).toSeq
      val bids = auctions.zipWithIndex.flatMap { case (a, i) =>
        (0 until 5).map { j =>
          Bid(a.start + j, a.start + j, a.auctionId, 1000L + (i * 5 + j) % 97,
              -1L, 1.0 + (i * 5 + j) % 13)
        }
      }
      val sentinelAuction = Auction(sentinelTs, sentinelKey, 1L, 1L, 1.0,
        sentinelTs, sentinelTs + 1000, 1L, "s", "s", sentinelTs)
      val sentinelAuction2 = sentinelAuction.copy(
        timestamp = sentinelTs + 120000, auctionId = sentinelKey + 1,
        start = sentinelTs + 120000, end = sentinelTs + 121000)
      val msB = MemoryStream[Bid]
      val msA = MemoryStream[Auction]
      val result = NexmarkTws.qxWinningBidsTws(msB.toDS(), msA.toDS()).toDF
      val q = result.writeStream.format("memory").queryName("twsqx")
        .outputMode("append").start()
      try {
        msA.addData(auctions); msB.addData(bids); q.processAllAvailable()
        msA.addData(Seq(sentinelAuction)); q.processAllAvailable()
        msA.addData(Seq(sentinelAuction2)); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("twsqx").collect()
        .filter(_.getLong(0) < sentinelKey)
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batch = NexmarkQueries.qxWinningBids(
          spark.createDataset(bids), spark.createDataset(auctions)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == batch)
      assert(got.nonEmpty)
    }
  }

  test("TWS QX purges orphan bids and the resolved tombstone after the horizon") {
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val t0 = 1893456000000L
      val horizon = 10000L
      val key = 7L
      val sk = Long.MaxValue / 2 // sentinel auction keys advance the watermark
      def bid(ts: Long, bidder: Long, price: Double) =
        Bid(ts, ts, key, bidder, -1L, price)
      def auction(id: Long, ts: Long, end: Long) =
        Auction(ts, id, 1L, 1L, 1.0, ts, end, 1L, "s", "s", ts)
      val msB = MemoryStream[Bid]
      val msA = MemoryStream[Auction]
      val q = NexmarkTws.qxWinningBidsTws(msB.toDS(), msA.toDS(), purgeHorizonMs = horizon)
        .toDF.writeStream.format("memory").queryName("twspurge")
        .outputMode("append").start()
      try {
        def step(f: => Unit): Unit = { f; q.processAllAvailable() }
        // orphan bids (highest price in the run — they'd win if retained)
        step { msB.addData(Seq(bid(t0, 111L, 99.0), bid(t0 + 1, 112L, 99.0))) }
        step { msA.addData(Seq(auction(sk, t0 + 20000, t0 + 21000))) }      // wm -> t0+18s
        step { msA.addData(Seq(auction(sk + 1, t0 + 22000, t0 + 23000))) }  // cleanup timer (t0+10s) fires
        // the real auction for `key` + one fresh bid
        step {
          msA.addData(Seq(auction(key, t0 + 22000, t0 + 30000)))
          msB.addData(Seq(bid(t0 + 22001, 222L, 42.0)))
        }
        step { msA.addData(Seq(auction(sk + 2, t0 + 40000, t0 + 41000))) }  // wm -> t0+38s
        step { msA.addData(Seq(auction(sk + 3, t0 + 60000, t0 + 61000))) }  // key resolves (end t0+30s < wm)
        step { msA.addData(Seq(auction(sk + 4, t0 + 80000, t0 + 81000))) }  // tombstone purge (t0+40s) fires
        // second lifecycle of the same key proves `resolved` was purged
        step {
          msA.addData(Seq(auction(key, t0 + 80000, t0 + 90000)))
          msB.addData(Seq(bid(t0 + 80001, 333L, 7.5)))
        }
        step { msA.addData(Seq(auction(sk + 5, t0 + 100000, t0 + 101000))) } // wm -> t0+98s
        step { msA.addData(Seq(auction(sk + 6, t0 + 120000, t0 + 121000))) } // second resolution fires
      } finally q.stop()
      val got = spark.table("twspurge").collect()
        .filter(_.getLong(0) == key)
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      // orphan 99.0 bids were purged (not 111/112); tombstone was purged
      // (second lifecycle emitted at all)
      assert(got == Set((222L, 42.0), (333L, 7.5)))
    }
  }

  test("TWS QX resolves when auction.end collides with the pending cleanup timer") {
    // regression: a key's orphan-cleanup timer and its auction's resolution
    // timer share one (key, ts) slot when auction.end == cleanupAt; the
    // cleanup delete must happen BEFORE registering at e.end, or it removes
    // the just-armed resolution timer and the auction never resolves
    withRocksDB {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val t0 = 1893456000000L
      val horizon = 10000L
      val key = 9L
      val sk = Long.MaxValue / 2
      val msB = MemoryStream[Bid]
      val msA = MemoryStream[Auction]
      val q = NexmarkTws.qxWinningBidsTws(msB.toDS(), msA.toDS(), purgeHorizonMs = horizon)
        .toDF.writeStream.format("memory").queryName("twscollide")
        .outputMode("append").start()
      try {
        def step(f: => Unit): Unit = { f; q.processAllAvailable() }
        // orphan bid arms the cleanup timer at exactly t0 + horizon
        step { msB.addData(Seq(Bid(t0, t0, key, 111L, -1L, 99.0))) }
        // auction whose end == the pending cleanupAt (the colliding slot)
        step { msA.addData(Seq(Auction(t0 + 1000, key, 1L, 1L, 1.0,
          t0 + 1000, t0 + horizon, 1L, "s", "s", t0 + 1000))) }
        // advance the watermark past end so the resolution timer fires
        step { msA.addData(Seq(Auction(t0 + 20000, sk, 1L, 1L, 1.0,
          t0 + 20000, t0 + 21000, 1L, "s", "s", t0 + 20000))) }
        step { msA.addData(Seq(Auction(t0 + 40000, sk + 1, 1L, 1L, 1.0,
          t0 + 40000, t0 + 41000, 1L, "s", "s", t0 + 40000))) }
      } finally q.stop()
      val got = spark.table("twscollide").collect()
        .filter(_.getLong(0) == key)
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((111L, 99.0)))
    }
  }
}
