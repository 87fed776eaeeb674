package graft.nexmark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.nexmark.source.NexmarkDataSource

/** DSv2 `format("nexmark")` source: per-partition subtask strides, schema
  * per entity, bounded micro-batch streaming with admission control.
  */
class NexmarkDataSourceSpec extends SparkSpec {

  test("batch read: one partition per subtask, strided non-colliding ids") {
    val df = spark.read.format("nexmark")
      .option("entity", "persons").option("rows", "900").option("parallelism", "3")
      .load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 2700) // rows per subtask x 3
    // ids from different subtasks live in disjoint stride ranges
    import org.apache.spark.sql.functions._
    val stride = NexmarkGen.MaxPersonId / 3
    val perStride = df.groupBy((col("personId") / stride).cast("int").as("s"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perStride.keySet == Set(0, 1, 2))
  }

  test("batch read matches the direct generator output per subtask") {
    val df = spark.read.format("nexmark")
      .option("entity", "bids").option("rows", "500").option("parallelism", "2")
      .load()
    val got = df.collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toSet
    val want = (0 until 2).flatMap { s =>
      NexmarkGen.bids(GenConfig(subtask = s, parallelism = 2), 500)
        .map(b => (b.timestamp, b.auctionId, b.personId, b.bid))
    }.toSet
    assert(got == want)
  }

  /** The row of the eagerly built `Person`/`Auction`/`Bid`, strings and all. */
  private def eagerRow(entity: String, cfg: GenConfig, id: Long): InternalRow = {
    val p: Product = entity match {
      case "persons" => NexmarkGen.person(cfg, id)
      case "auctions" => NexmarkGen.auction(cfg, id)
      case _ => NexmarkGen.bid(cfg, id)
    }
    new GenericInternalRow(p.productIterator.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray[Any])
  }

  test("rowOf equals the eagerly built entity, field by field, whichever fields are read") {
    val ids = (0L until 90L) ++ (1L to 40L).map(e => e * e * e * 9L + e % 9) ++
      Seq(123456789L, 9L * 100000000L + 8L)
    for {
      entity <- Seq("persons", "auctions", "bids")
      sized <- Seq(false, true)
      cfg <- Seq(GenConfig(sizedPayloads = sized),
                 GenConfig(seed = 7L, subtask = 2, parallelism = 3, eventsPerSecond = 250L,
                           sizedPayloads = sized))
    } {
      val schema = NexmarkDataSource.schemaFor(entity)
      val proj = UnsafeProjection.create(schema)
      val numeric = schema.fields.indices.filter(schema(_).dataType != StringType)
      for (id <- ids) {
        val want = proj(eagerRow(entity, cfg, id)).copy()
        val got = proj(NexmarkDataSource.rowOf(entity, cfg, id))
        for ((f, i) <- schema.fields.zipWithIndex)
          assert(got.get(i, f.dataType) == want.get(i, f.dataType),
            s"$entity sized=$sized $cfg id $id: ${f.name}")
        // a row whose strings are never read still carries the same numbers
        val fresh = NexmarkDataSource.rowOf(entity, cfg, id)
        for (i <- numeric)
          assert(fresh.get(i, schema(i).dataType) == want.get(i, schema(i).dataType),
            s"$entity sized=$sized id $id: numeric ${schema(i).name}")
        assert(schema.fields.indices.forall(!fresh.isNullAt(_)))
      }
    }
  }

  test("unknown entity is rejected") {
    val e = intercept[Exception](
      spark.read.format("nexmark").option("entity", "widgets").load())
    assert(e.getMessage.contains("widgets"))
  }

  test("sizedPayloads option reaches the generator through the DSv2 read") {
    val df = spark.read.format("nexmark")
      .option("entity", "persons").option("rows", "50")
      .option("parallelism", "2").option("sizedPayloads", "true")
      .load()
    val names = df.select("name").collect().map(_.getString(0))
    assert(names.nonEmpty && names.forall(n => n.length == 14 && n.count(_ == ' ') == 1))
  }

  test("micro-batch stream is bounded and rate-limited per trigger") {
    val df = spark.readStream.format("nexmark")
      .option("entity", "bids").option("rows", "1000")
      .option("parallelism", "2").option("rowsPerBatch", "300")
      .load()
    val q = df.writeStream.format("memory").queryName("nexmarkdsv2")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // bounded: 1000 events x 2 subtasks; admission control ceil(1000/300)=4 batches
    assert(spark.table("nexmarkdsv2").count() == 2000)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("streamed cumulative rows == batch read with identical options (oracle dump invariant)") {
    // StreamingBench's DuckDB oracles verify streaming results against a
    // BATCH-mode dump of the same source options — this is the invariant
    // that makes that dump the literal input event set, byte for byte
    val opts = Map("entity" -> "bids", "rows" -> "700",
      "parallelism" -> "3", "rowsPerBatch" -> "250")
    val streamed = spark.readStream.format("nexmark").options(opts).load()
    val q = streamed.writeStream.format("memory").queryName("dumpinv")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dumpinv").collect().map(_.toSeq).toSet
    val batch = spark.read.format("nexmark").options(opts).load()
      .collect().map(_.toSeq).toSet
    assert(got == batch && got.size == 2100)
  }

  test("checkpoint resume is exactly-once (no duplicate rows after restart)") {
    // run 1 drains a 1000-events-per-subtask bound to a parquet file sink;
    // run 2 reuses the SAME checkpoint with the bound raised to 2500 — the
    // source must resume from the committed offset (eventId 1000), and the
    // file sink's manifest must admit each batch exactly once: total rows
    // == 2500 × parallelism with every (subtask-strided) bidId distinct.
    val base = java.nio.file.Files.createTempDirectory("nexmarkresume")
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def run(rows: Int): Unit = {
      val df = spark.readStream.format("nexmark")
        .option("entity", "bids").option("rows", rows.toString)
        .option("parallelism", "2").option("rowsPerBatch", "400")
        .load()
      val q = df.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      // fail crisply on timeout: a still-running query would hold the
      // checkpoint and turn run 2 into a misleading conflict failure
      assert(q.awaitTermination(120000), "stream did not drain in 120s")
    }
    run(1000)
    val firstCount = spark.read.parquet(out).count()
    assert(firstCount == 2000, s"run 1 wrote $firstCount")
    run(2500)
    val result = spark.read.parquet(out)
    assert(result.count() == 5000)
    // the generator emits exactly one bid per (subtask, eventId) and
    // timestamp == base + eventId, so every timestamp must appear exactly
    // parallelism (=2) times — a replayed batch would push some to 4,
    // a skipped one to 0
    val perTs = result.groupBy("timestamp").count()
    assert(perTs.count() == 2500)
    assert(perTs.filter(col("count") =!= 2L).count() == 0)
  }
}
