package graft

import graft.nexmark.SparkSpec
import graft.queries.StreamingBench
import org.apache.spark.sql.functions._

/** Pins for `stream_scd2_enrich` (stream-static point-in-time dimension
  * join):
  *
  *   - the SCD2 unroll TILES [0, ∞) per person — contiguous,
  *     non-overlapping, genesis-at-zero intervals — which is the property
  *     that makes "exactly one version per bid" a theorem rather than a
  *     data coincidence;
  *   - exactly-one-version observed: output rows == streamed bids (a
  *     multi-match would inflate, and the LEFT join means a miss still
  *     emits), with both the genesis and the out-of-dim fallthrough
  *     exercised;
  *   - stream output == an independently-built BATCH join over the batch
  *     reads of the entry's declared inputs — the events its stream and
  *     its oracle dump carry (the stateless topology has no watermark
  *     model to diverge on, so set equality must be exact).
  */
class Scd2EnrichSpec extends SparkSpec {

  private val Name = "stream_scd2_enrich"
  private val Dir = "/root/testdata/sf0.001"

  test("SCD2 intervals tile [0, inf) per person; stream equals batch twin") {
    val out = SparkEntry.queries(Name)(spark, Dir).collect().map(_.toSeq).toSeq
    val inputs = StreamingBench.inputs(spark, Name, Dir).get
    val bids = inputs.batch("bids")
    val persons = inputs.batch("persons")
    assert(out.size == bids.count(), "exactly one output row per streamed bid")

    // rebuild the dim the entry's way and check the tiling property
    val pev = persons.groupBy(col("personId"), col("timestamp").as("created"))
      .agg(max(col("city")).as("city"))
    val intervals = pev.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (pid, rows) => pid -> rows.map(_._2).sorted }
    assert(intervals.nonEmpty)
    for ((_, ts) <- intervals) {
      assert(ts.distinct.length == ts.length, "change timestamps unique per person")
      // versions: [0, ts0), [ts0, ts1), ..., [tsN, MaxValue) — contiguous
      // by construction of lead(); nothing to check beyond uniqueness,
      // which is exactly what makes lead() produce a tiling
    }

    // batch twin over the same inputs: identical join, no streaming engine
    val vers = pev
      .withColumn("vn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("personId")).orderBy(col("created").asc)))
      .withColumn("valid_to", coalesce(
        lead(col("created"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("personId")).orderBy(col("created").asc)),
        lit(Long.MaxValue)))
      .select(col("personId"), col("created").as("valid_from"),
        col("valid_to"), col("vn"), col("city"))
    val genesis = pev.groupBy(col("personId"))
      .agg(min(col("created")).as("valid_to"))
      .select(col("personId"), lit(0L).as("valid_from"), col("valid_to"),
        lit(0).as("vn"), lit("pending").as("city"))
    val dim = genesis.unionByName(vers)
    val twin = bids
      .join(dim,
        bids("personId") === dim("personId") &&
          bids("timestamp") >= dim("valid_from") &&
          bids("timestamp") < dim("valid_to"),
        "left")
      .select(bids("auctionId"), bids("personId"), bids("timestamp"),
        bids("bid"),
        coalesce(dim("vn"), lit(-1)).as("vn"),
        coalesce(dim("city"), lit("")).as("city"))
      .collect().map(_.toSeq).toSeq
    assert(out.sortBy(_.toString) == twin.sortBy(_.toString),
      "stream output must equal the batch twin exactly")

    // coverage pinned independently per path, with the expectation derived
    // from the inputs themselves (an OR would let a fixture change
    // silently drop one path): a bid whose personId is outside the
    // dim must surface as vn = -1, a bid earlier than its person's first
    // emission as the genesis vn = 0 — and if the inputs produce such bids,
    // the output MUST contain that path.
    val vns = out.map(_(4).asInstanceOf[Int]).toSet
    val dimPids = intervals.keySet
    val firstEmission = intervals.map { case (pid, ts) => pid -> ts.min }
    val bidRows = bids.select(col("personId"), col("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectFallthrough = bidRows.exists { case (pid, _) => !dimPids.contains(pid) }
    val expectGenesis = bidRows.exists { case (pid, ts) =>
      firstEmission.get(pid).exists(ts < _) }
    assert(expectFallthrough == vns.contains(-1),
      s"fallthrough expected=$expectFallthrough but vns=$vns")
    assert(expectGenesis == vns.contains(0),
      s"genesis expected=$expectGenesis but vns=$vns")
    assert(expectFallthrough || expectGenesis,
      "fixture exercises neither genesis nor fallthrough — strengthen the inputs")
    assert(vns.exists(_ >= 1), s"no real version matched: $vns")
  }
}
