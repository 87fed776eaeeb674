package graft

import graft.nexmark.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape proofs for the two cluster-scale techniques that can't show
  * up in the MB-scale bench numbers but decide 100 TB viability:
  *
  *   1. BUCKETED CO-LOCATED JOIN — pre-bucketing both fact tables on the
  *      join key removes the per-query shuffle entirely (SURVEY §9.3's
  *      "reuse a partitioning across stages": pay one shuffle at write
  *      time, join shuffle-free forever after). The assertion is on the
  *      physical plan: a SortMergeJoin with NO Exchange on either side.
  *
  *   2. AQE SKEW-JOIN SPLIT — the runtime guard for hot keys the salting
  *      in knnBrute handles statically: AQE splits an oversized shuffle
  *      partition into parallel sub-reads. Thresholds are lowered so the
  *      MB-scale fixture triggers the same code path a hot key would at
  *      production scale; the assertion is the `skew=true` marker on the
  *      final adaptive plan.
  *
  * Both tests save/restore every session conf they touch (the
  * SparkSession is shared across suites).
  */
class ScalePlanSpec extends SparkSpec {

  test("bucketed tables join without any exchange (co-located SMJ)") {
    val dir = java.nio.file.Files.createTempDirectory("graftbuckets")
    val sfDir = "/root/testdata/sf0.001"
    GraftSession.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "false", // inspect the static plan
      "spark.sql.autoBroadcastJoinThreshold" -> "-1" // force the SMJ path
    ) {
      try {
        Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$dir/li").saveAsTable("li_bucketed")
        Tables.orders(spark, sfDir)
          .select("o_orderkey", "o_custkey", "o_orderdate")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$dir/ord").saveAsTable("ord_bucketed")

        val joined = spark.table("li_bucketed")
          .join(spark.table("ord_bucketed"),
                col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey").agg(sum("l_extendedprice").as("rev"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        // the join itself must be exchange-free; the groupBy above the
        // join still shuffles (on o_custkey), so scope the assertion to
        // the subtree below the join by planning the bare join
        val bare = spark.table("li_bucketed")
          .join(spark.table("ord_bucketed"),
                col("l_orderkey") === col("o_orderkey"))
        val barePlan = bare.queryExecution.executedPlan.toString
        assert(!barePlan.contains("Exchange"),
          s"bucketed join must not shuffle:\n$barePlan")
        assert(bare.count() > 0)
      } finally {
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")
        deleteRecursively(dir) // same /tmp-leak class as the skew fixture
      }
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the third scale lever next to bucketing and skew split: when a dim
    // side is filtered selectively, Catalyst injects a bloom-filter
    // semi-join onto the fact scan so non-matching fact rows die at the
    // scan instead of crossing the shuffle — at 100 TB that is the
    // difference between shuffling the full fact table and shuffling the
    // matching slice. Thresholds lowered so the MB-scale fixture takes
    // the same code path.
    GraftSession.withConf(spark)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // keep the SMJ shape
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0"
    ) {
      val sfDir = "/root/testdata/sf0.001"
      val l = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_extendedprice")
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT") // selective dim side
        .select("o_orderkey", "o_custkey")
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("might_contain"),
        s"expected an injected runtime bloom filter:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("AQE splits a skewed shuffle partition (skew=true in final plan)") {
    GraftSession.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // production defaults are 256 MB / factor 5; scaled to the fixture
      // so one hot key exceeds factor x median exactly like a hot seller
      // would at 100 TB
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768"
    ) {
      // key 0 carries ~1/3 of all rows; the rest are unique
      val big = spark.range(300000L)
        .select(when(col("id") % 3 === 0, 0L).otherwise(col("id")).as("k"),
                col("id").as("v"))
      val small = spark.range(0L, 1000L).select(col("id").as("k"), lit(1).as("w"))
      val joined = big.join(small, "k")
      // collect() executes joined's OWN QueryExecution (count() would plan
      // a fresh one and leave this plan unexecuted / isFinalPlan=false)
      assert(joined.collect().nonEmpty)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew split in final plan:\n$finalPlan")
    }
  }

  test("q_skew_join's decade-up shuffle form is absorbed by the AQE skew split") {
    // the oracle-gated hot-key entry itself, on the shuffle path it takes
    // once the profile side outgrows the broadcast threshold (forced here
    // with -1, thresholds scaled to the fixture as in the synthetic pin
    // above): the 20%-hot fact partition must carry the skew=true marker.
    //
    // Two r15-measured vetoes this pin encodes (both found by bisecting
    // the entry against the synthetic pin above):
    //   1. AQE's skew rule only matches SMJ(Sort(stage), Sort(stage)) —
    //      the profile's final agg fused between its shuffle and the join
    //      vetoed the split for the WHOLE join; the entry materializes
    //      the bounded profile (localCheckpoint — a stored table in
    //      production) to restore the absorbable shape.
    //   2. A skewed reduce partition is split along MAPPER boundaries:
    //      the single-file 2 MB gate fixture has ONE row group → one map
    //      output → nothing to split, at any threshold. The fact table is
    //      re-laid-out multi-file here (the shape any decade-scale table
    //      has — ScaleUp fixtures are written repartition(32)).
    val dir = java.nio.file.Files.createTempDirectory("graftskewfix")
    try {
    Tables.events(spark, "/root/testdata/sf0.1").repartition(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    GraftSession.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      // the entry's per-key audit agg rides the join's hash partitioning
      // (partial agg in the same stage, zero extra exchange), so vanilla
      // AQE REFUSES the split — it would break the agg's required
      // distribution. forceOptimizeSkewedJoin is the production setting
      // (conf/cluster.conf) for exactly this shape: split the hot
      // partition and pay one tiny extra exchange of pre-aggregated
      // partials (#keys rows, not the fact side) for the final merge.
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true"
    ) {
      val df = graft.queries.EventAnalytics.skewJoin(spark, dir.toString)
      assert(df.collect().nonEmpty)
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected the hot-key join to be AQE skew-split:\n$finalPlan")
    }
    // the fixture-sized re-laid-out copy must not leak under /tmp on every
    // run (r15 ADVICE — the skew thresholds make this test rerun-heavy)
    } finally deleteRecursively(dir)
  }

  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  test("chunkDedup plans as hash aggregates — no WindowExec on the digest key") {
    // a boilerplate chunk occurring 10^8 times must never become a single
    // sort partition: the dedup is hash-agg only (map-side partials absorb
    // the hot key), and the only join key is doc_id (cardinality = #docs)
    val df = graft.queries.TextPipeline.chunkDedup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected no WindowExec:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(df.count() > 0)
  }

  test("piiRedact is a single narrow pass — no exchange anywhere in the plan") {
    // redaction is regex + hash in one projection; any shuffle would mean
    // an accidental wide dependency in what must stay map-only at 100 TB
    val df = graft.queries.TextPipeline.piiRedact(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected a shuffle-free map plan:\n$plan")
    assert(df.count() > 0)
  }

  test("urlDomains shuffles only pre-aggregated domain partials") {
    // explode happens map-side; the only exchange key is `domain` and the
    // aggregate has a partial before it — so shuffle volume is bounded by
    // #domains x #partitions, not corpus size
    val df = graft.queries.TextPipeline.urlDomains(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    val exchanges = "Exchange hashpartitioning\\(domain".r.findAllIn(plan).size
    assert(exchanges >= 1 && !plan.contains("Window"),
      s"expected domain-keyed exchange only:\n$plan")
    assert(df.count() > 0)
  }

  test("bloomDecontaminate probes the bloom before any join on the corpus side") {
    // the whole point of the prefilter: might_contain must sit in a Filter
    // BELOW the exact join, so non-candidate shingles die map-side
    val df = graft.queries.TextPipeline.bloomDecontaminate(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"expected a bloom probe filter:\n$plan")
    val probeIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      // executedPlan prints top-down: the probe printing AFTER the join
      // node means it executes BELOW it (earlier in dataflow)
      s"expected the probe below the verification join:\n$plan")
    assert(df.count() > 0)
  }

  test("semanticDedup: no SortAggregate, canon mapping joined as broadcast") {
    // the within-cell pair scoring shuffles on cluster id; the per-vector
    // canon assignment must come back as a broadcast of the (small)
    // min-partner table, never a second full shuffle of the corpus
    val df = graft.queries.Similarity.semanticDedup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortAggregate"), s"expected hash aggregates only:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast canon join:\n$plan")
    assert(df.count() > 0)
  }

  test("clusterBest and curationE2e elect via hash MAX — no SortAggregate, no Window") {
    // the packed-BIGINT argmax must stay a plain hash-aggregable MAX;
    // max_by over a struct key (or a per-cluster window) would put a
    // 10^8-doc template cluster into one sort partition
    for (df <- Seq(
      graft.queries.TextPipeline.clusterBest(spark, "/root/testdata/sf0.001"),
      graft.queries.TextPipeline.curationE2e(spark, "/root/testdata/sf0.001"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortAggregate"), s"expected hash aggregates only:\n$plan")
      assert(!plan.contains("Window"), s"expected no WindowExec:\n$plan")
      assert(df.count() > 0)
    }
  }

  test("docFreq joins the df table back as a broadcast — word-keyed shuffle only for the agg") {
    // df(word) is |vocabulary|-sized (bounded, zipf-truncated), so the
    // join-back must broadcast it; the per-doc rollup shuffles partials
    // on doc_id only
    val df = graft.queries.TextPipeline.docFreq(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast df join:\n$plan")
    assert(!plan.contains("SortAggregate") && !plan.contains("Window"),
      s"expected hash aggregates only:\n$plan")
    assert(df.count() > 0)
  }

  test("tfidfTopk rank-filters as WindowGroupLimit; collocations tops out without a global sort") {
    // the per-doc rank filter must keep a K-row heap under the window
    // (no doc's full vocabulary sorted in one task)
    val t = graft.queries.TextPipeline.tfidfTopk(spark, "/root/testdata/sf0.001")
    val tp = t.queryExecution.executedPlan.toString
    assert(tp.contains("WindowGroupLimit"), s"expected WindowGroupLimit under the rank filter:\n$tp")
    assert(t.count() > 0)
    // the corpus-level top-K must merge per-partition heaps, and the
    // 1-row bigram total must broadcast, never cartesian
    val c = graft.queries.TextPipeline.collocations(spark, "/root/testdata/sf0.001")
    val cp = c.queryExecution.executedPlan.toString
    assert(cp.contains("TakeOrderedAndProject"), s"expected top-k merge, not a global sort:\n$cp")
    assert(!cp.contains("CartesianProduct"), s"the 1-row total must broadcast:\n$cp")
    assert(c.count() > 0)
  }

  test("mixtureSample: every window partitions on bucket — no whole-source sort task") {
    val m = graft.queries.TextPipeline.mixtureSample(spark, "/root/testdata/sf0.001")
    val mp = m.queryExecution.executedPlan.toString
    // the doc-stream cumulative sum must run inside (source, bucket);
    // a Window partitioned on source alone is the single-task-per-source
    // shape this operator exists to avoid. The only source-partitioned
    // window allowed is the per-bucket offset scan over the tiny
    // |sources| x buckets subtotal frame, which reads from the
    // checkpointed agg, never from the doc stream.
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(mp.toLowerCase).map(_.group(1)).toSeq
    assert(windowSpecs.nonEmpty)
    val onDocs = windowSpecs.filter(s => s.contains("skey"))
    assert(onDocs.nonEmpty && onDocs.forall(_.contains("bucket")),
      s"doc-stream window must partition on bucket:\n$mp")
    assert(!mp.contains("SortAggregate"), s"no SortAggregate:\n$mp")
    assert(m.count() > 0)

    // same property for the rank twin: qualityCut's doc-stream
    // row_number must partition on (source, sbucket), never source alone
    val c = graft.queries.TextPipeline.qualityCut(spark, "/root/testdata/sf0.001")
    val cp = c.queryExecution.executedPlan.toString
    val cSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(cp.toLowerCase).map(_.group(1)).toSeq
    val onScores = cSpecs.filter(s => s.contains("score_scaled"))
    assert(onScores.nonEmpty && onScores.forall(_.contains("sbucket")),
      s"doc-stream rank must partition on sbucket:\n$cp")
    assert(c.count() > 0)
  }

  test("pcaPower: each round is one narrow pass + 64-row agg; norm broadcasts") {
    val p = graft.queries.Similarity.pcaPower(spark, "/root/testdata/sf0.001")
    val pp = p.queryExecution.executedPlan.toString
    // the final-round plan: per-dim hash agg with map-side partials,
    // 1-row norm broadcast back — never a sort, never a real cartesian
    assert(!pp.contains("SortAggregate"), s"no SortAggregate:\n$pp")
    assert(!pp.contains("CartesianProduct"), s"norm must broadcast:\n$pp")
    assert(p.count() == 64)
  }

  test("truncRecall: both scorers broadcast the query side; no real cartesian, no sortagg") {
    val t = graft.queries.Similarity.truncRecall(spark, "/root/testdata/sf0.001")
    val tp = t.queryExecution.executedPlan.toString
    assert(!tp.contains("CartesianProduct"), s"query sides must broadcast:\n$tp")
    assert(!tp.contains("SortAggregate"), s"no SortAggregate:\n$tp")
    assert(t.count() > 0)
  }

  test("lshRecall: ground truth is an equi-join on the shingle index — never a cartesian") {
    val r = graft.queries.TextPipeline.lshRecall(spark, "/root/testdata/sf0.001")
    val rp = r.queryExecution.executedPlan.toString
    // the exact-truth pair generation must come from the inverted shingle
    // index (shuffle equi-join on the shingle string), not an all-pairs
    // product over the sample — the sample shrinks relatively at scale
    // but its absolute size grows with the corpus
    assert(!rp.contains("CartesianProduct"), s"truth join must be an equi-join:\n$rp")
    assert(!rp.contains("BroadcastNestedLoopJoin"), s"truth join must be an equi-join:\n$rp")
    assert(!rp.contains("SortAggregate"), s"no SortAggregate:\n$rp")
    assert(r.count() > 0)
  }

  test("gopherRules is a single shuffle-free projection over a 2-column scan") {
    val g = graft.queries.TextPipeline.gopherRules(spark, "/root/testdata/sf0.001")
    val gp = g.queryExecution.executedPlan.toString
    // the rule battery itself must stay map-only: the ONLY admissible
    // exchange is Sizing.spreadTable's scan fan-out (REPARTITION_BY_NUM
    // directly over the file scan — identity on any multi-split table,
    // present here only because the fixture is single-file parquet);
    // an aggregation/join/window exchange would still fail this pin
    assert("Exchange".r.findAllIn(gp).size ==
             "REPARTITION_BY_NUM".r.findAllIn(gp).size,
      s"rule battery must be map-only beyond the scan fan-out:\n$gp")
    assert(!gp.contains("Generate"), s"no explode in the rule battery:\n$gp")
    assert("ReadSchema: struct<doc_id:bigint,text:string".r.findFirstIn(gp).isDefined,
      s"scan must prune to doc_id+text:\n$gp")
    assert(g.count() > 0)
  }

  test("funnel: conditional-min hash aggs, no Window; retention: no re-dedup after distinct") {
    val f = graft.queries.EventAnalytics.funnel(spark, "/root/testdata/sf0.001")
    val fp = f.queryExecution.executedPlan.toString
    assert(!fp.contains("WindowExec"), s"funnel stages must be aggs, not windows:\n$fp")
    assert(!fp.contains("SortAggregate"), s"no SortAggregate:\n$fp")
    assert(f.count() > 0)
    val r = graft.queries.EventAnalytics.retention(spark, "/root/testdata/sf0.001")
    val rp = r.queryExecution.executedPlan.toString
    assert(!rp.contains("SortAggregate"), s"no SortAggregate:\n$rp")
    // the distinct-user count must ride the already-distinct projection:
    // no `count(distinct …)` expand node may appear
    assert(!rp.contains("Expand"), s"no distinct-agg Expand:\n$rp")
    assert(r.count() > 0)
  }
}
