package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-off perf-fixture generator (VERDICT r8 Next #1): replicates the
  * driver's `documents` and `embeddings` tables ×K into a `sf1`-named
  * directory so the expensive entries can be measured at 10× the bench
  * scale. This is a PERF fixture only — no oracle runs against it; the
  * correctness gate stays on the driver's own testdata.
  *
  * Replication must not manufacture degenerate duplicate structure, or the
  * measurement captures a data artifact instead of engine scaling:
  *
  *   - documents: replica k > 0 suffixes every word with an alphanumeric
  *     replica tag (survives the pipeline's punctuation-stripping
  *     normalizer), so replicas share no shingles/minhashes with the
  *     original — pair-generation work grows with corpus size, not
  *     quadratically with copy count. `n_chars` is recomputed to stay
  *     consistent with the perturbed text.
  *   - embeddings: replica k > 0 adds deterministic per-(row, dim) noise
  *     of amplitude ≤ 5e-3, breaking exact-duplicate geometry while
  *     preserving the label/cluster structure. Replica vec_ids are remapped
  *     to skip every multiple of 25, so replicas contribute CORPUS ONLY —
  *     the query batch (id%50=0) and pivot-centroid set (id%25=0) stay
  *     pinned to replica 0's production-representative constants at every
  *     scale factor (r10 VERDICT Next #2; the pre-r11 scheme scaled both
  *     with SF and the decade table measured a Q×N benchmark quadratic).
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [factor=10] [aniso]
  * (name <dstDir> ending in /sf1 — StreamingBench.sfOf parses the SF from
  * the path, which also scales the streaming entries' generated volume).
  *
  * `aniso` (r13 VERDICT Next #7): apply the deterministic per-dim energy
  * profile gain(d) = 1/√(d+1) to every embedding — a power-law spectrum
  * (dim-0 energy 64× dim-63's) like the PCA spectra real embedding models
  * produce, instead of the driver fixture's near-isotropic dims. This is
  * the measurement fixture for the OPQ family: on isotropic dims the
  * contiguous PQ layout is already balanced and `s_opq_permute` can only
  * record a ≈0 MSE delta (the honest r13 −0.3% result); on the profiled
  * fixture the contiguous layout concentrates the spectrum's head in
  * subspace 0 and the energy-balanced permutation's reconstruction gain
  * becomes decisively non-zero. Ids, labels and row counts are untouched,
  * so every oracle runs on the profiled dir unchanged.
  */
object ScaleUp {

  /** The tables a scaled fixture dir must materialize — exactly the view
    * list `tools/selfcheck.py` eagerly creates (TABLES), so a missing
    * member breaks the documented ScaleUp→selfcheck workflow (the r10
    * ADVICE medium class; regression-guarded by ScaleUpSpec). */
  val FixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val aniso = args.length > 3 && args(3) == "aniso"
    val spark = graft.GraftSession(shufflePartitions = Some(32))
    scale(spark, src, dst, k, aniso)
    spark.stop()
  }

  /** The whole fixture build, callable from specs (ScaleUpSpec) with an
    * existing session. */
  def scale(spark: SparkSession, src: String, dst: String, k: Int,
            aniso: Boolean = false): Unit = {
    val reps = spark.range(k).select(col("id").as("rep"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nD = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep") * nD).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "), w => concat(w, lit("q"), col("rep"))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // Replica k > 0 remaps vec_id through f(v) = v + 1 + v div 24, which
    // enumerates exactly the non-multiples of 25 (v = 24m + j, 0 <= j < 24
    // maps to 25m + j + 1, residue 1..24 mod 25) — so replicas contribute
    // CORPUS ONLY: no new queries (vec_id % 50 == 0) and no new pivot
    // centroids (vec_id % 25 == 0). This pins the query batch and the
    // coarse-cell count to replica 0's production-representative constants
    // independent of the scale factor (r10 VERDICT Next #2: the previous
    // scheme scaled Q and K with SF, so the decade table measured the
    // benchmark's QxN quadratic instead of the operator's per-query cost).
    // r13 GEOMETRY-PRESERVING embedding scale-up (r12 VERDICT Next #1).
    // The pre-r13 scheme replicated each vector with <= 5e-3 noise; at
    // that amplitude every replica clique is its own top-5 (cos ~ 1), all
    // kNN edges are intra-clique and the graph decomposes into ~N/k
    // disconnected islands — graph-ANN recall was STRUCTURALLY
    // unmeasurable on scaled fixtures (BASELINE §r12). Replica k > 0 is
    // now an INTERPOLANT between two same-label parents — the parent and
    // its (li + rep) mod |label| same-label neighbor in vec_id order —
    // at a deterministic lambda in [0.25, 0.75), plus the old calibrated
    // noise. Interpolants fill the chords of each label cluster (smooth
    // manifold density, the geometry real corpora have and navigable
    // small-world graphs need) instead of stacking cliques; a label with
    // a single parent degrades to the old noise replica. The vec_id
    // remap is unchanged: f(v) = rep*nV + v + 1 + v div 24 enumerates
    // non-multiples of 25, so replicas contribute CORPUS ONLY (no new
    // queries or pivots — the pinned-workload rule every decade row
    // depends on).
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVraw = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val nV = ((nVraw + nVraw / 24 + 2 + 99) / 100) * 100
    val wl = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val lcnts = emb.groupBy(col("label")).agg(count(lit(1)).as("lcnt"))
    val baseIdx = emb.withColumn("li", row_number().over(wl) - 1)
      .join(broadcast(lcnts), "label")
    val partners = baseIdx
      .select(col("label"), col("li").as("pi"), col("embedding").as("pemb"))
    val interp = baseIdx
      .crossJoin(broadcast(spark.range(1, k).select(col("id").as("rep"))))
      .withColumn("pi", (col("li") + col("rep")) % col("lcnt"))
      .join(partners, Seq("label", "pi"))
      .withColumn("new_vid",
        col("rep") * nV + col("vec_id") + 1 + expr("vec_id div 24"))
      .withColumn("lam",
        expr("cast(pmod(vec_id * 31 + rep * 17, 500) + 250 as double) / 1000.0"))
      .select(
        col("new_vid").as("vec_id"),
        expr("transform(embedding, (x, i) -> cast(lam * x + (1.0 - lam) * " +
          "element_at(pemb, i + 1) + " +
          "(pmod(new_vid * 31 + i * 7 + rep * 13, 997) - 498) / 1e5 as float))")
          .as("embedding"),
        col("label"))
    val allEmb = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(interp)
    val outEmb = if (aniso)
      // deterministic power-law energy profile (class doc): per-dim gain
      // 1/sqrt(d+1), applied AFTER interpolation so the profiled geometry
      // is exactly the standard fixture's, rescaled dim-wise
      allEmb.withColumn("embedding", expr(
        "transform(embedding, (x, i) -> cast(x / sqrt(cast(i + 1 as double)) as float))"))
    else allEmb
    outEmb
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    // TPC-H family (r10 VERDICT Next #1 — the one operator family with no
    // measured exponent): replica-keyed ×k so every join stays
    // replica-local and cardinalities grow linearly, never quadratically.
    //   - key shifts are multiples of 100: the CDC entries derive their
    //     change stream from o_orderkey % 50 / % 100, so a non-multiple
    //     shift would change each replica's change-key FRACTION and the
    //     measured curve would be a data artifact, not engine scaling
    //   - lineitem shifts l_orderkey by the SAME stride as orders, and
    //     orders shifts o_custkey by customer's stride, so l⋈o and o⋈c
    //     fan-outs per key are exactly the original's
    //   - dimension tables (region/nation/part/supplier) copy unscaled:
    //     production holds dims fixed while facts grow
    val ords = spark.read.parquet(s"$src/orders.parquet")
    val nO = ((ords.agg(max(col("o_orderkey"))).head.getLong(0) + 1 + 99) / 100) * 100
    val cust = spark.read.parquet(s"$src/customer.parquet")
    val nC = ((cust.agg(max(col("c_custkey"))).head.getLong(0) + 1 + 99) / 100) * 100
    cust.crossJoin(broadcast(reps))
      .select((col("c_custkey") + col("rep") * nC).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    ords.crossJoin(broadcast(reps))
      .select((col("o_orderkey") + col("rep") * nO).as("o_orderkey"),
        (col("o_custkey") + col("rep") * nC).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    spark.read.parquet(s"$src/lineitem.parquet").crossJoin(broadcast(reps))
      .select((col("l_orderkey") + col("rep") * nO).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    // events scales like the facts (r10 ADVICE: selfcheck.py eagerly
    // creates a DuckDB view for EVERY table, so a fixture dir without
    // events.parquet breaks the documented ScaleUp+selfcheck workflow).
    // user_id/event_id shift by replica strides rounded to multiples of
    // 100 (same convention as orders/customer), ts/type/value/props copy
    // unchanged — every (window, user) group and session stays
    // replica-local, so the per-key distributions are exactly the
    // original's and volume grows linearly. Read through Tables.events so
    // a nanos-as-long source layout is normalized to TIMESTAMP micros in
    // the scaled fixture — Spark and DuckDB then agree on the dtype
    // without the legacy-nanos shim.
    val ev = graft.Tables.events(spark, src)
    val evCols = ev.columns
    val nE = ((ev.agg(max(col("event_id"))).head.getLong(0) + 1 + 99) / 100) * 100
    val nU = ((ev.agg(max(col("user_id"))).head.getLong(0) + 1 + 99) / 100) * 100
    ev.crossJoin(broadcast(reps))
      .select(evCols.map {
        case "event_id" => (col("event_id") + col("rep") * nE).as("event_id")
        case "user_id"  => (col("user_id") + col("rep") * nU).as("user_id")
        case c          => col(c)
      }: _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    for (t <- Seq("region", "nation", "part", "supplier"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    println(s"scaled $src x$k -> $dst (docs ${nD}x$k, vecs base $nV x$k, " +
      s"orders base $nO x$k, cust base $nC x$k)")
  }
}
