package graft.queries

import graft.{Sizing, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>, label):
  *
  *   - brute-force cosine top-k (the exactness baseline)
  *   - IVF-style ANN: deterministic coarse centroids → cell assignment →
  *     probe top-3 cells (the scale path: candidate set shrinks ~25×)
  *   - sign-LSH bucketed near-duplicate pairs
  *   - per-label vector statistics
  *
  * All vector math is done in double (floats cast exactly), with per-row
  * sequential folds — cross-engine differences are ≤ a few ulps, and every
  * reported cosine is rounded to 6 digits while ranking uses raw values
  * whose gaps (~1e-2 for random data) dwarf ulp noise.
  *
  * Scale notes (100 TB):
  *   - the query/centroid sides are broadcast; the big side streams through
  *     a single narrow pass (no shuffle for the similarity computation);
  *   - top-k is two-phase (salted partial top-k, then merge) so no single
  *     reducer ever sorts more than k × #salts rows per query — the same
  *     topology works with 10⁹ candidates per query;
  *   - IVF assignment is a map-side argmax against broadcast centroids;
  *     bucket sizes stay bounded, so the candidate join is skew-free.
  */
object Similarity extends QueryModule {

  private[graft] val QueryMod = 50 // vec_id % QueryMod == 0 → query vector
  private val CentroidMod = 25 // vec_id % CentroidMod == 0 → IVF centroid
  private[graft] val NProbe = 3
  private[graft] val TopK = 5
  private val Salts = 8
  /** Radius-search threshold: ~0.5% of random query-corpus pairs at the
    * fixture geometry — non-trivial result mass at every SF (40/50/582
    * rows at sf0.001/0.01/0.1) without approaching the max cos ≈ 0.45. */
  private[graft] val RangeTau = 0.30

  /** Shared DuckDB oracle CTE body (the SQL twin of [[vecs]]): vectors
    * with a positive norm, cast to double. Interpolated into every
    * similarity oracle so the norm guard can never silently diverge
    * between queries.
    */
  private val VecsCteSql: String =
    "SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings\n" +
    "  WHERE sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0"

  // NOT spread here (r16): a fan-out exchange in front of EVERY vecs
  // reference measurably REGRESSED the iterative entries (s_cosine_cc
  // 2.6 → 7.2 s, s_knn_labelprop 3.4 → 5.5 s at sf0.1 — one extra stage
  // per reference per round dwarfs the 1-task-scan cost on a 2k-row
  // corpus). The fan-out is applied surgically at the measured hot
  // kernels instead (knnBrute's corpus-side cosine pass).
  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", expr("sqrt(aggregate(transform(emb, x -> x * x), 0D, (a, x) -> a + x))"))
      .filter(col("nrm") > 0)

  /** Codegen'd native expression (graft.spark.CosineSim, injected by
    * GraftExtensions): one fused loop, no intermediate zipped array, stays
    * inside whole-stage codegen — vs the aggregate(zip_with(...)) HOF
    * composition this replaced. Built from the passed columns (not a
    * hard-coded name lookup), so any call site works.
    */
  private def cosine(qe: Column, ce: Column): Column =
    call_function("cosine_sim", qe, ce)

  /** Two-phase salted per-query top-k over `scored(query_id, vec_id, …)`:
    * phase 1 ranks within (query_id, vec_id % Salts) — Salts independent
    * bounded sorts per query — phase 2 merges the ≤ TopK × Salts survivors
    * in ONE final sort partition per query. The bound is what matters at
    * 1 B vectors: even a pruned candidate set (IVF probe ≈ NProbe ×
    * cell-size ≈ 0.5 M rows/query) never reaches a single reducer — only
    * TopK × Salts rows do. `order` must be a total order (score, vec_id)
    * so both phases agree with the oracle's ROW_NUMBER deterministically.
    */
  private def saltedTopK(scored: DataFrame, order: Column*): DataFrame =
    saltedTopN(scored, TopK, order: _*)

  /** [[saltedTopK]] at an arbitrary per-query result size `n` (the MMR
    * candidate pool wants a deeper cut than the serving TopK). */
  private def saltedTopN(scored: DataFrame, n: Int, order: Column*): DataFrame = {
    val w1 = Window.partitionBy(col("query_id"), pmod(col("vec_id"), lit(Salts)))
      .orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored.withColumn("prk", row_number().over(w1)).filter(col("prk") <= n)
      .withColumn("rk", row_number().over(w2)).filter(col("rk") <= n)
  }

  /** Brute-force cosine top-k per query vector, two-phase (salted) rank. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
    val c = e.select(col("vec_id"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qemb"), col("cemb")))
      // quantized-rank contract (same as knnBinary/knnGraph): rank on
      // ROUND(cos, 6) so cross-engine exp/fma ulps can never flip a
      // TopK-boundary order — r10 ADVICE applied uniformly.
      .select(col("query_id"), col("vec_id"), round(col("cos"), 6).as("cos6"))
    saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  def knnBruteSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |), s AS (
       |  SELECT query_id, vec_id, list_cosine_similarity(qemb, emb) AS cos
       |  FROM q, e WHERE vec_id <> query_id
       |)
       |SELECT query_id, vec_id, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM s QUALIFY rk <= $TopK
       |""".stripMargin

  /** `s_range_search`: RADIUS (threshold) search — every corpus vector
    * with cosine ≥ [[RangeTau]] of each query, the query shape behind
    * "find everything near-duplicate to X" audits and dedup spot checks.
    *
    * Deliberately a zero-shuffle exact scan: queries broadcast, ONE
    * narrow codegen'd map pass over the corpus (filter + project — no
    * aggregation, no exchange; at 100 TB it is a pure scan whose cost is
    * I/O). Metric cell pruning was measured and rejected for the exact
    * path: on this embedding geometry the spherical triangle-inequality
    * bound cos(θ(q,μ) − r_cell) prunes NOTHING (r13 probe: nearest-
    * centroid cell radii sit near π/2 in high dimension, so the bound
    * stays ≈ sin θ(q,μ) ≥ τ for every cell at τ = 0.3 — 200/200 and
    * 3200/3200 query-cell pairs survive at sf0.01/sf0.1). Sub-scan range
    * search therefore requires accepting approximation — shipped as
    * [[rangeLsh]] (`s_range_lsh`), which audits its recall against THIS
    * entry's exact truth. Threshold compares the same ROUND(cos, 6) both
    * engines rank on, so the boundary can never flip cross-engine.
    */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    e.select(col("vec_id"), col("emb").as("cemb"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .filter(col("cos6") >= RangeTau)
      .select(col("query_id"), col("vec_id"), col("cos6"))
  }

  def rangeSearchSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |)
       |SELECT query_id, vec_id, ROUND(list_cosine_similarity(qemb, emb), 6) AS cos6
       |FROM q, e
       |WHERE vec_id <> query_id
       |  AND ROUND(list_cosine_similarity(qemb, emb), 6) >= $RangeTau
       |""".stripMargin

  /** Integer DCG discount weights w_i = round(10⁶ / log₂(i + 1)) for
    * ranks 1..[[TopK]] — precomputed CONSTANTS so the rank-quality audit
    * is pure integer arithmetic (no cross-engine log/float exposure). */
  private val NdcgW: Seq[Long] =
    (1 to TopK).map(i => math.round(1e6 / (math.log(i + 1) / math.log(2))))
  private def ndcgIdeal: Long = NdcgW.sum

  /** `s_serve_ndcg`: RANK-AWARE serving quality — nDCG@[[TopK]] and MRR
    * of the production IVF serve ([[knnIvf]], the `s_knn_serve` plan)
    * against exact brute-force truth. The recall audits (`s_ann_recall`,
    * `s_probe_curve`) count SET overlap; a serving team's dashboards
    * also read rank-aware metrics, because a serve that returns the
    * right five documents in the wrong order scores differently for
    * downstream RAG than one that nails rank 1. Binary relevance (hit =
    * served id ∈ exact top-k), discounts by the SERVED rank, all
    * arithmetic exact integers: DCG_q = Σ w_served_rank over hits with
    * w_i = round(10⁶/log₂(i+1)) constants, nDCG_bp = DCG·10⁴ div IDCG
    * (IDCG = Σ w, truth is always k deep on this fixture), MRR_bp =
    * 10⁴ div (first hit's served rank), 0 when no hit.
    *
    * Scale shape: both sides are the existing top-k plans (bounded
    * salted ranks); the audit joins are queries × k rows. Output: one
    * row per query.
    */
  def serveNdcg(spark: SparkSession, dir: String): DataFrame = {
    val served = knnIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), col("rk"))
    val truth = knnBrute(spark, dir)
      .select(col("query_id"), col("vec_id"))
    val wCase = (1 to TopK).map(i => s"WHEN $i THEN ${NdcgW(i - 1)}L")
      .mkString("CASE rk ", " ", " ELSE 0L END")
    val hits = served.join(truth, Seq("query_id", "vec_id"), "left_semi")
      .withColumn("w", expr(wCase))
    val agg = hits.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"),
        sum(col("w")).as("dcg_q"),
        min(col("rk")).as("first_hit_rk"))
    // every query has a served list; left join so zero-hit queries keep
    // a row with zeroed metrics
    served.select(col("query_id")).distinct()
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("dcg_q"), lit(0L)).as("dcg_q"),
        coalesce(col("first_hit_rk"), lit(0L)).cast("long").as("first_hit_rk"))
      .withColumn("ndcg_bp", expr(s"dcg_q * 10000 div ${ndcgIdeal}L"))
      .withColumn("mrr_bp",
        expr("CASE WHEN first_hit_rk = 0 THEN 0L ELSE 10000 div first_hit_rk END"))
  }

  def serveNdcgSql: String = {
    val wCase = (1 to TopK).map(i => s"WHEN $i THEN ${NdcgW(i - 1)}")
      .mkString("CASE s.rk ", " ", " ELSE 0 END")
    s"""WITH served AS (
       |${knnIvfSql}
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |${knnBruteSql}
       |  )
       |), hits AS (
       |  SELECT s.query_id, s.rk, $wCase AS w
       |  FROM served s SEMI JOIN b ON s.query_id = b.query_id AND s.vec_id = b.vec_id
       |), agg AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |         CAST(SUM(w) AS BIGINT) AS dcg_q,
       |         CAST(MIN(rk) AS BIGINT) AS first_hit_rk
       |  FROM hits GROUP BY query_id
       |)
       |SELECT q.query_id,
       |       COALESCE(agg.n_hits, 0) AS n_hits,
       |       COALESCE(agg.dcg_q, 0) AS dcg_q,
       |       COALESCE(agg.first_hit_rk, 0) AS first_hit_rk,
       |       COALESCE(agg.dcg_q, 0) * 10000 // ${ndcgIdeal} AS ndcg_bp,
       |       CASE WHEN COALESCE(agg.first_hit_rk, 0) = 0 THEN 0
       |            ELSE 10000 // agg.first_hit_rk END AS mrr_bp
       |FROM (SELECT DISTINCT query_id FROM served) q
       |LEFT JOIN agg ON agg.query_id = q.query_id
       |""".stripMargin
  }

  /** Sign-LSH family for [[rangeLsh]]: [[RangeLshBands]] bands of
    * [[RangeLshBits]] coordinate-comparison bits. The band/bit counts are
    * sized for the RADIUS regime, not the dup regime: a comparator bit
    * agrees for a pair at angle θ with p = 1 − θ/π, so at τ = 0.30
    * (θ ≈ 72.5°, p ≈ 0.60) a 12-bit band collides with p¹² ≈ 0.002 — the
    * `s_lsh_dup_pairs` geometry (4 × 12 bits) would need ~500 bands for
    * usable recall. 8-bit bands collide at ≈ 0.016 for boundary pairs vs
    * 1/256 for random ones, and 64 of them put recall in the ~0.7 band
    * while bounding the candidate union near 1 − (255/256)⁶⁴ ≈ 22% of
    * the corpus per query. That ratio is the honest LSH exponent at this
    * τ: ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.74 on near-isotropic data, so τ = 0.3
    * sits in sub-scan-but-not-cheap territory BY GEOMETRY — at production
    * near-dup radii (τ ≥ 0.9, p₁ ≥ 0.97) the same machinery reaches
    * recall ≥ 0.99 with per-band collision ~2⁻¹⁶·N candidates. Bit t
    * compares coordinates ((11t + 5) mod 64, +1 + (29t mod 63) offset) —
    * within a band the 11t stride is injective mod 64 so the 8
    * comparators are distinct, and the offset term never degenerates to
    * i₂ = i₁.
    */
  private val RangeLshBands = 64
  private val RangeLshBits = 8
  /** Second audit radius: recall strictly inside the ball (pairs with
    * more margin over τ) — the LSH-recall-grows-with-cos property. */
  private val RangeTauHi = 0.35
  private def rangeLshPairs: Seq[(Int, Seq[(Int, Int, Int)])] =
    (0 until RangeLshBands).map { b =>
      b -> (0 until RangeLshBits).map { j =>
        val t = b * RangeLshBits + j
        val i1 = (11 * t + 5) % 64
        val i2 = (i1 + 1 + (29 * t) % 63) % 64
        (1 << j, i1, i2)
      }
    }

  /** `s_range_lsh`: SUB-SCAN approximate radius search — the approximate
    * path [[rangeSearch]]'s scaladoc promises: multi-band sign-LSH
    * candidate generation + exact-cosine verify at [[RangeTau]], audited
    * per query against the exact scan's ground truth (recomputed in the
    * same job — verification uses the identical ROUND(cos, 6) ≥ τ rule,
    * so found ⊆ exact structurally and recall_bp is a true recall).
    * Output per query: exact in-radius count, candidate mass (the scan
    * cost actually paid), verified hits, and recall in basis points, at
    * both τ and the interior radius [[RangeTauHi]].
    *
    * Scale shape: band keys are per-row map work on both sides; the
    * candidate join broadcasts the QUERY bands (Q × bands rows) against
    * the corpus bands — no corpus shuffle until the candidate-bounded
    * distinct; verify touches candidates only. At 100 TB the corpus
    * band table is a bucketed posting table and the probe is the same
    * Exchange-free bucket join as every serve entry. Queries with an
    * empty exact ball report recall 10000 (vacuously complete) so the
    * audit never divides by zero.
    */
  def rangeLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val bands = e.select(col("vec_id"),
      posexplode(bandKeys(rangeLshPairs)).as(Seq("band", "bkey")))
    val qbands = bands.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
    val cands = bands.join(broadcast(qbands),
        Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    rangeRecallAudit(e, cands)
  }

  /** Shared verify + ground-truth audit tail of [[rangeLsh]] and
    * [[rangeLshMp]]: exact-cosine verification of the candidate pairs at
    * [[RangeTau]]/[[RangeTauHi]] against the brute in-radius truth,
    * recomputed in the same job with the identical ROUND(cos, 6) ≥ τ rule
    * so found ⊆ exact structurally. */
  private def rangeRecallAudit(e: DataFrame, cands: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val verified = cands
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("cos6") >= RangeTau, 1L).otherwise(0L)).as("n_found"),
        sum(when(col("cos6") >= RangeTauHi, 1L).otherwise(0L)).as("n_found_hi"))
    val exact = e.select(col("vec_id"), col("emb").as("cemb"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .groupBy(col("query_id"))
      .agg(sum(when(col("cos6") >= RangeTau, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("cos6") >= RangeTauHi, 1L).otherwise(0L)).as("n_exact_hi"))
    exact.join(verified, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        col("n_exact_hi"),
        coalesce(col("n_found_hi"), lit(0L)).as("n_found_hi"))
      .withColumn("recall_bp",
        expr("CASE WHEN n_exact = 0 THEN 10000 ELSE n_found * 10000 div n_exact END"))
      .withColumn("recall_hi_bp",
        expr("CASE WHEN n_exact_hi = 0 THEN 10000 ELSE n_found_hi * 10000 div n_exact_hi END"))
  }

  def rangeLshSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), bands AS (
       |  ${bandSelectsSql(rangeLshPairs)}
       |), qb AS (
       |  SELECT vec_id AS query_id, band, bkey FROM bands WHERE vec_id % $QueryMod = 0
       |), cands AS (
       |  SELECT DISTINCT qb.query_id, c.vec_id
       |  FROM qb JOIN bands c ON c.band = qb.band AND c.bkey = qb.bkey
       |  WHERE c.vec_id <> qb.query_id
       |)""".stripMargin + RangeAuditSqlTail

  /** DuckDB twin of [[rangeRecallAudit]]: shared verify + truth tail over
    * CTEs `e(vec_id, emb)` and `cands(query_id, vec_id)`. Opens with a
    * comma continuing the caller's WITH list. */
  private def RangeAuditSqlTail: String =
    s""", v AS (
       |  SELECT c.query_id,
       |         ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) AS cos6
       |  FROM cands c JOIN e qe ON qe.vec_id = c.query_id
       |               JOIN e ce ON ce.vec_id = c.vec_id
       |), nf AS (
       |  SELECT query_id, COUNT(*) AS n_cands,
       |         CAST(SUM(CASE WHEN cos6 >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |         CAST(SUM(CASE WHEN cos6 >= $RangeTauHi THEN 1 ELSE 0 END) AS BIGINT) AS n_found_hi
       |  FROM v GROUP BY query_id
       |), ex AS (
       |  SELECT qe.vec_id AS query_id,
       |         CAST(SUM(CASE WHEN ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) >= $RangeTau THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |         CAST(SUM(CASE WHEN ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) >= $RangeTauHi THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hi
       |  FROM e qe, e ce
       |  WHERE qe.vec_id % $QueryMod = 0 AND ce.vec_id <> qe.vec_id
       |  GROUP BY qe.vec_id
       |)
       |SELECT ex.query_id, ex.n_exact,
       |       COALESCE(nf.n_cands, 0) AS n_cands,
       |       COALESCE(nf.n_found, 0) AS n_found,
       |       ex.n_exact_hi,
       |       COALESCE(nf.n_found_hi, 0) AS n_found_hi,
       |       CASE WHEN ex.n_exact = 0 THEN 10000
       |            ELSE COALESCE(nf.n_found, 0) * 10000 // ex.n_exact END AS recall_bp,
       |       CASE WHEN ex.n_exact_hi = 0 THEN 10000
       |            ELSE COALESCE(nf.n_found_hi, 0) * 10000 // ex.n_exact_hi END AS recall_hi_bp
       |FROM ex LEFT JOIN nf ON nf.query_id = ex.query_id
       |""".stripMargin

  /** Band count for [[rangeLshMp]] — fewer bands than [[rangeLsh]]'s 64
    * because each band is probed at TWO buckets (see below), so part of
    * the candidate-mass budget is spent on probes instead of bands; the
    * index itself (corpus postings = bands × N rows) SHRINKS by the same
    * factor. Chosen from the band × probe sweep at sf0.1 (BASELINE.md
    * §Round-15: multi-probe radius search): 54 × 2 = 0.856 recall / 34.5%
    * mass (the target band); 64 × 2 = 0.897 / 39.0%; 32 × 4-probe = 0.880
    * / 39.0%; 27 × 4 = 0.832 / 34.8%. */
  private val RangeMpBands = 54

  /** `s_range_lsh_mp`: MULTI-PROBE radius search — [[rangeLsh]]'s honest
    * 0.708 recall is the single-probe ceiling of sign-LSH at τ = 0.30
    * (ρ ≈ 0.74 by geometry, the scaladoc above); the standard public fix
    * a production store reaches for first is multi-probe (Lv et al.,
    * VLDB'07): a true in-radius neighbor that misses the query's bucket
    * most often disagrees on the band's LOWEST-|margin| comparator — the
    * bit where the query sits closest to its decision boundary — so
    * probing the neighbor bucket with the weakest bit flipped recovers
    * most 1-bit misses at zero extra index cost.
    *
    * Per band the query probes 2 buckets: base key k and k⊕w₁, where w₁
    * is the weight of the lowest-margin bit (margin = |emb[i₁] − emb[i₂]|,
    * ties to the lower bit index — pure IEEE-double comparisons, so Spark
    * and DuckDB agree exactly). A boundary pair (p ≈ 0.60/bit) lands in
    * one of the 2 probed buckets ~3.5× as often as in the base bucket
    * alone, so [[RangeMpBands]] = 54 bands × 2 probes reach 0.856 macro
    * recall at 34.5% candidate mass — vs the 64 single-probe bands' 0.708
    * at ~23% — from a SMALLER index (full sweep table in the
    * [[RangeMpBands]] doc and BASELINE.md §Round-15).
    *
    * Scale shape identical to [[rangeLsh]]: corpus postings are per-row
    * map work (the posting table a 100 TB store would bucket once);
    * probes multiply only the QUERY side (Q × bands × 2 rows, broadcast),
    * and verify touches candidates only.
    */
  def rangeLshMp(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val pairs = rangeLshPairs.take(RangeMpBands)
    val bands = e.select(col("vec_id"),
      posexplode(bandKeys(pairs)).as(Seq("band", "bkey")))
    // query side: one row per (query, band) carrying the band's
    // comparators ([[coordsLit]]), for the margins as well as the key
    val qprobes = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb"),
        posexplode(coordsLit(pairs)).as(Seq("band", "pairs")))
      .withColumn("bkey", bandKey(col("pairs")))
      .withColumn("m", expr(
        "transform(pairs, p -> abs(element_at(emb, p._2) - element_at(emb, p._3)))"))
      // weakest-margin bit selection: argmin by (margin, bit index) —
      // array_position picks the FIRST occurrence of the min, which IS the
      // lowest-index tie-break, identically in DuckDB's list_indexof
      .withColumn("j1", array_position(col("m"), array_min(col("m"))))
      .withColumn("w1", expr("shiftleft(1, cast(j1 - 1 as int))"))
      .select(col("query_id"), col("band"),
        explode(array(col("bkey"), col("bkey").bitwiseXOR(col("w1")))).as("bkey"))
    val cands = bands.join(broadcast(qprobes), Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    rangeRecallAudit(e, cands)
  }

  def rangeLshMpSql: String = {
    val pairs = rangeLshPairs.take(RangeMpBands)
    val qmSelects = pairs.map { case (b, bits) =>
      val key = bits.map { case (w, i1, i2) =>
        s"CASE WHEN emb[${i1 + 1}] > emb[${i2 + 1}] THEN $w ELSE 0 END"
      }.mkString(" + ")
      val margins = bits.map { case (_, i1, i2) =>
        s"abs(emb[${i1 + 1}] - emb[${i2 + 1}])"
      }.mkString(", ")
      s"SELECT vec_id AS query_id, $b AS band, $key AS bkey, [$margins] AS m FROM e WHERE vec_id % $QueryMod = 0"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  $VecsCteSql
       |), bands AS (
       |  ${bandSelectsSql(pairs)}
       |), qm AS (
       |  $qmSelects
       |), qj AS (
       |  SELECT query_id, band, bkey,
       |         1 << (list_indexof(m, list_min(m)) - 1) AS w1
       |  FROM qm
       |), qp AS (
       |  SELECT query_id, band, bkey FROM qj
       |  UNION ALL SELECT query_id, band, xor(bkey, w1) FROM qj
       |), cands AS (
       |  SELECT DISTINCT qp.query_id, c.vec_id
       |  FROM qp JOIN bands c ON c.band = qp.band AND c.bkey = qp.bkey
       |  WHERE c.vec_id <> qp.query_id
       |)""".stripMargin + RangeAuditSqlTail
  }

  /** IVF-style ANN: assign every vector to its nearest of the deterministic
    * coarse centroids; for each query probe the NProbe nearest cells and
    * rank only vectors in those cells.
    *
    * Cell assignment is an argmax, so it runs as a `max_by` hash aggregate
    * with map-side partial aggregation — NOT a `row_number` sort-window,
    * which would shuffle+sort the full N×K vector×centroid similarity
    * table. The probe set (top-NProbe cells per *query*) only touches the
    * 1/QueryMod query subset, so the similarity map is recomputed for that
    * branch instead of persisted: both branches are shuffle-free map work
    * against broadcast centroids, and recomputing N×K/QueryMod rows is far
    * cheaper than caching N×K rows across the whole job.
    */
  /** IVF candidate generation shared by [[knnIvf]] and [[knnIvfPq]]:
    * (query_id, vec_id) pairs where vec_id sits in one of the query's
    * NProbe nearest coarse cells (self excluded).
    *
    * Cell assignment is an argmax over (cos, -cid) = highest cos, ties to
    * the lowest cid — same total order as the oracle's row_number. The
    * struct ordering key puts a struct in the aggregation buffer, so this
    * plans as a SortAggregate rather than a HashAggregate — still with
    * map-side PARTIAL aggregation, so only K≪N×K pre-reduced rows per
    * partition reach the shuffle (the property that matters at scale; the
    * row_number window this replaced shuffled and sorted all N×K rows).
    * This is a REVIEWED SortAggregate: the entries whose final plan
    * carries it are explicitly allowlisted in PlanSweepSpec, which bans
    * the node everywhere else.
    * The probe set (top-NProbe cells per *query*) only touches the
    * 1/QueryMod query subset, so the similarity map is recomputed for that
    * branch instead of persisted: both branches are shuffle-free map work
    * against broadcast centroids.
    */
  /** The deterministic pivot cells every IVF oracle is keyed to. */
  private def pivotCentroids(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))

  private def ivfCandidates(e: DataFrame): DataFrame =
    ivfCandidates(e, pivotCentroids(e))

  private def ivfCandidates(e: DataFrame, cent: DataFrame): DataFrame =
    ivfCandidates(e, cent, NProbe)

  private def ivfCandidates(e: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    def simsOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val assign = simsOf(e).groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    // top-NProbe cells per query: K entries per group, sorted in the agg
    // output (ascending (-cos, cid) = cos desc, cid asc), sliced to NProbe.
    val probes = simsOf(e.filter(col("vec_id") % QueryMod === 0))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, nprobe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    knnIvfWithCentroids(spark, dir, null)

  /** [[knnIvf]] with a caller-supplied coarse-centroid table
    * (cid, cemb) — `null` = the oracle-pinned pivot cells. Lets the
    * trained-centroid path (IvfTrainingSpec) reuse the EXACT production
    * probe/assign/rank machinery rather than a spec reimplementation.
    */
  private[graft] def knnIvfWithCentroids(spark: SparkSession, dir: String,
                                         centroids: DataFrame): DataFrame = {
    val e = vecs(spark, dir)
    val cent = Option(centroids).getOrElse(pivotCentroids(e))
    val all = e.select(col("vec_id"), col("emb").as("cemb"), col("nrm").as("cnrm"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val scored = ivfCandidates(e, cent)
      .join(all, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
    saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  /** Convergence trace of the production k-means (round 1 = the
    * pivot-cell assignment), for training-quality audits. */
  private[graft] def kmeansTrace(spark: SparkSession, dir: String): Seq[KmeansRound] =
    kmeansIterate(spark, dir, maxRounds = 30)._2

  /** Total (query, candidate) pairs the IVF probe would score — the
    * index's scan cost, for the recall/cost tradeoff audit. */
  private[graft] def scannedCandidates(spark: SparkSession, dir: String,
                                       centroids: DataFrame): Long = {
    val e = vecs(spark, dir)
    ivfCandidates(e, Option(centroids).getOrElse(pivotCentroids(e))).count()
  }

  /** Coarse centroids TRAINED by the convergent k-means (the production
    * reindex path) — the converged assignment's exact quantized means,
    * keyed by cluster id. The pivot cells stay the cross-engine oracles;
    * this is what a real IVF build would broadcast instead.
    */
  private[graft] def trainedCoarseCentroids(spark: SparkSession, dir: String): DataFrame = {
    val e = kmeansPrep(spark, dir)
    val (out, _) = kmeansIterate(spark, dir, maxRounds = 30)
    kmeansMeanUpdate(e, out.select(col("vec_id"), col("cluster_id").as("cid")))
  }

  /** Shared oracle CTE chain — the SQL twin of [[ivfCandidates]]
    * (cent → sims → assign → probes → cands over CTE `e`): interpolated
    * into every IVF-pruned oracle so the pruning semantics (argmax cell,
    * NProbe, tie order) can never diverge between them, mirroring the
    * shared Scala helper.
    */
  private def ivfCandsCtesSql: String =
    s"""cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), sims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), assign AS (
       |  SELECT vec_id, cid FROM sims WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM sims WHERE crk <= $NProbe AND vec_id % $QueryMod = 0
       |), cands AS (
       |  SELECT query_id, a.vec_id FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE a.vec_id <> query_id
       |)""".stripMargin

  def knnIvfSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, scored AS (
       |  SELECT query_id, c.vec_id,
       |         list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = c.vec_id
       |)
       |SELECT query_id, vec_id, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM scored QUALIFY rk <= $TopK
       |""".stripMargin

  /** Sign-LSH near-duplicate pairs, multi-band: LshBands independent
    * signatures of LshBitsPerBand sign-comparison bits each; every vector
    * lands in one bucket *per band*, pairs sharing ANY band bucket become
    * candidates (deduped), and only candidates are cosine-scored.
    *
    * Scale math: with B bits per band, a band splits N vectors into ~2^B
    * buckets, so the in-bucket self-join is O(bands * N²/2^B). The fixture
    * uses 12 bits (4096 buckets — average occupancy <1 at sf0.1's 2k
    * vectors, so the candidate set is non-trivial but bounded); at 1 B
    * vectors set LshBitsPerBand ≈ 28-32 so per-band buckets hold ~1-4
    * vectors (1 B / 2^30 ≈ 1) and the join stays linear — recall is kept
    * by the band count, not bucket width, exactly like the text MinHash
    * banding ([[TextPipeline.minhashPairs]]). The single-8-bit-signature
    * variant this replaces had 256 buckets total: O(N²/256) at any scale.
    *
    * Bit (b, j) compares coordinates (i1, i2) with i1 = b*bits+j and
    * i2 = (37*i1 + 11) mod 64 — a fixed mixing that never degenerates to
    * i1 = i2 (37*i1 + 11 ≢ i1 mod 64: 36*i1 is even, +11 makes it odd).
    * (With real near-dup data the cosine threshold would be ~0.95; the
    * fixture's vectors are random, so 0.15 keeps output non-trivial while
    * exercising the identical topology.)
    */
  private val LshBands = 4
  private val LshBitsPerBand = 12
  private def coordPairs(nBands: Int, bitsPerBand: Int): Seq[(Int, Seq[(Int, Int, Int)])] =
    (0 until nBands).map { b =>
      b -> (0 until bitsPerBand).map { j =>
        val i1 = b * bitsPerBand + j
        (1 << j, i1, (37 * i1 + 11) % 64)
      }
    }
  private def lshCoordPairs: Seq[(Int, Seq[(Int, Int, Int)])] =
    coordPairs(LshBands, LshBitsPerBand)

  /** Dup-regime band-key WIDTH as a function of corpus size — the class
    * doc's "at 1 B vectors set LshBitsPerBand ≈ 28-32" rule made CODE,
    * after the r15 sf100 decade probe caught the fixed 12-bit width as a
    * quadratic (bucket pair mass, BASELINE.md §Round-15: TWO scale bugs
    * found and fixed by the sf100 table): 4 × 4096 bucket keys
    * SATURATE at ~10⁵ vectors, after which bucket size grows ∝ N and the
    * candidate pair mass ∝ N² — measured 27.2M pairs at sf10 → 2.73G at
    * sf100 (100× for 10× corpus), whose ~55 GB candidate shuffle
    * exhausted the 60 GB scratch volume. Width = ⌈log₂(N/32)⌉ keeps
    * expected occupancy ~32 at every scale; the 12-bit FLOOR binds at
    * every oracle'd scale (sf1 = 21k vectors → ⌈log₂(656)⌉ = 10 < 12),
    * so gate outputs and the static 12-bit oracle SQL are untouched —
    * the same floor idiom as [[RfCentroidMod]]'s width-scaled stride.
    */
  private def dupLshBits(n: Long): Int = {
    val target = math.max(2L, n / 32)
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(target - 1)
    math.max(LshBitsPerBand, math.min(30, ceilLog2.toInt))
  }

  /** Comparator table at `bits` per band: the first [[LshBitsPerBand]]
    * bits of each band are EXACTLY [[lshCoordPairs]]' (floor-regime
    * outputs bit-identical); extra bits use the [[rangeLshPairs]]-style
    * stride mixing, which never degenerates to i₂ = i₁. */
  private def dupCoordPairs(bits: Int): Seq[(Int, Seq[(Int, Int, Int)])] =
    if (bits == LshBitsPerBand) lshCoordPairs
    else (0 until LshBands).map { b =>
      b -> (0 until bits).map { j =>
        if (j < LshBitsPerBand) {
          val i1 = b * LshBitsPerBand + j
          (1 << j, i1, (37 * i1 + 11) % 64)
        } else {
          val t = b * bits + j
          val i1 = (11 * t + 5) % 64
          (1 << j, i1, (i1 + 1 + (29 * t) % 63) % 64)
        }
      }
    }

  /** The per-band comparator coordinates as ONE literal: bands × bits ×
    * (weight, 1-based i1, 1-based i2). */
  private def coordsLit(pairs: Seq[(Int, Seq[(Int, Int, Int)])]): Column =
    typedlit(pairs.map(_._2.map { case (w, i1, i2) => (w, i1 + 1, i2 + 1) }))

  /** The sign-comparison key of one band of `emb`: each of its `bits`
    * (w, i1, i2) adds w iff emb[i1] > emb[i2]. A HOF fold, so the generated
    * code does not grow with bands × bits (an unrolled CASE WHEN per bit
    * overflows Janino's 64 KB method limit). */
  private def bandKey(bits: Column): Column =
    aggregate(bits, lit(0), (a, p) =>
      a + when(element_at(col("emb"), p("_2")) > element_at(col("emb"), p("_3")), p("_1")).otherwise(0))

  /** [[bandKey]] of every band, in band order. */
  private def bandKeys(pairs: Seq[(Int, Seq[(Int, Int, Int)])]): Column =
    transform(coordsLit(pairs), bandKey(_))

  /** DuckDB UNION ALL band-select block over CTE `e(vec_id, emb)`. */
  private def bandSelectsSql(pairs: Seq[(Int, Seq[(Int, Int, Int)])]): String =
    pairs.map { case (b, bits) =>
      val sum = bits.map { case (w, i1, i2) =>
        s"CASE WHEN emb[${i1 + 1}] > emb[${i2 + 1}] THEN $w ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, $sum AS bkey FROM e"
    }.mkString("\n  UNION ALL\n  ")

  def lshDupPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // corpus-sized key width ([[dupLshBits]]): the 12-bit floor binds at
    // every oracle'd scale, so the static 12-bit oracle stays exact
    val n2 = Tables.tableRows(spark, dir, "embeddings")
    val bands = dupLshBands(e, n2)
    val x = bands.as("x"); val y = bands.as("y")
    val cands = x.join(y,
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // size-aware fetch sides ([[Sizing.fetch]]): a pair row must never
    // carry embedding payload through a SORT, and the broadcast arm must
    // not be unconditional
    val ea = Sizing.fetch(e.select(col("vec_id").as("vec_a"), col("emb").as("qemb")), n2)
    val eb = Sizing.fetch(e.select(col("vec_id").as("vec_b"), col("emb").as("cemb")), n2)
    cands.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos", cosine(col("qemb"), col("cemb")))
      .filter(col("cos") >= 0.15)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos6"))
  }

  def lshDupPairsSql: String = {
    val bandSelects = bandSelectsSql(lshCoordPairs)
    s"""WITH e AS (
       |  $VecsCteSql
       |), bands AS (
       |  $bandSelects
       |), cands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
       |)
       |SELECT vec_a, vec_b, ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos6
       |FROM cands JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
       |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.15
       |""".stripMargin
  }

  /** Embedding-cosine near-duplicate DEDUP: the full near-dup pipeline the
    * pair query above feeds — LSH band candidates, exact-cosine verify at
    * the threshold, then a canonical-representative pick.
    *
    * Canonicalization is the same 1-HOP min-id assignment as the text
    * pipeline's [[TextPipeline.dupClusters]]: a vector's canon_id is the
    * smallest id among itself and its DIRECT verified near-duplicates
    * (is_canonical=1 ⟺ "no verified near-dup with a smaller id"). On a
    * duplicate CHAIN a→b→c where (a,c) itself is not verified, c's
    * canon_id is b, which is itself non-canonical — transitive-closure
    * semantics (every canon_id canonical) would need the same pass
    * iterated to a fixed point (O(log chain-length) rounds), which real
    * near-dup thresholds (~0.95) rarely require. Because verified pairs
    * are oriented (vec_a < vec_b), only the min over a vector's *smaller*
    * partners matters — one hash aggregation plus a broadcast-able left
    * join against the (small) partner-min table; no iteration, no window
    * over the full vector set.
    *
    * Scale: candidates are band-bucket bounded exactly like
    * [[lshDupPairs]]; the verify join touches candidates only; the final
    * join is |vectors| ⋈ |vectors-with-a-smaller-dup| (small) — linear
    * end to end.
    */
  private val DedupTau = 0.15
  /** (vec_a < vec_b) pairs whose cosine clears DedupTau — the verified
    * dup-pair EDGE LIST both dedup flavors cluster over.
    */
  /** The dup-regime sign-LSH (band, bkey) posting rows at the
    * corpus-sized key width, shared by both dedup flavors. `n` is the raw
    * corpus row count (parquet metadata — callers pass
    * `Tables.embeddings(spark, dir).count()`). */
  private[graft] def dupLshBands(e: DataFrame, n: Long): DataFrame =
    e.select(col("vec_id"),
      posexplode(bandKeys(dupCoordPairs(dupLshBits(n))))
        .as(Seq("band", "bkey")))

  /** A candidate (query_id, vec_id) pair row: two longs. */
  private val PairRowBytes = 16L

  private[graft] def verifiedDupPairs(e: DataFrame, n: Long): DataFrame = {
    val bands = dupLshBands(e, n)
    val x = bands.as("x"); val y = bands.as("y")
    val cands = x.join(y,
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    // embedding fetch sides: size-aware strategy ([[Sizing.fetch]]) — the
    // corpus outgrows autoBroadcast one decade past the gate, and an
    // unconditional broadcast hint would hit the 8 GB ceiling two
    // decades further; pair rows still never carry vectors.
    val ea = Sizing.fetch(e.select(col("vec_id").as("vec_a"), col("emb").as("qemb")), n)
    val eb = Sizing.fetch(e.select(col("vec_id").as("vec_b"), col("emb").as("cemb")), n)
    cands.join(ea, "vec_a").join(eb, "vec_b")
      .filter(cosine(col("qemb"), col("cemb")) >= DedupTau)
      .select(col("vec_a"), col("vec_b"))
  }

  def cosineDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n = Tables.tableRows(spark, dir, "embeddings")
    // min smaller-partner per vector; partners are oriented a < b so the
    // min over vec_a is always < vec_b — coalesce(minA, own id) = 1-hop min
    val partnerMin = verifiedDupPairs(e, n).groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("min_dup"))
    e.select(col("vec_id"))
      .join(broadcast(partnerMin), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("min_dup"), col("vec_id")).as("canon_id"))
      .withColumn("is_canonical", (col("vec_id") === col("canon_id")).cast("int"))
  }

  /** Connected-components embedding dedup: the fixed point of
    * [[cosineDedup]]'s min-partner pass over the verified pair graph, so
    * chained near-dups a→b→c all canonicalize onto a (the 1-hop pass
    * leaves c on b). Reuses [[TextPipeline.ccIterate]] — each verified
    * pair becomes its own two-member "bucket" ((band, bkey) = (vec_a,
    * vec_b), exact, no hashing), and the same shuffle-linear
    * label-propagation rounds run to convergence. Oracle: DuckDB
    * recursive CTE over the symmetric verified edges.
    */
  def cosineDedupCC(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n = Tables.tableRows(spark, dir, "embeddings")
    val pairs = verifiedDupPairs(e, n).localCheckpoint(true)
    val buckets = pairs
      .select(col("vec_a").as("doc_id"), col("vec_a").as("band"), col("vec_b").as("bkey"))
      .unionByName(pairs
        .select(col("vec_b").as("doc_id"), col("vec_a").as("band"), col("vec_b").as("bkey")))
    val (labels, _) = TextPipeline.ccIterate(buckets)
    e.select(col("vec_id"))
      .join(broadcast(labels.select(col("doc_id").as("vec_id"), col("cluster_id"))),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cluster_id"), col("vec_id")).as("canon_id"))
      .withColumn("is_canonical", (col("vec_id") === col("canon_id")).cast("int"))
  }

  def cosineDedupSql: String = {
    val bandSelects = bandSelectsSql(lshCoordPairs)
    s"""WITH e AS (
       |  $VecsCteSql
       |), bands AS (
       |  $bandSelects
       |), cands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
       |), verified AS (
       |  SELECT vec_a, vec_b FROM cands JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
       |  WHERE list_cosine_similarity(a.emb, b.emb) >= $DedupTau
       |), pm AS (
       |  SELECT vec_b AS vec_id, MIN(vec_a) AS min_dup FROM verified GROUP BY vec_b
       |)
       |SELECT e.vec_id, COALESCE(min_dup, e.vec_id) AS canon_id,
       |       CAST(e.vec_id = COALESCE(min_dup, e.vec_id) AS INT) AS is_canonical
       |FROM e LEFT JOIN pm ON e.vec_id = pm.vec_id
       |""".stripMargin
  }

  /** Oracle rounds for the CC label fixpoint: hash-to-min with pointer
    * doubling converges in O(log n) rounds, so 24 covers components up to
    * ~2^20 nodes with margin; a final stability probe POISONS the result
    * (canon_id = −1 everywhere → loud hash mismatch) if the unroll was
    * ever too short, so wrong-but-plausible labels are impossible. */
  private val CcOracleRounds = 24

  /** The pre-r13 formulation was a transitive-closure recursive CTE
    * (`reach` = every (node, reachable) pair) — O(Σ component²) rows,
    * fine while near-dup components were small cliques, but the r13
    * geometry-preserving ScaleUp chains whole label clusters into ONE
    * ~20k-node component at sf1 (122,848 verified edges, measured) and
    * the closure is 400 M rows — the 900 s sweep timeout. This unroll is
    * the SAME algorithm the Spark side runs ([[TextPipeline.ccIterate]]'s
    * min-label pointer doubling), so oracle cost is rounds × |E| instead
    * of Σ|C|²; both engines converge to the identical fixpoint (label =
    * component-min), which is all the compare needs.
    */
  def cosineDedupCCSql: String = {
    val bandSelects = bandSelectsSql(lshCoordPairs)
    val rounds = (0 until CcOracleRounds).map { k =>
      s"""l${k + 1} AS MATERIALIZED (
         |  SELECT v.vec_id,
         |         LEAST(v.lbl, COALESCE(nm.m, v.lbl), COALESCE(p.lbl, v.lbl)) AS lbl
         |  FROM l$k v
         |  LEFT JOIN (SELECT ed.src AS vec_id, MIN(l.lbl) AS m
         |             FROM edges ed JOIN l$k l ON l.vec_id = ed.dst
         |             GROUP BY ed.src) nm ON nm.vec_id = v.vec_id
         |  LEFT JOIN l$k p ON p.vec_id = v.lbl
         |)""".stripMargin
    }.mkString(",\n")
    val R = CcOracleRounds
    s"""WITH e AS MATERIALIZED (
       |  $VecsCteSql
       |), bands AS (
       |  $bandSelects
       |), cands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
       |), verified AS (
       |  SELECT vec_a, vec_b FROM cands JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
       |  WHERE list_cosine_similarity(a.emb, b.emb) >= $DedupTau
       |), edges AS MATERIALIZED (
       |  SELECT vec_a AS src, vec_b AS dst FROM verified
       |  UNION
       |  SELECT vec_b AS src, vec_a AS dst FROM verified
       |), l0 AS MATERIALIZED (
       |  SELECT vec_id, vec_id AS lbl FROM e
       |),
       |$rounds,
       |conv AS (
       |  SELECT COUNT(*) AS changed FROM l$R v
       |  JOIN (SELECT ed.src AS vec_id, MIN(l.lbl) AS m
       |        FROM edges ed JOIN l$R l ON l.vec_id = ed.dst
       |        GROUP BY ed.src) nm
       |    ON nm.vec_id = v.vec_id AND nm.m < v.lbl
       |)
       |SELECT vec_id,
       |       CASE WHEN (SELECT changed FROM conv) = 0 THEN lbl ELSE -1 END AS canon_id,
       |       CAST(vec_id = (CASE WHEN (SELECT changed FROM conv) = 0 THEN lbl ELSE -1 END) AS INT) AS is_canonical
       |FROM l$R
       |""".stripMargin
  }

  /** LSH-bucketed ANN top-k — the bucketed scale path next to [[knnIvf]]:
    * a query's candidate set is every vector sharing at least one band
    * bucket with it; only candidates are cosine-scored and ranked.
    *
    * Bucket geometry differs from the dup-pair path on purpose: KNN wants
    * RECALL (a top-k result must be *in* some shared bucket), so buckets
    * are wider — KnnLshBits=6 bits → 64 buckets per band, ~N/64 vectors
    * per bucket — while dup detection wants PRECISION and uses 12 bits.
    * At 1 B vectors the same dial applies: bits ≈ log2(N/B) for target
    * bucket size B, bands set the recall. Candidate generation is the
    * banded bucket join (linear, skew-free by construction); scoring
    * touches |candidates| ≈ bands × N/2^bits per query, not N.
    *
    * A query with fewer than TopK reachable candidates returns fewer rows
    * — that's the honest ANN semantics (recall < 1), and the oracle
    * agrees row-for-row.
    */
  private val KnnLshBands = 4
  private val KnnLshBits = 6
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coordPairs(KnnLshBands, KnnLshBits)
    val e = vecs(spark, dir)
    val bands = e.select(col("vec_id"),
      posexplode(bandKeys(pairs)).as(Seq("band", "bkey")))
    val qbands = bands.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
    val cands = broadcast(qbands).join(bands, Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val c = e.select(col("vec_id"), col("emb").as("cemb"))
    val scored = cands.join(c, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
    saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  def knnLshSql: String = {
    val bandSelects = bandSelectsSql(coordPairs(KnnLshBands, KnnLshBits))
    s"""WITH e AS (
       |  $VecsCteSql
       |), bands AS (
       |  $bandSelects
       |), cands AS (
       |  SELECT DISTINCT q.vec_id AS query_id, v.vec_id
       |  FROM bands q JOIN bands v ON q.band = v.band AND q.bkey = v.bkey
       |  WHERE q.vec_id % $QueryMod = 0 AND v.vec_id <> q.vec_id
       |), scored AS (
       |  SELECT query_id, c.vec_id, list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = c.vec_id
       |)
       |SELECT query_id, vec_id, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM scored QUALIFY rk <= $TopK
       |""".stripMargin
  }

  /** Inner-product top-k per query vector — the second standard ANN
    * metric besides cosine. Deliberately written as the DOCUMENTED Spark
    * idiom `aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) ->
    * acc + v)`: the [[graft.spark.RewriteDotProduct]] optimizer rule
    * rewrites it to the fused native [[graft.spark.DotProduct]] loop, so
    * this query oracle-gates BOTH the rewrite's semantics preservation
    * and the native kernel's arithmetic (sequential index-order fold —
    * bit-identical to DuckDB's list_inner_product). Top-k is the same
    * salted two-phase rank as [[knnBrute]].
    */
  def dotTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val c = e.select(col("vec_id"), col("emb").as("cemb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ip",
        expr("aggregate(zip_with(qemb, cemb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"))
      .select(col("query_id"), col("vec_id"), col("ip"))
    saltedTopK(scored, col("ip").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), round(col("ip"), 6).as("ip6"), col("rk"))
  }

  def dotTopkSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |), s AS (
       |  SELECT query_id, vec_id, list_inner_product(qemb, emb) AS ip
       |  FROM q, e WHERE vec_id <> query_id
       |)
       |SELECT query_id, vec_id, ROUND(ip, 6) AS ip6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ip DESC NULLS LAST, vec_id ASC) AS rk
       |FROM s QUALIFY rk <= $TopK
       |""".stripMargin

  /** Symmetric int8 vector quantization (the 4× storage/bandwidth cut an
    * embedding store takes before ANN serving): per-vector scale =
    * max(|x_i|), q_i = round(x_i / scale × 127). Pure map work — no
    * shuffle, no UDF, one codegen'd projection. The output is the
    * quantization AUDIT (scale + q-space summary per vector: sum, min,
    * max, saturation count) rather than the int8 array itself — array
    * columns don't cross the driver's hash compare, and the summary pins
    * down every quantized value arithmetically.
    *
    * Cross-engine exactness: x / scale * 127 evaluates left-to-right in
    * both engines on identical doubles; ROUND(double) to an integer is
    * half-away-from-zero in BOTH Spark and DuckDB (the banned pattern is
    * ROUND(x, n) with n > 0, whose scaling differs).
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .withColumn("scale", expr("array_max(transform(emb, x -> abs(x)))"))
      .withColumn("q", expr("transform(emb, x -> cast(round(x / scale * 127) as bigint))"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(q, 0L, (a, v) -> a + v)").as("q_sum"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"),
        expr("cast(size(filter(q, v -> abs(v) = 127)) as bigint)").as("n_saturated"))

  def quantizeInt8Sql: String =
    s"""WITH e AS (
      |  $VecsCteSql
      |), s AS (
      |  SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS scale FROM e
      |), q AS (
      |  SELECT vec_id, scale,
      |         list_transform(emb, x -> CAST(ROUND(x / scale * 127) AS BIGINT)) AS qv
      |  FROM s
      |)
      |SELECT vec_id, scale,
      |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
      |       list_min(qv) AS q_min,
      |       list_max(qv) AS q_max,
      |       CAST(LEN(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_saturated
      |FROM q
      |""".stripMargin

  /** Product-quantization ANN (IVF's companion memory-compression path):
    * the 64-dim space splits into PqM subspaces of PqSubDim dims; each
    * subspace gets a deterministic codebook (the sub-vectors of the
    * CentroidMod pivot rows — same pivot rule as [[knnIvf]]'s centroids,
    * k-means-free so the oracle is exact); every vector is encoded as its
    * per-subspace nearest codeword and RECONSTRUCTED from the codebook;
    * queries rank candidates by exact L2² against the reconstruction —
    * asymmetric distance computation (ADC) in its reconstruction form.
    *
    * Scale: the codebook is ~sqrt(N) × PqM tiny arrays — broadcast; both
    * the encode pass (N × PqM × K sub-distances against the broadcast
    * codebook) and the scoring pass are shuffle-free narrow maps; encode
    * argmin is a min_by hash-style aggregate with map-side partials (the
    * same shape as knnIvf's assignment — never a row_number sort-window).
    * Storage story at 1 B vectors: PqM bytes/vector instead of 256
    * (64 × f32) — the 32× cut that makes in-memory ANN serving fit.
    *
    * Cross-engine exactness: every distance is the fixed composition
    * ((a·a - 2·a·b) + b·b) over identical doubles — the three dots are
    * sequential index-order folds (native dot_product ≡ DuckDB
    * list_inner_product) and the outer arithmetic is ordered by parens,
    * so both engines produce bit-identical doubles. Reconstruction order
    * is pinned by sorting the collected (subspace, codeword) structs.
    */
  private val PqM = 8
  private val PqSubDim = 8
  private def dp(a: Column, b: Column): Column =
    call_function("dot_product", a, b)
  /** L2² from precomputed self-dots: the parenthesization is load-bearing
    * (the DuckDB oracle spells the same ((xsq - 2·a·b) + ysq) composition,
    * which keeps the doubles bit-identical) — one spelling, two call sites.
    */
  private def l2sqPre(xsq: Column, a: Column, b: Column, ysq: Column): Column =
    (xsq - lit(2.0) * dp(a, b)) + ysq

  /** PQ encode + reconstruct: (vec_id, remb) where `remb` is the vector
    * rebuilt from its per-subspace nearest codewords — the decoded form a
    * PQ index serves from. Exposed separately from [[knnPq]] so the
    * reconstruction-identity property (a pivot row reconstructs to
    * itself exactly) is directly testable.
    */
  /** (vec_id, j, sub, ssq): each vector split into its PqM sub-vectors,
    * with the self dot-product hoisted OUT of the K-way encode join: d2
    * rows in the N × PqM × K encode stage then pay one 8-dim dot instead
    * of three (the composition ((ssq - 2·s·c) + csq) is unchanged, so the
    * values — and the oracle — are bit-identical).
    */
  private def pqSubs(e: DataFrame): DataFrame = {
    val subStructs = (0 until PqM).map(j =>
      struct(lit(j).as("j"), slice(col("emb"), j * PqSubDim + 1, PqSubDim).as("sub")))
    e.select(col("vec_id"), explode(array(subStructs: _*)).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.sub").as("sub"))
      .withColumn("ssq", dp(col("sub"), col("sub")))
  }

  /** (code, j, cwv, csq): the deterministic per-subspace codebook — the
    * sub-vectors of the CentroidMod pivot rows.
    */
  private[graft] def pqCodewords(subs: DataFrame): DataFrame =
    subs.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("code"), col("j"), col("sub").as("cwv"),
              col("ssq").as("csq"))

  /** (vec_id, j, code): per (vector, subspace) argmin codeword — min over
    * (d2, code) so ties break to the lowest code id, matching the oracle's
    * row_number.
    */
  private def pqEncode(subs: DataFrame, cw: DataFrame): DataFrame =
    subs.join(broadcast(cw), "j")
      .withColumn("d2", l2sqPre(col("ssq"), col("sub"), col("cwv"), col("csq")))
      .groupBy(col("vec_id"), col("j"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))

  def pqReconstruct(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val subs = pqSubs(e)
    pqReconstructWith(subs, pqCodewords(subs))
  }

  /** Reconstruction against an arbitrary codebook (pivot or trained):
    * encode, then codewords back in subspace order, flattened to 64 dims. */
  private[graft] def pqReconstructWith(subs: DataFrame, cw: DataFrame): DataFrame = {
    val assign = pqEncode(subs, cw)
    assign.join(broadcast(cw), Seq("j", "code"))
      .groupBy(col("vec_id"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(j, cwv))), s -> s.cwv))").as("remb"))
  }

  /** (vec_id, j, sub, ssq) sub-vector view for an sf dir — the shared
    * input of the PQ helpers, exposed for the training spec. */
  private[graft] def pqSubsOf(spark: SparkSession, dir: String): DataFrame =
    pqSubs(vecs(spark, dir))

  /** Per-subspace PQ codebook TRAINING — the production path next to the
    * deterministic pivot codebooks the cross-engine oracles pin
    * ([[pqCodewords]]): Lloyd's over each subspace's 8-dim sub-vectors,
    * initialized from the pivot codewords, run to assignment-fixed-point
    * convergence exactly like [[kmeansIterate]].
    *
    * All PqM subspaces train in ONE loop: the cluster key is (j, code),
    * so each round is a single broadcast-join assignment pass
    * ([[pqEncode]] — the same argmin the encoder uses) plus one
    * (j, code, dim) hash aggregate with the [[KmeansQ]] exact-integer
    * mean — one Spark job per round regardless of M, not M loops.
    * A codeword that loses all members is dropped (standard Lloyd's
    * empty-cluster handling; K can only shrink, never invent codes).
    * Convergence is the order-free assignment-change count == 0;
    * `maxRounds` is a loud-failure guard.
    *
    * Returns (code, j, cwv, csq) in the exact shape [[pqEncode]] /
    * [[pqReconstructWith]] consume, so trained codebooks drop into the
    * serving path unchanged. Engine-deterministic thanks to the
    * quantized-sum means — PqTrainingSpec pins distortion and recall
    * against the pivot baseline.
    */
  def trainPqCodebooks(spark: SparkSession, dir: String,
                       maxRounds: Int = 40): DataFrame =
    trainPqCodebooksOn(pqSubsOf(spark, dir), maxRounds)

  /** Training over a caller-supplied sub-vector view — lets the OPQ
    * measurement train in the PERMUTED space (permute → train, the full
    * OPQ-P pipeline) with the identical Lloyd's loop. */
  private[graft] def trainPqCodebooksOn(rawSubs: DataFrame,
                                        maxRounds: Int = 40): DataFrame = {
    require(maxRounds >= 1)
    val subs = rawSubs.localCheckpoint(true)
    var cw = pqCodewords(subs).localCheckpoint(true)
    var assign = pqEncode(subs, cw).localCheckpoint(true)
    var changed = -1L
    var r = 0
    while (changed != 0 && r < maxRounds) {
      r += 1
      val means = assign.join(subs, Seq("vec_id", "j"))
        .select(col("j"), col("code"), posexplode(col("sub")).as(Seq("dim", "x")))
        .groupBy(col("j"), col("code"), col("dim"))
        .agg(expr(s"SUM(CAST(ROUND(x * $KmeansQ) AS BIGINT))").as("qsum"),
             count(lit(1)).as("n"))
        .withColumn("coord", expr(s"CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / $KmeansQ"))
        .groupBy(col("j"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, coord))), s -> s.coord)").as("cwv"))
      val nextCw = means
        .select(col("code"), col("j"), col("cwv"), dp(col("cwv"), col("cwv")).as("csq"))
        .localCheckpoint(true)
      val next = pqEncode(subs, nextCw).localCheckpoint(true)
      changed = next
        .join(assign.select(col("vec_id"), col("j"), col("code").as("pcode")), Seq("vec_id", "j"))
        .filter(col("code") =!= col("pcode")).count()
      assign = next
      cw = nextCw
    }
    if (changed != 0) throw new IllegalStateException(
      s"PQ codebook training did not converge in $maxRounds rounds (last round moved $changed assignments)")
    cw
  }

  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // same hoist in the N × Q scoring stage: query/recon self-dots are
    // computed once per row of their own side, not once per pair
    val recon = pqReconstruct(spark, dir)
      .withColumn("rsq", dp(col("remb"), col("remb")))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .withColumn("qsq", dp(col("qemb"), col("qemb")))
    val scored = recon.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("d2", l2sqPre(col("qsq"), col("qemb"), col("remb"), col("rsq")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc_nulls_last, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"), round(col("d2"), 6).as("pqd6"), col("rk"))
  }

  /** Shared oracle CTE chain — the SQL twin of [[pqSubs]]/[[pqCodewords]]/
    * [[pqEncode]] (subs → cw → enc over CTE `e`): one definition for every
    * PQ oracle, matching the shared Scala helpers.
    */
  private def pqEncodeCtesSql: String =
    s"""subs AS (
       |  SELECT vec_id, j, list_slice(emb, j * $PqSubDim + 1, j * $PqSubDim + $PqSubDim) AS sub
       |  FROM e, range(0, $PqM) t(j)
       |), cw AS (
       |  SELECT vec_id AS code, j, sub AS cwv FROM subs WHERE vec_id % $CentroidMod = 0
       |), enc AS (
       |  SELECT vec_id, j, code,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY
       |           ((list_inner_product(sub, sub) - 2.0 * list_inner_product(sub, cwv)) + list_inner_product(cwv, cwv)) ASC,
       |           code ASC) AS rn
       |  FROM subs JOIN cw USING (j)
       |)""".stripMargin

  def knnPqSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $pqEncodeCtesSql, recon AS (
       |  SELECT vec_id, flatten(list(cwv ORDER BY j)) AS remb
       |  FROM enc JOIN cw USING (j, code) WHERE rn = 1 GROUP BY vec_id
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |), s AS (
       |  SELECT query_id, r.vec_id,
       |         ((list_inner_product(qemb, qemb) - 2.0 * list_inner_product(qemb, remb)) + list_inner_product(remb, remb)) AS d2
       |  FROM q, recon r WHERE r.vec_id <> query_id
       |)
       |SELECT query_id, vec_id, ROUND(d2, 6) AS pqd6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, vec_id ASC) AS rk
       |FROM s QUALIFY rk <= $TopK
       |""".stripMargin

  /** Dimension-energy quantization for the OPQ permutation: exact-integer
    * per-dim energies so the ranking (and hence the permutation) is
    * bit-identical cross-engine. 10³ keeps Σ(q²) inside BIGINT through
    * sf10 (2 M vectors × (2·10³)² ≈ 10¹³). */
  private val OpqQ = 1000L

  /** `s_opq_permute`: OPQ-P-style rotated product quantization — the
    * PERMUTATION member of the OPQ family (Ge et al.: before training a
    * full orthogonal rotation, balance the subspaces by reallocating
    * DIMENSIONS). Contiguous 8-dim slices inherit whatever energy layout
    * the embedding model produced, so one subspace can carry most of the
    * variance and its K codewords quantize poorly while low-energy
    * subspaces waste theirs. The entry ranks dims by exact-integer corpus
    * energy, deals them round-robin into the [[PqM]] subspaces (slot =
    * rank div M — the sorted-deal balance), permutes every vector AND the
    * pivot codebook identically (OPQ semantics: the codebook lives in the
    * rotated space), and audits per subspace: allocated energy and exact
    * reconstruction-error mass for BOTH layouts. Every output column is
    * an exact BIGINT (energies via [[OpqQ]]-quantized sums, per-vector d2
    * quantized at 10⁶ then integer-summed), so the cross-engine compare
    * has no float-order exposure at all.
    *
    * Scale shape: the energy pass is ONE hash agg over (dim, x) pairs
    * (map-side combine does the reduction — 64 groups); the permutation
    * is a 64-element broadcast row; encode/reconstruct reuse the exact
    * [[pqSubs]]/[[pqEncode]] machinery (N × M × K broadcast-codebook map
    * work, no shuffle beyond the final 8-group agg). At 1 B vectors the
    * added cost over plain PQ is the one energy agg — the re-layout rides
    * the encode pass it was going to pay anyway.
    */
  /** (dimE, ranked, pe): exact-integer per-dim energies, the rank→slot
    * deal, and the permuted-layout embedding view — shared by
    * [[opqPermute]] and the OPQ gain probe (permute → train → encode). */
  private def opqLayout(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dims = PqM * PqSubDim
    val dimE = e.select(posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(expr(s"SUM(CAST(ROUND(x * $OpqQ) AS BIGINT) * CAST(ROUND(x * $OpqQ) AS BIGINT))")
        .as("energy_q"))
    val ranked = dimE
      .withColumn("rank", row_number().over(
        Window.orderBy(col("energy_q").desc, col("dim").asc)))
      .withColumn("j", expr(s"(rank - 1) % $PqM"))
      .withColumn("newpos", expr(s"((rank - 1) % $PqM) * $PqSubDim + (rank - 1) div $PqM"))
      .localCheckpoint(true)
    val perm = ranked.agg(
      expr("transform(array_sort(collect_list(struct(newpos, dim))), s -> s.dim)").as("pm"))
    val pe = e.crossJoin(broadcast(perm))
      .select(col("vec_id"),
        expr(s"transform(sequence(0, ${dims - 1}), i -> element_at(emb, element_at(pm, i + 1) + 1))")
          .as("emb"))
    (dimE, ranked, pe)
  }

  def opqPermute(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val (dimE, ranked, pe) = opqLayout(e)
    // per-subspace exact reconstruction-error mass for a layout
    def mseBySub(ev: DataFrame): DataFrame = {
      val subs = pqSubs(ev)
      val cw = pqCodewords(subs)
      pqEncode(subs, cw)
        .join(broadcast(cw), Seq("j", "code"))
        .join(subs.select(col("vec_id"), col("j"), col("sub"), col("ssq")), Seq("vec_id", "j"))
        .withColumn("d2", l2sqPre(col("ssq"), col("sub"), col("cwv"), col("csq")))
        .groupBy(col("j"))
        .agg(expr("SUM(CAST(ROUND(d2 * 1000000) AS BIGINT))").as("mse_q"))
    }
    val energyBase = dimE.withColumn("j", expr(s"dim div $PqSubDim"))
      .groupBy(col("j")).agg(sum(col("energy_q")).as("energy_base_q"))
    val energyPerm = ranked.groupBy(col("j")).agg(sum(col("energy_q")).as("energy_perm_q"))
    energyBase.join(energyPerm, "j")
      .join(mseBySub(e).withColumnRenamed("mse_q", "mseq_base"), "j")
      .join(mseBySub(pe).withColumnRenamed("mse_q", "mseq_perm"), "j")
      .select(col("j").cast("long").as("j"), col("energy_base_q"), col("energy_perm_q"),
        col("mseq_base"), col("mseq_perm"))
  }

  def opqPermuteSql: String = {
    val dims = PqM * PqSubDim
    // encode chain over a relation named e$sfx, keeping the chosen d2
    def mseCtes(sfx: String): String =
      s"""subs$sfx AS (
         |  SELECT vec_id, j, list_slice(emb, j * $PqSubDim + 1, j * $PqSubDim + $PqSubDim) AS sub
         |  FROM e$sfx, range(0, $PqM) t(j)
         |), cw$sfx AS (
         |  SELECT vec_id AS code, j, sub AS cwv FROM subs$sfx WHERE vec_id % $CentroidMod = 0
         |), enc$sfx AS (
         |  SELECT vec_id, j,
         |         ((list_inner_product(sub, sub) - 2.0 * list_inner_product(sub, cwv)) + list_inner_product(cwv, cwv)) AS d2,
         |         ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY
         |           ((list_inner_product(sub, sub) - 2.0 * list_inner_product(sub, cwv)) + list_inner_product(cwv, cwv)) ASC,
         |           code ASC) AS rn
         |  FROM subs$sfx JOIN cw$sfx USING (j)
         |), mse$sfx AS (
         |  SELECT j, CAST(SUM(CAST(ROUND(d2 * 1000000) AS BIGINT)) AS BIGINT) AS mse_q
         |  FROM enc$sfx WHERE rn = 1 GROUP BY j
         |)""".stripMargin
    s"""WITH eb AS MATERIALIZED (
       |  $VecsCteSql
       |), dime AS (
       |  SELECT dim,
       |         CAST(SUM(CAST(ROUND(emb[dim + 1] * $OpqQ) AS BIGINT) * CAST(ROUND(emb[dim + 1] * $OpqQ) AS BIGINT)) AS BIGINT) AS energy_q
       |  FROM eb, range(0, $dims) t(dim) GROUP BY dim
       |), ranked AS (
       |  SELECT dim, energy_q,
       |         ROW_NUMBER() OVER (ORDER BY energy_q DESC, dim ASC) AS rank
       |  FROM dime
       |), rmap AS (
       |  SELECT dim, energy_q, (rank - 1) % $PqM AS j,
       |         ((rank - 1) % $PqM) * $PqSubDim + (rank - 1) // $PqM AS newpos
       |  FROM ranked
       |), perm AS (
       |  SELECT list(dim ORDER BY newpos) AS pm FROM rmap
       |), ep AS MATERIALIZED (
       |  SELECT vec_id, list_transform(range(0, $dims), i -> emb[pm[i + 1] + 1]) AS emb
       |  FROM eb, perm
       |),
       |${mseCtes("b")},
       |${mseCtes("p")},
       |energyb AS (
       |  SELECT dim // $PqSubDim AS j, CAST(SUM(energy_q) AS BIGINT) AS energy_base_q
       |  FROM dime GROUP BY 1
       |), energyp AS (
       |  SELECT j, CAST(SUM(energy_q) AS BIGINT) AS energy_perm_q FROM rmap GROUP BY j
       |)
       |SELECT CAST(j AS BIGINT) AS j, energy_base_q, energy_perm_q,
       |       mseb.mse_q AS mseq_base, msep.mse_q AS mseq_perm
       |FROM energyb JOIN energyp USING (j)
       |JOIN mseb USING (j) JOIN msep USING (j)
       |""".stripMargin
  }

  /** IVFADC — the production serving composition of [[knnIvf]] (coarse
    * pruning) and [[knnPq]] (memory compression): candidates come ONLY
    * from the query's NProbe nearest coarse cells, and are scored by
    * asymmetric distance through a per-query LOOKUP TABLE — for each
    * (query, subspace) the distances to all K codewords are precomputed
    * once, so scoring a candidate is PqM table lookups + an ordered sum
    * instead of a 64-dim dot (the knnPq baseline scores brute-force
    * against full reconstructions; this is the indexed path).
    *
    * 1 B-vector cost model (K' coarse cells, K codewords, M = PqM):
    * per query ≈ K' coarse dots + M·K LUT sub-distances (a few thousand
    * flops) + NProbe · (N/K') · M lookups — with K' = 2¹⁶ and NProbe = 32
    * that is ~0.5 M candidate rows × 8 byte-indexed adds per query, vs
    * 1 B × 64-dim dots for brute force (≈ 4000× less arithmetic), while
    * the index stores M bytes per vector (32× smaller than f32). The
    * Spark shapes are the scale shapes: the codebook and LUT broadcast
    * (Q × M × K rows — queries are batched, the corpus is not), the
    * candidate join is the bucket join, and the fold is codegen'd.
    *
    * Cross-engine exactness: each per-subspace partial is the pinned
    * ((ssq − 2·s·c) + csq) composition; the PqM partials are summed in
    * subspace order by a sequential fold (array_sort by j, then
    * aggregate) whose DuckDB twin is list_reduce(list(pd ORDER BY j)) —
    * both produce ((p0+p1)+…)+p7 bit-identically (Spark's fold seeds
    * with 0.0; 0.0 + p0 ≡ p0 in IEEE for any non-negative-zero p0).
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val subs = pqSubs(e)
    val cw = pqCodewords(subs)
    val codes = pqEncode(subs, cw)
    val lut = subs.filter(col("vec_id") % QueryMod === 0)
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cw), "j")
      .withColumn("pd", l2sqPre(col("ssq"), col("sub"), col("cwv"), col("csq")))
      .select(col("query_id"), col("j"), col("code"), col("pd"))
    val scored = ivfCandidates(e)
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(collect_list(struct(col("j"), col("pd"))).as("ps"))
      .withColumn("d2", expr("aggregate(array_sort(ps), 0D, (a, x) -> a + x.pd)"))
    saltedTopK(scored, col("d2").asc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), round(col("d2"), 6).as("pqd6"), col("rk"))
  }

  def knnIvfPqSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, $pqEncodeCtesSql, codes AS (
       |  SELECT vec_id, j, code FROM enc WHERE rn = 1
       |), lut AS (
       |  SELECT s.vec_id AS query_id, cw.j, cw.code,
       |         ((list_inner_product(s.sub, s.sub) - 2.0 * list_inner_product(s.sub, cw.cwv)) + list_inner_product(cw.cwv, cw.cwv)) AS pd
       |  FROM subs s JOIN cw ON s.j = cw.j WHERE s.vec_id % $QueryMod = 0
       |), d AS (
       |  SELECT c.query_id, c.vec_id,
       |         list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b) AS d2
       |  FROM cands c
       |  JOIN codes k ON k.vec_id = c.vec_id
       |  JOIN lut l ON l.query_id = c.query_id AND l.j = k.j AND l.code = k.code
       |  GROUP BY c.query_id, c.vec_id
       |)
       |SELECT query_id, vec_id, ROUND(d2, 6) AS pqd6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC NULLS LAST, vec_id ASC) AS rk
       |FROM d QUALIFY rk <= $TopK
       |""".stripMargin

  /** Deterministic Lloyd's k-means over the embedding table — the
    * clustering pass a training-data pipeline runs for semantic dedup
    * buckets, data-mixing strata, or IVF codebook training. Two fixed
    * assignment rounds (init centroids = the CentroidMod pivot rows, one
    * mean update between — production raises the round count; the oracle
    * unrolls the same two), emitting each vector's final cluster and
    * rounded distance.
    *
    * Cross-engine exactness: the mean update is the classic float-sum
    * order trap, so coordinates are quantized to integer units of 2⁻²⁰
    * and summed EXACTLY (order-free BIGINT sum, the Det.cents pattern),
    * then divided back in a pinned order — centroid arrays come out
    * bit-identical in both engines, and distances reuse the pinned
    * ((ssq − 2·a·b) + csq) composition. Assignment argmin is a min_by
    * hash aggregate (map-side partials, no sort-window), ties to the
    * lowest cid.
    *
    * Scale: centroids broadcast both rounds; assignment is a shuffle-free
    * narrow map over N×K; the mean update is one hash agg on (cid, dim)
    * — K × 64 cells, partial-aggregated map-side. Same shapes as knnIvf,
    * run R times.
    */
  private val KmeansAssignRounds = 2
  private val KmeansQ = "1048576.0" // 2^20 coordinate quantum, exact-sum means

  /** Vectors prepped for k-means rounds: self-dot precomputed, checkpointed
    * once (reused by every assignment round and mean update). */
  private def kmeansPrep(spark: SparkSession, dir: String): DataFrame =
    // r16 probe, REJECTED: hash-partitioning by vec_id before the
    // checkpoint (guide §2.4 one-exchange-shared-across-rounds) does NOT
    // survive localCheckpoint — the LogicalRDD re-plans with
    // ENSURE_REQUIREMENTS exchanges on every vec_id-keyed consumer, so
    // the extra exchange bought nothing (A/B at sf0.1: s_kmeans_conv
    // 8.33 → 8.03 s, inside noise; plan inspected).
    // r17 probe, also REJECTED: a rows-aware BLOCK fan-out before the
    // checkpoint (the layout survives even though partitioning metadata
    // does not). A/B at sf0.1 was flat-to-negative inside the ±20% noise
    // band (s_kmeans_conv 8.7 fan-out vs 9.6/8.1 identity) — the
    // per-round kernels are already sub-0.1 s single-task, so extra
    // blocks only add per-stage task overhead. Kept as-is.
    vecs(spark, dir).select(col("vec_id"), col("emb"))
      .withColumn("ssq", dp(col("emb"), col("emb")))
      .localCheckpoint(true)

  // r17 probe, REJECTED: assignment as a narrow broadcast-argmin map
  // (centroids collect_list'ed into one array row, per-vector argmin via
  // an aggregate(transform(...)) fold — guide §2.4, removes the N×K
  // exchange+hash-agg per round). Measured at sf0.1: s_kmeans_conv
  // 7.1 → 9.3-10.2 s — the HOFs are CodegenFallback, so the K dot
  // products per vector run interpreted at 3-5× the CPU of this codegen'd
  // crossjoin+min_by, and the collect_list broadcast build costs the same
  // job the removed exchange did. Kept as the codegen shape.
  private def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.withColumn("csq", dp(col("cemb"), col("cemb")))
    e.crossJoin(broadcast(c))
      .withColumn("d2", l2sqPre(col("ssq"), col("emb"), col("cemb"), col("csq")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("d2")), struct(col("d2"), col("cid"))).as("a"))
      .select(col("vec_id"), col("a.cid").as("cid"), col("a.d2").as("d2"))
  }

  private def kmeansMeanUpdate(e: DataFrame, assign: DataFrame): DataFrame =
    assign.join(e, "vec_id")
      .select(col("cid"), posexplode(col("emb")).as(Seq("dim", "x")))
      // r17 probe, REJECTED: pre-partitioning by cid would let both aggs
      // share one exchange (hash(cid) satisfies both clusterings), but it
      // would also move the exchange BELOW the partial aggregation — N×dim
      // exploded rows through the shuffle instead of K×dim map-side
      // partials (guide §2.3 "aggregate before you shuffle" outweighs the
      // saved exchange: the second exchange carries only K×dim rows).
      .groupBy(col("cid"), col("dim"))
      .agg(expr(s"SUM(CAST(ROUND(x * $KmeansQ) AS BIGINT))").as("qsum"),
           count(lit(1)).as("n"))
      .withColumn("coord", expr(s"CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / $KmeansQ"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, coord))), s -> s.coord)").as("cemb"))

  private def kmeansInit(e: DataFrame): DataFrame =
    e.filter(col("vec_id") % CentroidMod === 0)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))

  def kmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = kmeansPrep(spark, dir)
    var assign = kmeansAssign(e, kmeansInit(e))
    for (_ <- 2 to KmeansAssignRounds) assign = kmeansAssign(e, kmeansMeanUpdate(e, assign))
    assign.select(col("vec_id"), col("cid").as("cluster_id"),
      round(col("d2"), 6).as("d6"))
  }

  /** Per-round convergence trace of [[kmeansConverged]]: how many points
    * changed cluster entering this round, and the round's quantized
    * inertia (exact order-free BIGINT sum of round(d2 × 2²⁰)). */
  private[graft] final case class KmeansRound(round: Int, changed: Long, inertiaQ: Long)

  /** Lloyd's to (near-)convergence — the production variant next to the
    * fixed-2-round cross-engine gate ([[kmeans]], oracle `s_kmeans`):
    * iterate assign → mean-update until the ccIterate-style scalar
    * convergence check fires — assignment-change count == 0, an order-free
    * exact test (quantized centroids are a pure function of the
    * assignment, so an unchanged assignment IS a fixed point: the next
    * round would recompute identical centroids, distances and argmins).
    * `maxRounds` is a loud-failure guard like MaxCcRounds, not a tuning
    * knob.
    *
    * Per round: one broadcast-crossjoin assignment pass, one (cid, dim)
    * hash-agg mean update, and ONE fused scalar action — the
    * change count and the quantized inertia come out of a single
    * next⋈prev aggregate (1:1 join on vec_id, so SUM over the join =
    * SUM over next), and because the per-round checkpoint is LAZY, that
    * same action is also what materializes the round's assignment
    * blocks. One driver round-trip per round instead of three — at 17
    * rounds the difference is measurable (s_kmeans_conv 10.2 → see
    * BASELINE.md), and at 1 B vectors each saved action is a full
    * cluster job launch. Quantized inertia is tracked for the trace;
    * Lloyd's decreases true inertia monotonically, but the QUANTIZED
    * mean is the exact minimizer only up to the 2⁻²⁰ coordinate
    * quantum, so per-round inertia may wobble by ≤ 1 quantum per point
    * (KmeansSpec asserts exactly that bound).
    */
  private[graft] def kmeansIterate(spark: SparkSession, dir: String,
                                     maxRounds: Int): (DataFrame, Seq[KmeansRound]) = {
    require(maxRounds >= 1)
    val e = kmeansPrep(spark, dir)
    val iqCol = expr(s"SUM(CAST(ROUND(d2 * $KmeansQ) AS BIGINT))")
    var assign = kmeansAssign(e, kmeansInit(e)).localCheckpoint(false)
    val first = assign.agg(count(lit(1)), iqCol).head
    val trace = scala.collection.mutable.ArrayBuffer(
      KmeansRound(1, first.getLong(0), first.getLong(1)))
    var r = 1
    var changed = trace.head.changed
    while (changed != 0 && r < maxRounds) {
      r += 1
      val next = kmeansAssign(e, kmeansMeanUpdate(e, assign)).localCheckpoint(false)
      val row = next.join(assign.select(col("vec_id"), col("cid").as("pcid")), "vec_id")
        .agg(sum((col("cid") =!= col("pcid")).cast("long")), iqCol).head
      changed = row.getLong(0)
      assign = next
      trace += KmeansRound(r, changed, row.getLong(1))
    }
    if (changed != 0) throw new IllegalStateException(
      s"k-means did not converge in $maxRounds rounds (last round moved $changed points)")
    (assign.select(col("vec_id"), col("cid").as("cluster_id"),
       round(col("d2"), 6).as("d6")), trace.toSeq)
  }

  /** [[kmeansIterate]] with the default round guard. 100 (was 30
    * through r12): the r13 geometry-preserving ScaleUp replaced the
    * clique fixture — whose replicas snapped to their parents in <= 17
    * rounds — with interpolant chords, real Lloyd's geometry with the
    * classic slow tail (probed: sf1 moves <= 20 points/round from round
    * ~50 and converges at 76 — a per-round trace on the interpolant
    * fixture of BASELINE.md §Round-13: geometry-preserving embedding
    * ScaleUp). Still a
    * loud-failure guard against cycling, not a tuning knob. */
  def kmeansConverged(spark: SparkSession, dir: String): DataFrame =
    kmeansIterate(spark, dir, maxRounds = 100)._1

  /** Unroll depth of the `s_kmeans_conv` oracle: the max converged round
    * count across the probed scale factors (8 / 7 / 17 at
    * sf0.001 / 0.01 / 0.1; 76 at the sf1 interpolant fixture, see
    * [[kmeansConverged]]). Rounds past convergence are EXACT no-ops —
    * an unchanged assignment reproduces identical quantized centroids,
    * distances and argmins — so one unroll depth serves every sf whose
    * convergence is at most this deep, and [[kmeansConvEntry]] fails
    * loudly if the fixture ever stops satisfying that.
    */
  private val KmeansConvUnroll = 76
  /** Probed converged round counts per sf (trace length incl. the initial
    * assignment round), asserted by the entry so a data or algorithm
    * drift can never silently pass on a stale unrolled oracle. */
  private val KmeansConvRounds =
    Map("0.001" -> 8, "0.01" -> 7, "0.1" -> 17, "1" -> 76)

  /** `s_kmeans_conv`: [[kmeansConverged]] with the converged round count
    * pinned against [[KmeansConvRounds]] (and the oracle's unroll depth). */
  def kmeansConvEntry(spark: SparkSession, dir: String): DataFrame = {
    val (out, trace) = kmeansIterate(spark, dir, maxRounds = 100)
    require(trace.size <= KmeansConvUnroll,
      s"converged in ${trace.size} rounds > oracle unroll $KmeansConvUnroll — re-probe and bump")
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1)).foreach { sf =>
      KmeansConvRounds.get(sf).foreach { want =>
        require(trace.size == want,
          s"sf$sf converged in ${trace.size} rounds, probe pinned $want — fixture or algorithm drifted")
      }
    }
    out
  }

  /** ANN index-health evaluation: recall@k of the IVF index against the
    * brute-force ground truth, per query — the metric a vector pipeline
    * recomputes after every reindex/retrain to decide whether nprobe or
    * ncells needs adjusting (recall silently decaying as the corpus
    * drifts is THE operational failure mode of IVF serving). Both sides
    * are this module's own oracle-gated top-k queries; the overlap is a
    * semi-join on (query, id) and every output quantity is an exact
    * integer (recall in basis points via integer division) — k rows per
    * query in, |queries| rows out, trivially cheap next to the searches
    * themselves.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = knnBrute(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val i = knnIvf(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val ni = i.groupBy(col("query_id")).agg(count(lit(1)).as("n_ivf"))
    val ov = b.join(i, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
    nb.join(ni, Seq("query_id"), "left").join(ov, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        coalesce(col("ov"), lit(0L)).as("n_overlap"))
      .withColumn("recall_bp", expr("n_overlap * 10000 div n_brute"))
  }

  def annRecallSql: String =
    s"""WITH b AS (
       |${knnBruteSql}
       |), i AS (
       |${knnIvfSql}
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), ni AS (
       |  SELECT query_id, COUNT(*) AS n_ivf FROM i GROUP BY query_id
       |), ov AS (
       |  SELECT b.query_id, COUNT(*) AS ov
       |  FROM b JOIN i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(ni.n_ivf, 0) AS n_ivf,
       |       COALESCE(ov.ov, 0) AS n_overlap,
       |       COALESCE(ov.ov, 0) * 10000 // nb.n_brute AS recall_bp
       |FROM nb LEFT JOIN ni ON nb.query_id = ni.query_id
       |        LEFT JOIN ov ON nb.query_id = ov.query_id
       |""".stripMargin

  /** Probe widths the tuning curve sweeps (1 .. this). */
  private val MaxProbeCurve = 5

  /** `s_probe_curve`: the IVF recall-vs-cost TUNING CURVE — macro
    * recall@[[TopK]] and total scanned candidates at every probe width
    * 1..[[MaxProbeCurve]], in ONE entry. `s_ann_recall` measures the
    * production point (NProbe = [[NProbe]]); this is the artifact a
    * serving team actually reads to PICK that point (the knee of the
    * curve), and the np = [[NProbe]] row is pinned equal to
    * `s_ann_recall`'s aggregate by ProbeCurveSpec so the two entries can
    * never drift.
    *
    * One-pass design: the per-query cell ranking is computed ONCE with
    * each candidate tagged by np_min = the probe rank of its cell (the
    * smallest width that scans it — probe sets NEST), every candidate is
    * cosine-scored ONCE, and the five width cuts are rank-filters over
    * the same checkpointed scored table. Cost is therefore ONE IVF build
    * + one widest-probe scoring pass, not five: at 1 B vectors the five
    * curve points share the single scan exactly like this.
    */
  def probeCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    def simsOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val assign = simsOf(e).groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val probes = simsOf(e.filter(col("vec_id") % QueryMod === 0))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, MaxProbeCurve).as("top"))
      .select(col("vec_id").as("query_id"), posexplode(col("top")).as(Seq("pos", "c")))
      .select(col("query_id"), col("c.cid").as("cid"), (col("pos") + 1).cast("long").as("np_min"))
    val scored = probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("np_min"), col("cos6"))
      .localCheckpoint(true)
    val brute = knnBrute(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val perNp = (1 to MaxProbeCurve).map { np =>
      val c = scored.filter(col("np_min") <= np)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos6").desc_nulls_last, col("vec_id").asc)
      val top = c.withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
        .select(col("query_id"), col("vec_id"))
      val hits = brute.join(top, Seq("query_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      val cands = c.agg(count(lit(1)).as("total_cands"))
      hits.crossJoin(cands)
        .select(lit(np.toLong).as("nprobe"), col("total_cands"), col("hits"))
    }.reduce(_ unionByName _)
    perNp.crossJoin(broadcast(brute.agg(count(lit(1)).as("n_truth"))))
      .withColumn("recall_bp", expr("hits * 10000 div n_truth"))
      .select(col("nprobe"), col("total_cands"), col("n_truth"), col("hits"), col("recall_bp"))
  }

  def probeCurveSql: String = {
    val npBlocks = (1 to MaxProbeCurve).map { np =>
      s"""t$np AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |                              ORDER BY cos6 DESC NULLS LAST, vec_id ASC) AS rk
         |    FROM pscored WHERE np_min <= $np
         |  ) WHERE rk <= $TopK
         |), r$np AS (
         |  SELECT CAST($np AS BIGINT) AS nprobe,
         |         (SELECT COUNT(*) FROM pscored WHERE np_min <= $np) AS total_cands,
         |         (SELECT COUNT(*) FROM pb) AS n_truth,
         |         (SELECT COUNT(*) FROM pb JOIN t$np t
         |            ON pb.query_id = t.query_id AND pb.vec_id = t.vec_id) AS hits
         |)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to MaxProbeCurve).map(np => s"SELECT * FROM r$np").mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  $VecsCteSql
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), sims AS (
       |  SELECT e.vec_id, cid,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), pscored AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id, p.crk AS np_min,
       |         ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) AS cos6
       |  FROM (SELECT vec_id AS query_id, cid, crk FROM sims
       |        WHERE vec_id % $QueryMod = 0 AND crk <= $MaxProbeCurve) p
       |  JOIN (SELECT vec_id, cid FROM sims WHERE crk = 1) a USING (cid)
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ce ON ce.vec_id = a.vec_id
       |  WHERE a.vec_id <> p.query_id
       |), pb AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |${knnBruteSql}
       |  )
       |),
       |$npBlocks
       |SELECT nprobe, total_cands, n_truth, hits, hits * 10000 // n_truth AS recall_bp
       |FROM (
       |  $unionAll
       |)
       |""".stripMargin
  }

  /** Truncated-embedding retrieval recall — the Matryoshka/dimension-cut
    * evaluation: run the SAME brute-force cosine top-k with every vector
    * truncated to its first [[TruncDims]] coordinates, and report per
    * query how much of the full-dimension ground truth ([[knnBrute]])
    * the truncated index retains. This is the measurement behind the
    * "serve the 16-dim prefix, rerank with the full vector" storage cut:
    * recall_bp is the number that decides whether the prefix is servable.
    * Same integer-exact shape as [[annRecall]] (overlap semi-join,
    * basis-point integer division); the truncated scorer reuses the
    * salted top-k merge, so no per-query candidate set ever reaches one
    * reducer. Prefixes with zero norm are excluded on both sides by the
    * same guard that [[vecs]] applies to full vectors.
    */
  private val TruncDims = 16

  private def knnTruncIds(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
      .select(col("vec_id"), slice(col("emb"), 1, TruncDims).as("temb"))
      .withColumn("tnrm", expr("sqrt(aggregate(transform(temb, x -> x * x), 0D, (a, x) -> a + x))"))
      .filter(col("tnrm") > 0)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("temb").as("qemb"))
    val scored = e.select(col("vec_id"), col("temb").as("cemb"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"))
  }

  def truncRecall(spark: SparkSession, dir: String): DataFrame = {
    val b = knnBrute(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val t = knnTruncIds(spark, dir).localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_full"))
    val nt = t.groupBy(col("query_id")).agg(count(lit(1)).as("n_trunc"))
    val ov = b.join(t, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
    nb.join(nt, Seq("query_id"), "left").join(ov, Seq("query_id"), "left")
      .select(col("query_id"), col("n_full"),
        coalesce(col("n_trunc"), lit(0L)).as("n_trunc"),
        coalesce(col("ov"), lit(0L)).as("n_overlap"))
      .withColumn("recall_bp", expr("n_overlap * 10000 div n_full"))
  }

  def truncRecallSql: String =
    s"""WITH b AS (
       |${knnBruteSql}
       |), e2 AS (
       |  $VecsCteSql
       |), et AS (
       |  SELECT vec_id, emb[1:$TruncDims] AS temb FROM e2
       |  WHERE sqrt(list_sum(list_transform(emb[1:$TruncDims], x -> x * x))) > 0
       |), tq AS (
       |  SELECT vec_id AS query_id, temb AS qemb FROM et WHERE vec_id % $QueryMod = 0
       |), ts AS (
       |  SELECT query_id, vec_id, list_cosine_similarity(qemb, temb) AS cos
       |  FROM tq, et WHERE vec_id <> query_id
       |), t AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |    FROM ts) WHERE rk <= $TopK
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_full FROM b GROUP BY query_id
       |), nt AS (
       |  SELECT query_id, COUNT(*) AS n_trunc FROM t GROUP BY query_id
       |), ov AS (
       |  SELECT b.query_id, COUNT(*) AS ov
       |  FROM b JOIN t ON b.query_id = t.query_id AND b.vec_id = t.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_full,
       |       COALESCE(nt.n_trunc, 0) AS n_trunc,
       |       COALESCE(ov.ov, 0) AS n_overlap,
       |       COALESCE(ov.ov, 0) * 10000 // nb.n_full AS recall_bp
       |FROM nb LEFT JOIN nt ON nb.query_id = nt.query_id
       |        LEFT JOIN ov ON nb.query_id = ov.query_id
       |""".stripMargin

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * corpus with k-means, then compare embeddings ONLY within a cluster —
    * pairs in different clusters are never scored, which is the whole
    * point: pairwise work drops from O(N²) to Σ|cluster|², and at 1 B
    * vectors k is chosen ~N/⟨cluster⟩ (⟨cluster⟩ a few hundred) so each
    * cluster's all-pairs block is a few 10⁵ comparisons — embarrassingly
    * parallel after one shuffle on cluster id. Contrast [[cosineDedup]]:
    * same verify step, but candidates from LSH band buckets instead of
    * k-means cells (the LSH path has no training pass and per-pair recall
    * guarantees; the k-means path catches semantic near-dups whose random
    * hyperplane signatures differ — production pipelines run both).
    *
    * Uses the same fixed-[[KmeansAssignRounds]] assignment as the
    * `s_kmeans` gate (engine-deterministic, so the oracle reuses its
    * unrolled CTE chain) and [[cosineDedup]]'s 1-hop min-partner
    * canonicalization at the same [[DedupTau]]: canon_id = the smallest
    * same-cluster partner with cosine ≥ τ, else self. The self-join
    * shuffles the narrow (cid, vec_id, emb) projection by cid once; a
    * skewed giant cluster is bounded by construction (k-means cells split
    * under re-training; AQE splits the join side at runtime).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = kmeansPrep(spark, dir)
    var assign = kmeansAssign(e, kmeansInit(e))
    for (_ <- 2 to KmeansAssignRounds) assign = kmeansAssign(e, kmeansMeanUpdate(e, assign))
    val m = assign.select(col("vec_id"), col("cid"))
      .join(e.select(col("vec_id"), col("emb")), "vec_id")
      .localCheckpoint(true)
    val pairs = m.select(col("cid"), col("vec_id").as("vec_a"), col("emb").as("qemb"))
      .join(m.select(col("cid"), col("vec_id").as("vec_b"), col("emb").as("cemb")), "cid")
      .filter(col("vec_a") < col("vec_b"))
      .filter(cosine(col("qemb"), col("cemb")) >= DedupTau)
    val partnerMin = pairs.groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("min_dup"))
    m.select(col("vec_id"), col("cid"))
      .join(broadcast(partnerMin), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid").as("cluster_id"),
        coalesce(col("min_dup"), col("vec_id")).as("canon_id"))
      .withColumn("is_canonical", (col("vec_id") === col("canon_id")).cast("int"))
  }

  def semanticDedupSql: String =
    s"""${kmeansCtePrefix(KmeansAssignRounds)}, m AS MATERIALIZED (
       |  SELECT a.vec_id, a.cid, e.emb
       |  FROM a$KmeansAssignRounds a JOIN e ON a.vec_id = e.vec_id AND a.rn = 1
       |), p AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE list_cosine_similarity(x.emb, y.emb) >= $DedupTau
       |), pm AS (
       |  SELECT vec_b AS vec_id, MIN(vec_a) AS min_dup FROM p GROUP BY vec_b
       |)
       |SELECT m.vec_id, m.cid AS cluster_id,
       |       COALESCE(min_dup, m.vec_id) AS canon_id,
       |       CAST(m.vec_id = COALESCE(min_dup, m.vec_id) AS INT) AS is_canonical
       |FROM m LEFT JOIN pm ON m.vec_id = pm.vec_id
       |""".stripMargin

  private def kmeansAssignSql(centsCte: String) =
    s"""SELECT vec_id, cid, d2,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
       |  FROM (SELECT e.vec_id, c.cid,
       |          ((list_inner_product(e.emb, e.emb) - 2.0 * list_inner_product(e.emb, c.cemb)) + list_inner_product(c.cemb, c.cemb)) AS d2
       |        FROM e, $centsCte c)""".stripMargin

  /** One assign→mean-update round as CTEs: m<r> and c<r> from a<r>, then
    * a<r+1> against c<r> — the loop body both k-means oracles share.
    * Every round CTE is MATERIALIZED: DuckDB's inliner otherwise
    * duplicates the chain (~4× plan size per round — the 17-round oracle
    * went from minutes-and-counting to 0.7 s), and materialization is
    * also the semantically honest twin of the Spark side's per-round
    * localCheckpoint.
    */
  private def kmeansRoundSql(r: Int): String =
    s"""m$r AS MATERIALIZED (
       |  SELECT cid, j,
       |         CAST(SUM(CAST(ROUND(x * $KmeansQ) AS BIGINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / $KmeansQ AS coord
       |  FROM (SELECT a.cid, r.j, e.emb[j] AS x
       |        FROM a$r a JOIN e ON a.vec_id = e.vec_id AND a.rn = 1, range(1, 65) r(j))
       |  GROUP BY cid, j
       |), c$r AS MATERIALIZED (
       |  SELECT cid, list(coord ORDER BY j) AS cemb FROM m$r GROUP BY cid
       |), a${r + 1} AS MATERIALIZED (
       |  ${kmeansAssignSql(s"c$r")}
       |)""".stripMargin

  /** The fixed-2-round oracle (`s_kmeans`): [[kmeansUnrolledSql]] at the
    * [[KmeansAssignRounds]] depth the cross-engine gate has always used. */
  def kmeansSql: String = kmeansUnrolledSql(KmeansAssignRounds)

  /** The WITH-chain of `rounds` unrolled Lloyd's rounds (e, c0, a1..a<rounds>)
    * — shared by the k-means oracles and the semantic-dedup oracle, which
    * appends its own CTEs on top of the final assignment. */
  private def kmeansCtePrefix(rounds: Int): String = {
    val body = (1 until rounds).map(r => s", ${kmeansRoundSql(r)}").mkString
    s"""WITH e AS MATERIALIZED (
       |  $VecsCteSql
       |), c0 AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), a1 AS MATERIALIZED (
       |  ${kmeansAssignSql("c0")}
       |)$body""".stripMargin
  }

  /** Lloyd's unrolled to `rounds` assignment rounds in DuckDB. */
  private def kmeansUnrolledSql(rounds: Int): String =
    s"""${kmeansCtePrefix(rounds)}
       |SELECT vec_id, cid AS cluster_id, ROUND(d2, 6) AS d6 FROM a$rounds WHERE rn = 1
       |""".stripMargin

  /** Per-dimension embedding statistics — the drift-monitoring pass a
    * vector pipeline runs between embedding-model versions (a shifted
    * dimension mean or collapsed variance is the standard regression
    * signal). One posexplode + one (dim) hash aggregate with map-side
    * partials: 64 output rows regardless of corpus size, shuffle bounded
    * by #dims × #partitions.
    *
    * Cross-engine exactness: mean and variance are the float-sum order
    * trap twice over, so both moments use the kmeans/Det integer
    * quantization — coordinates quantized to 2⁻²⁰ units and summed as
    * exact BIGINTs (assuming |x| ≤ 1, one squared quantized coordinate
    * is ≤ 2⁴⁰, so the 2⁶³ BIGINT ceiling is hit only past ~8.4M rows
    * per dim (2²³); fixture embeddings are ~N(0,1)-ish, so coordinates
    * above 1 shrink that bound proportionally to max|x|² — still far
    * above tested scales, and Spark 4 ANSI mode makes any overflow a
    * loud error, not a silent wrap), then divided back in one pinned
    * order.
    */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(posexplode(col("emb")).as(Seq("dim", "x")))
      .withColumn("qx", expr(s"CAST(ROUND(x * $KmeansQ) AS BIGINT)"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
           sum(col("qx")).as("qsum"),
           sum(col("qx") * col("qx")).as("qsumsq"))
      .select(col("dim"), col("n"),
        expr(s"ROUND(CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / $KmeansQ, 6)").as("mean6"),
        expr(s"""ROUND((CAST(qsumsq AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE)))
                / $KmeansQ / $KmeansQ, 6)""".replaceAll("\n", " ")).as("var6"))

  def dimStatsSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), x AS (
       |  SELECT r.j - 1 AS dim, CAST(ROUND(emb[r.j] * $KmeansQ) AS BIGINT) AS qx
       |  FROM e, range(1, 65) r(j)
       |), s AS (
       |  SELECT dim, COUNT(*) AS n, SUM(qx) AS qsum, SUM(qx * qx) AS qsumsq
       |  FROM x GROUP BY dim
       |)
       |SELECT dim, n,
       |       ROUND(CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / $KmeansQ, 6) AS mean6,
       |       ROUND((CAST(qsumsq AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE))) / $KmeansQ / $KmeansQ, 6) AS var6
       |FROM s
       |""".stripMargin

  /** Per-dimension embedding drift across label cohorts — the two-corpus
    * drift monitor: quantized per-(label, dim) means (the [[dimStats]]
    * integer-sum scheme, so the cross-engine float-sum-order trap never
    * applies), then per dim the spread between the lowest and highest
    * cohort mean. A drifting embedding version or a skewed cohort shows
    * up as a large `drift6` on the affected dimensions.
    *
    * Shapes: explode → (label, dim) hash agg with map-side partials →
    * (dim) hash agg; output is 64 rows regardless of corpus size, and
    * nothing after the first agg exceeds |labels| × 64 rows. The min/max
    * comparisons run on exact BIGINT-ratio doubles (qsum/n, each
    * < 2^53 — correctly-rounded single division, no summation), rounded
    * only for display.
    */
  def labelDrift(spark: SparkSession, dir: String): DataFrame = {
    val perLabel = vecs(spark, dir)
      .select(col("label"), posexplode(col("emb")).as(Seq("dim", "x")))
      .withColumn("qx", expr(s"CAST(ROUND(x * $KmeansQ) AS BIGINT)"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("qx")).as("qsum"))
      .withColumn("m", expr("CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE)"))
    perLabel.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_labels"),
           min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(col("dim"), col("n_labels"),
        expr(s"ROUND(lo / $KmeansQ, 6)").as("lo_mean6"),
        expr(s"ROUND(hi / $KmeansQ, 6)").as("hi_mean6"),
        expr(s"ROUND((hi - lo) / $KmeansQ, 6)").as("drift6"))
  }

  def labelDriftSql: String =
    s"""WITH e AS (
       |  SELECT label, embedding::DOUBLE[] AS emb FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0
       |), x AS (
       |  SELECT label, r.j - 1 AS dim, CAST(ROUND(emb[r.j] * $KmeansQ) AS BIGINT) AS qx
       |  FROM e, range(1, 65) r(j)
       |), pl AS (
       |  SELECT label, dim, COUNT(*) AS n, CAST(SUM(qx) AS BIGINT) AS qsum
       |  FROM x GROUP BY label, dim
       |), m AS (
       |  SELECT dim, CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) AS m FROM pl
       |)
       |SELECT dim, COUNT(*) AS n_labels,
       |       ROUND(MIN(m) / $KmeansQ, 6) AS lo_mean6,
       |       ROUND(MAX(m) / $KmeansQ, 6) AS hi_mean6,
       |       ROUND((MAX(m) - MIN(m)) / $KmeansQ, 6) AS drift6
       |FROM m GROUP BY dim
       |""".stripMargin

  /** Dominant principal component of the embedding corpus via power
    * iteration — the whitening / drift-direction primitive: v ← A·v
    * normalized, where A·v = Σᵢ xᵢ(xᵢ·v) (covariance-free Gram form, no
    * N division — scale cancels in the normalize). [[PcaRounds]] fixed
    * rounds, matching the `s_kmeans` fixed-round gate pattern; the
    * production knob is the round count.
    *
    * Cross-engine exactness: the per-row contribution xᵢ_d·(xᵢ·v) is
    * quantized to 2⁻²⁰ units and summed EXACTLY (order-free BIGINT, the
    * k-means scheme), so each round's 64 sums are bit-identical in both
    * engines; the normalize then runs on those exact sums in ONE pinned
    * op sequence — sᵈ = qsumᵈ/Q, ‖s‖² = left-fold of sᵈ² in dim order
    * (list_reduce ≡ Scala reduceLeft ≡ Spark aggregate-with-0D-seed: the
    * 0+x₀² seed is exact for non-negative x₀²), v′ᵈ = sᵈ/√‖s‖². The dot
    * xᵢ·v is the same native/list_inner_product pair every similarity
    * oracle already pins. Per-row |x_d·(x·v)·Q| ≲ 2²⁶ on unit-ish data,
    * so the BIGINT sum is exact past 10¹¹ rows.
    *
    * Scale: each round is ONE narrow pass (broadcast v as a literal) +
    * a 64-row hash agg with map-side partials — at 1 B vectors that is R
    * scan-shaped jobs and R driver round-trips of 64 longs, the same
    * iteration shape as [[kmeansIterate]]. The final round stays in the
    * plan (tiny agg + 1-row broadcast) so the entry's result is computed
    * distributed.
    */
  private val PcaRounds = 6

  /** One power-iteration step: per-dim EXACT quantized sums of x·(x·v). */
  private def pcaStep(e: DataFrame, v: Array[Double]): DataFrame =
    e.withColumn("dot", dp(col("emb"), array(v.map(lit).toIndexedSeq: _*)))
      .select(col("dot"), posexplode(col("emb")).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(expr(s"CAST(ROUND(x * dot * $KmeansQ) AS BIGINT)")).as("qsum"))

  /** The pinned normalize: identical op sequence to the oracle's
    * list_transform/list_reduce composition (see the class doc). */
  private def pcaNormalize(qsums: Array[Long]): Array[Double] = {
    val s = qsums.map(q => q.toDouble / 1048576.0)
    val norm = math.sqrt(s.map(x => x * x).reduceLeft(_ + _))
    s.map(_ / norm)
  }

  private[graft] def pcaIterate(spark: SparkSession, dir: String,
                                rounds: Int): (DataFrame, Seq[Double]) = {
    require(rounds >= 1)
    val e = vecs(spark, dir).select(col("vec_id"), col("emb")).localCheckpoint(true)
    var v = Array.fill(64)(0.125) // unit vector, exactly representable
    val lams = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 until rounds) {
      val qs = pcaStep(e, v).collect().map(r => (r.getInt(0), r.getLong(1)))
        .sortBy(_._1).map(_._2)
      require(qs.exists(_ != 0L), "power iteration collapsed: A·v quantized to zero")
      lams += math.sqrt(qs.map(q => q.toDouble / 1048576.0).map(x => x * x).reduceLeft(_ + _))
      v = pcaNormalize(qs)
    }
    // final round declaratively: 64-row agg + 1-row broadcast norm
    val sv = pcaStep(e, v).withColumn("s", expr(s"CAST(qsum AS DOUBLE) / $KmeansQ"))
    val nsq = sv.agg(expr(
      "aggregate(transform(array_sort(collect_list(struct(dim, s))), p -> p.s * p.s), 0D, (a, x) -> a + x)")
      .as("nsq"))
    val out = sv.crossJoin(broadcast(nsq))
      .select(col("dim"),
        expr(Det.r6("s / sqrt(nsq)")).as("loading6"),
        expr(Det.r6("sqrt(nsq)")).as("lam6"))
    (out, lams.toSeq)
  }

  /** `s_pca_power`: the [[PcaRounds]]-round iterate. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaIterate(spark, dir, PcaRounds)._1

  def pcaPowerSql: String = {
    val rounds = (1 to PcaRounds).map { r =>
      s"""d$r AS (
         |  SELECT emb, list_inner_product(emb, v) AS dot FROM e, v${r - 1}
         |), w$r AS (
         |  SELECT rr.j - 1 AS dim,
         |         CAST(SUM(CAST(ROUND(emb[rr.j] * dot * $KmeansQ) AS BIGINT)) AS BIGINT) AS qsum
         |  FROM d$r, range(1, 65) rr(j) GROUP BY 1
         |), s$r AS (
         |  SELECT list(CAST(qsum AS DOUBLE) / $KmeansQ ORDER BY dim) AS sv FROM w$r
         |), v$r AS (
         |  SELECT list_transform(sv, x ->
         |    x / sqrt(list_reduce(list_transform(sv, y -> y * y), (a, b) -> a + b))) AS v
         |  FROM s$r
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  $VecsCteSql
       |), v0 AS (
       |  SELECT list_transform(range(1, 65), i -> 0.125) AS v
       |),
       |$rounds,
       |fs AS (
       |  SELECT dim, CAST(qsum AS DOUBLE) / $KmeansQ AS s FROM w$PcaRounds
       |), nq AS (
       |  SELECT list_reduce(list_transform(list(s ORDER BY dim), y -> y * y),
       |                     (a, b) -> a + b) AS nsq
       |  FROM fs
       |)
       |SELECT dim, ${Det.r6("s / sqrt(nsq)")} AS loading6,
       |       ${Det.r6("sqrt(nsq)")} AS lam6
       |FROM fs, nq
       |""".stripMargin
  }

  /** Per-label vector statistics (sanity/profiling pass). */
  def labelStats(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(avg(col("nrm")), 4).as("avg_norm"),
           max(size(col("emb"))).as("n_dims"))

  def labelStatsSql: String =
    """SELECT label, COUNT(*) AS n_vecs,
      |       ROUND(AVG(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))), 4) AS avg_norm,
      |       MAX(LEN(embedding)) AS n_dims
      |FROM embeddings
      |WHERE sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0
      |GROUP BY label
      |""".stripMargin

  private val MmrPool = 20 // candidate pool depth per query
  private val MmrK = 5     // diversified results per query
  /** MMR score as shared SQL text (identical in both dialects; CASTs keep
    * Spark from parsing the literals as DECIMAL): λ=0.7 relevance,
    * 0.3 redundancy penalty. */
  private def mmrSql(rel: String, pen: String): String =
    s"(CAST(7 AS DOUBLE) * $rel - CAST(3 AS DOUBLE) * $pen) / CAST(10 AS DOUBLE)"

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998): per
    * query, greedily pick MmrK of the MmrPool most-relevant candidates,
    * each round maximizing λ·rel − (1−λ)·max-similarity-to-already-picked
    * — the serving-side diversity pass that keeps a result page from
    * being MmrK near-duplicates (the same redundancy the `s_*_dedup`
    * entries remove corpus-side).
    *
    * Scale shape: the pool cut is the salted two-phase top-N (never an
    * unbounded per-query sort), and everything after operates on
    * per-query sets BOUNDED BY CONSTRUCTION — MmrPool rows and
    * MmrPool·(MmrPool−1) pairwise sims per query, checkpointed once.
    * The greedy loop is MmrK−1 driver rounds over those tiny tables
    * (the kmeansIterate pattern: lazy per-round checkpoint, one action),
    * independent of corpus size. Windows inside the loop partition by
    * query over ≤ MmrPool rows, so no salting is needed there.
    *
    * Picks and scores are cross-engine exact for the same reason
    * [[knnBrute]]'s are: both engines evaluate the identical
    * double-precision expression tree (cosines in index order, one
    * fused multiply-subtract formula — [[mmrSql]] is interpolated into
    * BOTH plans), and every argmax carries the vec_id tie-break.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val scored = e.select(col("vec_id"), col("emb")).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rel", cosine(col("qemb"), col("emb")))
      .select(col("query_id"), col("vec_id"), col("rel"), col("emb"))
    mmrFromScored(scored)
  }

  /** `s_mmr_ann`: the production serving chain — IVF candidate pruning
    * feeds the MMR pool instead of the brute scorer, i.e. retrieve with
    * the index, diversify the page. Identical greedy machinery; only the
    * candidate source differs (the composition-as-entry pattern of
    * `t_curation_e2e`). At 1 B vectors the brute pool cut scans the
    * corpus per query; this one scans only the probed cells.
    *
    * Like [[mmrRerank]] (and unlike [[knnIvf]], where the self-hit is the
    * standard recall@k convention), the query vector is excluded from its
    * own candidates — queries are also centroids here, so without the
    * filter the query would always occupy sel_rank 1 with rel = 1.0 and
    * the page would carry only MmrK − 1 real results.
    */
  def mmrAnn(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val all = e.select(col("vec_id"), col("emb"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val scored = ivfCandidates(e)
      .filter(col("vec_id") =!= col("query_id"))
      .join(all, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("rel", cosine(col("qemb"), col("emb")))
      .select(col("query_id"), col("vec_id"), col("rel"), col("emb"))
    mmrFromScored(scored)
  }

  /** Greedy MMR over any scored candidate source
    * (query_id, vec_id, rel, emb) — shared by [[mmrRerank]] (brute) and
    * [[mmrAnn]] (IVF-pruned). */
  private def mmrFromScored(scored: DataFrame): DataFrame = {
    // quantized-rank contract (r10 ADVICE): the pool cut ranks on
    // ROUND(rel, 6) and every greedy pick ranks on ROUND(mmr, 6), so a
    // cross-engine cosine ulp can never flip pool membership or a pick.
    val pool = saltedTopN(scored, MmrPool,
        round(col("rel"), 6).desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("rel"), col("emb"))
      .localCheckpoint(true)
    val pairs = pool.select(col("query_id"), col("vec_id").as("cand"), col("emb").as("cemb"))
      .join(pool.select(col("query_id"), col("vec_id").as("other"), col("emb").as("oemb")),
        Seq("query_id"))
      .filter(col("cand") =!= col("other"))
      .select(col("query_id"), col("cand"), col("other"),
        cosine(col("cemb"), col("oemb")).as("sim"))
      .localCheckpoint(true)
    val slim = pool.select(col("query_id"), col("vec_id"), col("rel"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("mmr"), 6).desc_nulls_last, col("vec_id").asc)
    var sel = slim
      .withColumn("mmr", expr(mmrSql("rel", "CAST(0 AS DOUBLE)")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id"), col("rel"), col("mmr"),
        lit(1).as("sel_rank"))
    for (r <- 2 to MmrK) {
      val pen = pairs
        .join(sel.select(col("query_id"), col("vec_id").as("other")), Seq("query_id", "other"))
        .groupBy(col("query_id"), col("cand").as("vec_id"))
        .agg(max(col("sim")).as("pen"))
      val pick = slim
        .join(sel.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"), "left_anti")
        .join(pen, Seq("query_id", "vec_id"))
        .withColumn("mmr", expr(mmrSql("rel", "pen")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), col("rel"), col("mmr"),
          lit(r).as("sel_rank"))
      sel = sel.union(pick).localCheckpoint(false)
    }
    sel.select(col("query_id"), col("sel_rank"), col("vec_id"),
      round(col("rel"), 6).as("rel6"), round(col("mmr"), 6).as("mmr6"))
  }

  /** The unrolled greedy-MMR oracle over any candidate-source CTE chain
    * ending in `s(query_id, vec_id, rel, emb)` — the SQL twin of
    * [[mmrFromScored]], shared by both MMR oracles exactly as the Scala
    * helper is shared by both entries.
    */
  private def mmrUnrolledSql(sourceCtes: String): String = {
    val rounds = (2 to MmrK).map { r =>
      s"""sel$r AS MATERIALIZED (
         |  SELECT query_id, vec_id, rel, mmr, $r AS sel_rank FROM (
         |    SELECT query_id, vec_id, rel, mmr,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(mmr, 6) DESC NULLS LAST, vec_id) AS rn
         |    FROM (
         |      SELECT p.query_id, p.vec_id, p.rel, ${mmrSql("p.rel", "pen.pen")} AS mmr
         |      FROM pool p
         |      JOIN (SELECT pr.query_id, pr.cand, MAX(pr.sim) AS pen
         |            FROM pairs pr JOIN cum${r - 1} s
         |              ON pr.query_id = s.query_id AND pr.other = s.vec_id
         |            GROUP BY pr.query_id, pr.cand) pen
         |        ON pen.query_id = p.query_id AND pen.cand = p.vec_id
         |      LEFT JOIN cum${r - 1} d
         |        ON d.query_id = p.query_id AND d.vec_id = p.vec_id
         |      WHERE d.vec_id IS NULL
         |    )
         |  ) WHERE rn = 1
         |),
         |cum$r AS (SELECT * FROM cum${r - 1} UNION ALL SELECT * FROM sel$r),""".stripMargin
    }.mkString("\n")
    s"""WITH $sourceCtes, pool AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel, emb,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(rel, 6) DESC NULLS LAST, vec_id) AS rn
       |  FROM s QUALIFY rn <= $MmrPool
       |), pairs AS MATERIALIZED (
       |  SELECT a.query_id, a.vec_id AS cand, b.vec_id AS other,
       |         list_cosine_similarity(a.emb, b.emb) AS sim
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |), sel1 AS (
       |  SELECT query_id, vec_id, rel, mmr, 1 AS sel_rank FROM (
       |    SELECT query_id, vec_id, rel, ${mmrSql("rel", "CAST(0 AS DOUBLE)")} AS mmr,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(${mmrSql("rel", "CAST(0 AS DOUBLE)")}, 6) DESC NULLS LAST, vec_id) AS rn1
       |    FROM pool) WHERE rn1 = 1
       |), cum1 AS (SELECT * FROM sel1),
       |$rounds
       |outp AS (SELECT * FROM cum$MmrK)
       |SELECT query_id, sel_rank, vec_id,
       |       ROUND(rel, 6) AS rel6, ROUND(mmr, 6) AS mmr6
       |FROM outp
       |""".stripMargin
  }

  def mmrRerankSql: String = mmrUnrolledSql(
    s"""e AS (
       |  $VecsCteSql
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |), s AS (
       |  SELECT query_id, vec_id, list_cosine_similarity(qemb, emb) AS rel, emb
       |  FROM q, e WHERE vec_id <> query_id
       |)""".stripMargin)

  def mmrAnnSql: String = mmrUnrolledSql(
    s"""e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, s AS (
       |  SELECT query_id, c.vec_id,
       |         list_cosine_similarity(qe.emb, ce.emb) AS rel, ce.emb AS emb
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id
       |               JOIN e ce ON ce.vec_id = c.vec_id
       |  WHERE c.vec_id <> query_id
       |)""".stripMargin)

  // ---- binary (sign-bit) quantization + asymmetric Hamming search ----

  /** Hamming-prefilter pool depth per query (> TopK so the exact rerank
    * has real candidates to reorder — sign bits only preserve direction
    * octants, so the Hamming order and the cosine order genuinely differ). */
  private val BinPool = 20

  /** Sign-bit packing of dims [lo, lo+31] into one non-negative BIGINT
    * (bit i−lo set ⟺ emb[i] > 0). Two 32-dim halves instead of one
    * 64-bit word keeps every signature positive — no two's-complement
    * sign-bit edge cases in either engine's bit_count/xor.
    */
  private def signPack(lo: Int): Column =
    expr(s"aggregate(sequence($lo, ${lo + 31}), CAST(0 AS BIGINT), " +
      s"(a, i) -> a + CASE WHEN element_at(emb, i) > 0D " +
      s"THEN CAST(shiftleft(CAST(1 AS BIGINT), i - $lo) AS BIGINT) ELSE CAST(0 AS BIGINT) END)")

  private def signPackSql(lo: Int): String =
    s"CAST(list_sum(list_transform(generate_series($lo, ${lo + 31}), " +
      s"i -> CASE WHEN emb[i] > 0 THEN (CAST(1 AS BIGINT) << (i - $lo)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"

  /** `s_knn_binary`: 1-bit (sign) quantization search — pack each vector
    * into two 32-bit sign words (16 B vs 512 B of f64: 32× compression),
    * scan signatures by Hamming distance (xor + bit_count, pure integer
    * codegen), keep the BinPool nearest per query, then rerank ONLY those
    * survivors by exact cosine against the full vectors. The
    * binary-prefilter + asymmetric-rerank shape of modern vector stores
    * (sign-LSH/RaBitQ family): at 1 B vectors the Hamming scan touches
    * 16 GB of signatures instead of 512 GB of floats, and full vectors
    * are fetched for BinPool rows per query, never the corpus.
    *
    * Scale shape: signatures are ONE narrow projection (no shuffle); the
    * Hamming scan is the same broadcast-queries × streaming-corpus pass
    * as [[knnBrute]] but over 2 BIGINT columns; the pool cut is the
    * salted two-phase top-N; the rerank join touches ≤ queries × BinPool
    * rows. Everything before the final ROUND is exact integer arithmetic,
    * so pool membership is bit-identical across engines by construction.
    */
  def knnBinary(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val sig = e.select(col("vec_id"), signPack(1).as("h1"), signPack(33).as("h2"))
    val qsig = sig.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("h1").as("q1"), col("h2").as("q2"))
    val ham = sig.crossJoin(broadcast(qsig))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ham", expr("CAST(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) AS BIGINT)"))
      .select(col("query_id"), col("vec_id"), col("ham"))
    val pool = saltedTopN(ham, BinPool, col("ham").asc, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("ham"))
    val full = e.select(col("vec_id"), col("emb"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    // rank on the 1e-6-quantized cosine (vec_id tie-break), not the raw
    // double: an exp/fma ulp between engines can flip raw-double order at
    // a TopK boundary, but both engines agree on ROUND(cos, 6)
    val rer = pool.join(full, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("emb")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc_nulls_last, col("vec_id").asc)
    rer.withColumn("rk", row_number().over(w)).filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"), col("ham"), col("cos6"), col("rk"))
  }

  def knnBinarySql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), sig AS (
       |  SELECT vec_id, ${signPackSql(1)} AS h1, ${signPackSql(33)} AS h2 FROM e
       |), q AS (
       |  SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM sig WHERE vec_id % $QueryMod = 0
       |), ham AS (
       |  SELECT query_id, s.vec_id,
       |         CAST(bit_count(xor(s.h1, q1)) + bit_count(xor(s.h2, q2)) AS BIGINT) AS ham
       |  FROM q, sig s WHERE s.vec_id <> query_id
       |), pool AS (
       |  SELECT query_id, vec_id, ham,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham ASC, vec_id ASC) AS prk
       |  FROM ham QUALIFY prk <= $BinPool
       |), r AS (
       |  SELECT query_id, p.vec_id, ham, list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM pool p JOIN e qe ON qe.vec_id = p.query_id
       |              JOIN e ce ON ce.vec_id = p.vec_id
       |)
       |SELECT query_id, vec_id, ham, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM r QUALIFY rk <= $TopK
       |""".stripMargin

  /** Neighbors per node in the [[knnGraph]] output. */
  private val GraphK = 5

  /** `s_knn_graph`: the full k-NN GRAPH build — every vector's
    * [[GraphK]] nearest neighbors, candidates bounded by IVF cells (each
    * vector probes its NProbe nearest coarse cells; candidates are the
    * vectors ASSIGNED there). The precursor artifact of graph-based dedup
    * and clustering (SemDeDup's neighbor graph, connected-components
    * seeding, kNN-graph diffusion): [[knnIvf]] serves a QUERY BATCH
    * against the corpus — this builds corpus × corpus, which is exactly
    * where unbounded all-pairs would explode and cell bounding is
    * non-negotiable.
    *
    * Scale shape: both the probe and assignment sides are shuffle-free
    * map work against broadcast centroids; the candidate pair table is
    * bounded per cell by (assigned × probing) — never N² — and deduped
    * before scoring; the scoring joins are plain key shuffles (the "query"
    * side is the corpus, so nothing here broadcasts — unlike knnIvf, and
    * deliberately so); the final cut is the salted two-phase top-k. At
    * 1 B vectors every stage is a bounded shuffle; the knob is cell count
    * (the fixture grows cells with SF, so the measured exponent is an
    * upper bound on production's fixed-cell curve, as with s_knn_ivfpq).
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    val sims = e.select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val assign = sims.groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val probes = sims.groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    // pinned-cell occupancy is CentroidMod, so candidates ≈ N·NProbe·Mod
    // ([[Sizing.spreadShuffled]]: the scoring pass fans out over the
    // cores; keyed by query_id, it re-keys the DISTINCT's own exchange)
    val nPf = Tables.tableRows(spark, dir, "embeddings")
    val pairs = Sizing.spreadShuffled(
        probes.join(assign, "cid")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id")),
        nPf * NProbe * CentroidMod, PairRowBytes, col("query_id"))
      .distinct() // a pair sharing several probed cells scores once
    // same quantized-rank contract as knnBinary: order by ROUND(cos, 6)
    // with the vec_id tie-break so rank never depends on raw-double ulps
    val scored = pairs
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(e.select(col("vec_id").as("query_id"), col("emb").as("qemb")), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    saltedTopN(scored, GraphK, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  def knnGraphSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), sims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), assign AS (
       |  SELECT vec_id, cid FROM sims WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM sims WHERE crk <= $NProbe
       |), cands AS (
       |  SELECT DISTINCT query_id, a.vec_id FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE a.vec_id <> query_id
       |), scored AS (
       |  SELECT query_id, c.vec_id,
       |         list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = c.vec_id
       |)
       |SELECT query_id, vec_id, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM scored QUALIFY rk <= $GraphK
       |""".stripMargin

  /** `s_knn_graph_scaled`: the PRODUCTION-SHAPE kNN-graph build — cell
    * count grows with the corpus (centroid stride S = ⌊√N⌋, so
    * #cells ≈ N/S ≈ √N and cell occupancy ≈ √N) instead of the pinned
    * replica-0 cell set every other ANN entry serves from. The pinned
    * fixture is right for SERVING benchmarks (the workload must not grow
    * with SF) and wrong for the corpus×corpus BUILD: with cells fixed,
    * candidate volume is N²/C — measured consequence: `s_knn_labelprop`'s
    * graph build OOMs a 48 GB driver at sf10 on ~1.05 B candidate pairs
    * (BASELINE.md §second decade). With S = ⌊√N⌋ the candidate table is
    * N·NProbe·√N — the standard √N-cell IVF build rule — and the same
    * decade completes. √N is computed INSIDE the plan from a 1-row count
    * frame (IEEE sqrt is correctly rounded in both engines, so the floor
    * agrees bit-for-bit); everything downstream is [[knnGraph]]'s
    * machinery: broadcast-centroid assignment, NProbe probing, per-cell
    * candidate dedup, quantized-cos salted top-k.
    */
  def knnGraphScaled(spark: SparkSession, dir: String): DataFrame =
    knnGraphScaledAt(spark, dir, GraphK)

  /** [[knnGraphScaled]] with a caller-chosen per-vertex edge cut `k` —
    * the build machinery is shared between the GRAPH ARTIFACT entry
    * (GraphK = 5, the tight kNN the dedup/diffusion consumers want) and
    * the beam entry's NAVIGATION build ([[NavGraphK]] = 8: navigation
    * wants fan-out, and the candidate pass is identical — the cut is the
    * only difference, so the extra edges are free at build time). */
  private[graft] def knnGraphScaledAt(spark: SparkSession, dir: String,
                                      k: Int): DataFrame = {
    val e = vecs(spark, dir)
    val nFrame = e.agg(count(lit(1)).as("n"))
    val cent = e.crossJoin(broadcast(nFrame))
      .filter(expr("vec_id % greatest(CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT), CAST(1 AS BIGINT)) = 0"))
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    val sims = e.select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val assign = sims.groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val probes = sims.groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    val nFetch = Tables.tableRows(spark, dir, "embeddings")
    // candidate volume ≈ N·NProbe·√N (the build rule this entry encodes).
    // Both sides grow with N, so the strategy is fixed from N, not left to
    // AQE (which broadcast whichever side's shuffle finished first, so the
    // final plan and its exchange and job counts differed run to run):
    // `assign` (N rows of two longs) is the build side, broadcast up to
    // [[Sizing.fetch]]'s row bound and a shuffled hash build above it.
    val pairs = Sizing.spreadShuffled(
        probes.join(Sizing.fetch(assign, nFetch), "cid")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id")),
        nFetch * NProbe * math.max(1L, math.sqrt(nFetch.toDouble).toLong),
        PairRowBytes, col("query_id"))
      .distinct()
    // Score via hash joins on both embedding sides: the r11 sf10 probe
    // showed the naive shuffle join OOMs here — a sort-merge join SORTS
    // the N·NProbe·√N pair table with the 64-double array already
    // attached (~170 GB of sort rows at 210k vectors), while the pair
    // table itself is 16 B/row. Design rule this encodes: a wide payload
    // column must never ride a sort — broadcast the embedding side while
    // it fits, SHUFFLE_HASH-build it beyond ([[Sizing.fetch]]).
    val scored = pairs
      .join(Sizing.fetch(e.select(col("vec_id"), col("emb").as("cemb")), nFetch), "vec_id")
      .join(Sizing.fetch(e.select(col("vec_id").as("query_id"), col("emb").as("qemb")), nFetch),
        "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    saltedTopN(scored, k, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  def knnGraphScaledSql: String = knnGraphScaledSqlAt(GraphK)

  /** SQL twin of [[knnGraphScaledAt]]. */
  private[graft] def knnGraphScaledSqlAt(k: Int): String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e CROSS JOIN nn
       |  WHERE vec_id % greatest(CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT), CAST(1 AS BIGINT)) = 0
       |), sims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), assign AS (
       |  SELECT vec_id, cid FROM sims WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM sims WHERE crk <= $NProbe
       |), cands AS (
       |  SELECT DISTINCT query_id, a.vec_id FROM probes p JOIN assign a ON p.cid = a.cid
       |  WHERE a.vec_id <> query_id
       |), scored AS (
       |  SELECT query_id, c.vec_id,
       |         list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = c.vec_id
       |)
       |SELECT query_id, vec_id, ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM scored QUALIFY rk <= $k
       |""".stripMargin

  /** `s_ood_outliers`: embedding outlier detection — the data-cleaning
    * pass that flags vectors far from their cluster's center (mislabeled
    * / corrupted / out-of-distribution rows that poison contrastive and
    * retrieval training). Built ON the oracle-gated [[kmeans]]
    * assignment: quantize each vector's squared distance to 1e-6 BIGINT,
    * aggregate per-cluster count and distance mass, and flag
    * `20 · qd · n_cluster > 23 · Σqd` — "more than 1.15× the cluster's
    * mean distance" as an exact integer CROSS-MULTIPLICATION, so no
    * division ever enters the verdict and both engines agree bit-for-bit.
    * 1.15 is deliberate: high-dimensional random vectors CONCENTRATE
    * their distances (the fixture's 99th-percentile ratio is ~1.14 at
    * every SF, max ~1.16-1.18), so the cut sits in the true tail and
    * flags 0.3-0.8% of vectors; data with genuine corruption separates
    * much further and would use a larger multiple.
    *
    * Scale shape: the assignment is the kmeans entry's own (broadcast
    * centroids, one shuffle); the per-cluster stats are a K-row
    * aggregate broadcast back; the flag is a map-side projection. The
    * per-cluster mean adapts to each cluster's own spread — a tight
    * cluster flags closer outliers than a diffuse one (the same
    * per-group-adaptive design as t_quality_cut).
    */
  def oodOutliers(spark: SparkSession, dir: String): DataFrame = {
    val a = kmeans(spark, dir)
      .withColumn("qd", expr("CAST(ROUND(d6 * 1000000) AS BIGINT)"))
    val stats = a.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cluster"), sum(col("qd")).as("sum_qd"))
    a.join(broadcast(stats), "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("d6"),
        expr("CAST(20 * qd * n_cluster > 23 * sum_qd AS INT)").as("is_outlier"))
  }

  def oodOutliersSql: String =
    s"""WITH km AS (
       |$kmeansSql
       |), q AS (
       |  SELECT vec_id, cluster_id, d6, CAST(ROUND(d6 * 1000000) AS BIGINT) AS qd FROM km
       |), st AS (
       |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cluster,
       |         CAST(SUM(qd) AS BIGINT) AS sum_qd
       |  FROM q GROUP BY cluster_id
       |)
       |SELECT vec_id, cluster_id, d6,
       |       CAST(CASE WHEN 20 * qd * n_cluster > 23 * sum_qd THEN 1 ELSE 0 END AS INT) AS is_outlier
       |FROM q JOIN st USING (cluster_id)
       |""".stripMargin

  /** Power-iteration rounds and the 1e-12 fixed-point scale for
    * [[knnPagerank]]. Five rounds, fixed (not convergence-tested): the
    * centrality RANKING stabilizes long before the values do, and a
    * fixed unroll keeps the oracle a finite CTE chain. */
  private val PrRounds = 5
  private val PrScale = 1000000000000L

  /** `s_knn_pagerank`: PageRank over the [[knnGraphScaled]] neighbor
    * graph (the production-shape √N-cell BUILD — r11 VERDICT Next #1:
    * consuming the pinned-cell [[knnGraph]] made every graph consumer
    * inherit its N²/C candidate table, measured OOM at sf10; the pinned
    * build remains the SERVING-fixture baseline entry) —
    * graph centrality as a CURATION signal (central documents are
    * representative of dense semantic regions; isolated ones are
    * outliers or noise — the graph-diffusion complement of
    * [[oodOutliers]]' distance cut, and the weighted-propagation
    * fixed point next to the CC family's min-propagation). Standard
    * 0.85-damped PageRank, all arithmetic exact integers: ranks live
    * in [[PrScale]] units, every division is integer DIV with
    * positive operands (identical truncation in both engines), the
    * teleport term rides a broadcast 1-row count frame (no driver
    * arithmetic), and the oracle unrolls the [[PrRounds]] rounds as
    * MATERIALIZED CTEs — the kmeans/BPE iterative-oracle pattern.
    * Floor losses mean total mass shrinks slightly per round;
    * determinism, not conservation, is the contract (spec bounds the
    * retained mass).
    *
    * Scale shape: edges (GraphK·N rows, cell-bounded by the knnGraph
    * build) checkpoint once; each round is one edge-keyed shuffle join
    * + one dst-keyed hash aggregate + a node-spine left join — linear
    * per round, 5 rounds, lineage chained lazily (no per-round driver
    * action: the round count is fixed, nothing to test). Nothing
    * broadcasts but the 1-row count.
    */
  def knnPagerank(spark: SparkSession, dir: String): DataFrame = {
    val nodes = vecs(spark, dir).select(col("vec_id")).localCheckpoint(true)
    val nFrame = nodes.agg(count(lit(1)).as("nn"))
    val ed = knnGraphScaled(spark, dir)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
      .localCheckpoint(true)
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val edges = ed.join(deg, "src").localCheckpoint(true)
    var ranks = nodes.crossJoin(broadcast(nFrame))
      .select(col("vec_id").as("rid"), expr(s"${PrScale}L DIV nn").as("r"))
    for (_ <- 1 to PrRounds) {
      val contrib = edges.join(ranks, col("src") === col("rid"))
        .select(col("dst"), expr("r DIV d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(contrib, col("vec_id") === col("dst"), "left")
        .crossJoin(broadcast(nFrame))
        .select(col("vec_id").as("rid"),
          expr(s"(15 * (${PrScale}L DIV nn)) DIV 100 + " +
               s"(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100").as("r"))
    }
    ranks.select(col("rid").as("vec_id"), col("r").as("pr"))
  }

  def knnPagerankSql: String = {
    def roundCte(t: Int): String =
      s"""pr$t AS MATERIALIZED (
         |  SELECT e.vec_id,
         |         CAST((15 * (${PrScale} // nn)) // 100
         |              + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
         |  FROM e CROSS JOIN nn
         |  LEFT JOIN (SELECT dst, CAST(SUM(r // d) AS BIGINT) AS s
         |             FROM edges JOIN deg USING (src)
         |                        JOIN pr${t - 1} p ON p.vec_id = edges.src
         |             GROUP BY dst) s ON s.dst = e.vec_id
         |)""".stripMargin
    s"""WITH e AS (
       |  $VecsCteSql
       |), edges AS MATERIALIZED (
       |  SELECT query_id AS src, vec_id AS dst FROM (
       |${knnGraphScaledSql}
       |  )
       |), deg AS MATERIALIZED (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
       |), nn AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM e
       |), pr0 AS MATERIALIZED (
       |  SELECT vec_id, CAST(${PrScale} // nn AS BIGINT) AS r FROM e, nn
       |), ${(1 to PrRounds).map(roundCte).mkString(", ")}
       |SELECT vec_id, r AS pr FROM pr$PrRounds
       |""".stripMargin
  }

  /** Synchronous label-propagation rounds for [[knnLabelProp]] and the
    * packed-argmax base: votes pack as `cnt · 2⁴⁰ + (2⁴⁰−1−label)`, so
    * one integer MAX realizes (count DESC, label ASC) — the same
    * hash-agg-safe packing clusterBest uses (labels < 2⁴⁰ at any
    * realistic corpus; counts ≤ degree ≪ 2¹³). Four rounds, fixed: like
    * PageRank's five, community membership stabilizes long before a
    * fixed point, and a fixed unroll keeps the oracle a finite CTE
    * chain. */
  private val LpRounds = 4
  private val LpPack = 1L << 40

  /** `s_knn_labelprop`: community detection by synchronous label
    * propagation over the SYMMETRIZED [[knnGraphScaled]] graph (the
    * production-shape build — see [[knnPagerank]]'s note on why the
    * consumers moved off the pinned-cell fixture) — the majority-vote
    * complement of the CC family's min-propagation: hash-min CC finds
    * CONNECTED components (one bridge edge merges two clusters), LPA
    * finds DENSE communities (a bridge is outvoted by each side's
    * internal neighbors), which is the granularity semantic curation
    * wants when near-dup clusters chain through hub documents. Each
    * node starts as its own label; per round every node adopts the
    * label most frequent among its neighbors (ties → smallest label,
    * via the packed-BIGINT argmax — one hash MAX, no window, no
    * SortAggregate). Output: each vector's community and the community
    * size — the grouping a diversity-sampling pass strata on.
    *
    * Scale shape: the directed kNN edges symmetrize once
    * (union + distinct, checkpointed — 2·GraphK·N rows max); each
    * round is one label-keyed shuffle join + two hash aggregates +
    * a node-spine left join — linear per round, [[LpRounds]] rounds
    * chained lazily (fixed round count, no per-round driver action).
    * Nothing broadcasts, nothing is quadratic: vote lists are bounded
    * by degree, and degree is bounded by the symmetrized kNN cut.
    */
  def knnLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val nodes = vecs(spark, dir).select(col("vec_id")).localCheckpoint(true)
    val dirEd = knnGraphScaled(spark, dir)
      .select(col("query_id").as("src"), col("vec_id").as("dst"))
    val edges = dirEd
      .unionByName(dirEd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = nodes.select(col("vec_id").as("lid"), col("vec_id").as("lbl"))
    for (_ <- 1 to LpRounds) {
      val votes = edges.join(labels, col("dst") === col("lid"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(expr(s"cnt * ${LpPack}L + (${LpPack - 1}L - lbl)")).as("pk"))
        .select(col("src"), expr(s"${LpPack - 1}L - (pk % ${LpPack}L)").as("nl"))
      labels = nodes.join(votes, col("vec_id") === col("src"), "left")
        .select(col("vec_id").as("lid"),
          coalesce(col("nl"), col("vec_id")).as("lbl"))
    }
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("comm_size"))
    labels.join(sizes, "lbl")
      .select(col("lid").as("vec_id"), col("lbl").as("community"),
        col("comm_size"))
  }

  def knnLabelPropSql: String = {
    def roundCte(t: Int): String =
      s"""lp$t AS MATERIALIZED (
         |  SELECT e.vec_id,
         |         COALESCE(${LpPack - 1} - (v.pk % ${LpPack}), e.vec_id) AS lbl
         |  FROM e LEFT JOIN (
         |    SELECT src, MAX(cnt * ${LpPack} + (${LpPack - 1} - lbl)) AS pk
         |    FROM (SELECT edges.src, p.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
         |          FROM edges JOIN lp${t - 1} p ON p.vec_id = edges.dst
         |          GROUP BY edges.src, p.lbl)
         |    GROUP BY src) v ON v.src = e.vec_id
         |)""".stripMargin
    s"""WITH e AS (
       |  $VecsCteSql
       |), dg AS MATERIALIZED (
       |  SELECT query_id AS src, vec_id AS dst FROM (
       |${knnGraphScaledSql}
       |  )
       |), edges AS MATERIALIZED (
       |  SELECT src, dst FROM dg
       |  UNION
       |  SELECT dst AS src, src AS dst FROM dg
       |), lp0 AS MATERIALIZED (
       |  SELECT vec_id, vec_id AS lbl FROM e
       |), ${(1 to LpRounds).map(roundCte).mkString(", ")}
       |SELECT l.vec_id, l.lbl AS community, s.comm_size
       |FROM lp$LpRounds l
       |JOIN (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS comm_size
       |      FROM lp$LpRounds GROUP BY lbl) s ON s.lbl = l.lbl
       |""".stripMargin
  }

  /** Delta-ingest split for [[incrementalIndex]]: vec_id ≡ [[DeltaRem]]
    * (mod [[DeltaMod]]) marks the 5% "today's ingest" slice. The residue
    * is chosen so the delta CONTAINS a quarter of the would-be pivot
    * centroids (vec_id ≡ 75 mod 100): the pre-existing index was built
    * before those vectors arrived, so its coarse cells are the BASE
    * pivots only — exactly the situation where incremental assignment
    * (no retrain) serves from a staler, coarser cell structure than a
    * rebuild would, which is what the recall audit is for. Queries
    * (vec_id % 50 = 0) and base centroids never fall in the delta.
    */
  private val DeltaMod = 20
  private val DeltaRem = 15

  /** `s_incremental_index`: incremental ANN index maintenance — the
    * daily-ingest operator that keeps an IVF index serving without a
    * retrain, and the audit that decides when the retrain is due. Delta
    * vectors ([[DeltaMod]]/[[DeltaRem]]) are assigned to the EXISTING
    * base cells (broadcast centroids, the same argmax as the build);
    * merged postings = base ∪ delta; queries are then served from the
    * merged index (probe [[NProbe]] base cells, rank by quantized
    * cosine) and audited per query against brute-force ground truth
    * over the FULL corpus ([[knnBrute]], the [[annRecall]] overlap
    * shape), alongside the scan cost `n_cands` — recall vs cost is the
    * retrain tradeoff. `retrain` flags queries whose recall@k fell
    * below 0.8 as an exact integer cross-multiplication.
    *
    * Scale shape: both assignment branches are shuffle-free map passes
    * against broadcast centroids (production ingests the DELTA branch
    * only — base postings load from the stored index; they are
    * recomputed here because entries are self-contained); the serve is
    * the [[knnIvfWithCentroids]] machinery (bucketed candidates, salted
    * top-k); the audit is three per-query hash aggregates. Nothing
    * scales with corpus² and nothing but centroids broadcasts.
    */
  def incrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val isDelta = col("vec_id") % DeltaMod === DeltaRem
    val baseCent = e.filter(col("vec_id") % CentroidMod === 0 && !isDelta)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    def assignOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(baseCent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    // the ingest dataflow: yesterday's postings ∪ today's delta, both
    // keyed to the SAME (base) cell set
    val postings = assignOf(e.filter(!isDelta))
      .unionByName(assignOf(e.filter(isDelta)))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val probes = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(baseCent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    val cands = probes.join(postings, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // consumed twice: scan-cost agg + scoring
    val nc = cands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands"))
    val scored = cands
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val served = saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val b = knnBrute(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val nm = served.groupBy(col("query_id")).agg(count(lit(1)).as("n_merged"))
    val ov = b.join(served, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov"))
    nb.join(nm, Seq("query_id"), "left").join(ov, Seq("query_id"), "left")
      .join(nc, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_merged"), lit(0L)).as("n_merged"),
        coalesce(col("ov"), lit(0L)).as("n_overlap"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"))
      .withColumn("recall_bp", expr("n_overlap * 10000 div n_brute"))
      .withColumn("retrain", expr("CAST(n_overlap * 5 < 4 * n_brute AS INT)"))
  }

  def incrementalIndexSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), bcent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e
       |  WHERE vec_id % $CentroidMod = 0 AND vec_id % $DeltaMod <> $DeltaRem
       |), asims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, bcent
       |), postings AS (
       |  SELECT vec_id, cid FROM asims WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM asims WHERE crk <= $NProbe AND vec_id % $QueryMod = 0
       |), cands AS (
       |  SELECT query_id, po.vec_id FROM probes pr JOIN postings po ON pr.cid = po.cid
       |  WHERE po.vec_id <> query_id
       |), nc AS (
       |  SELECT query_id, COUNT(*) AS n_cands FROM cands GROUP BY query_id
       |), scored AS (
       |  SELECT query_id, c.vec_id,
       |         ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) AS cos6
       |  FROM cands c JOIN e qe ON qe.vec_id = query_id JOIN e ce ON ce.vec_id = c.vec_id
       |), served AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos6 DESC NULLS LAST, vec_id ASC) AS rk
       |    FROM scored
       |  ) WHERE rk <= $TopK
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |${knnBruteSql}
       |  )
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), nm AS (
       |  SELECT query_id, COUNT(*) AS n_merged FROM served GROUP BY query_id
       |), ov AS (
       |  SELECT b.query_id, COUNT(*) AS ov
       |  FROM b JOIN served s ON b.query_id = s.query_id AND b.vec_id = s.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(nm.n_merged, 0) AS n_merged,
       |       COALESCE(ov.ov, 0) AS n_overlap,
       |       COALESCE(nc.n_cands, 0) AS n_cands,
       |       COALESCE(ov.ov, 0) * 10000 // nb.n_brute AS recall_bp,
       |       CAST(CASE WHEN COALESCE(ov.ov, 0) * 5 < 4 * nb.n_brute THEN 1 ELSE 0 END AS INT) AS retrain
       |FROM nb LEFT JOIN nm ON nb.query_id = nm.query_id
       |        LEFT JOIN ov ON nb.query_id = ov.query_id
       |        LEFT JOIN nc ON nb.query_id = nc.query_id
       |""".stripMargin

  /** Delete slice for [[indexDelete]]: vec_id ≡ [[DelRem]] (mod
    * [[DelMod]]) marks the 5% "today's deletes" batch. The residue is
    * chosen (CRT against the other fixture moduli) so queries
    * (≡ 0 mod 50 → mod-20 residues {0, 10}) and pivot centroids
    * (≡ 0 mod 25 → {0, 5, 10, 15}) are never deleted: deleting a pivot
    * VECTOR removes its posting, not its cell — cells are index
    * structure and survive until a retrain, which is exactly the
    * staleness the audit measures.
    */
  private val DelMod = 20
  private[graft] val DelRem = 7

  /** Tombstone set of fixture `dir` (the delete batch): exposed for the
    * persisted-compaction job and its spec. */
  private[graft] def tombstones(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).filter(col("vec_id") % DelMod === DelRem).select(col("vec_id"))

  /** `s_index_delete`: ANN index DELETION — the delete-heavy twin of
    * [[incrementalIndex]]'s retrain-due rule. A delete batch
    * ([[DelMod]]/[[DelRem]]) lands as TOMBSTONES: postings are untouched,
    * the serve path anti-joins candidates against the tombstone set so a
    * deleted vector can never be returned — but its posting rows are
    * still SCANNED (`n_cands_tomb`), which is the cost leak compaction
    * exists to reclaim (`n_cands_live` = the post-compaction scan;
    * `stale_scanned` = the per-query waste the compaction scheduler
    * watches). Served results are audited per query against brute-force
    * ground truth over the LIVE corpus (deletes excluded — the truth a
    * user can still retrieve), and `retrain` flags recall@k < 0.8 exactly
    * as the ingest twin does.
    *
    * Scale shape: the tombstone anti-join keys on vec_id — the SAME key
    * as the candidate→embedding scoring join, so it rides that shuffle
    * rather than adding one (and the tombstone side is delta-sized, a
    * day's deletes, not the corpus). Assignment/probe branches are the
    * broadcast-centroid map passes of the build; the audit is the same
    * three hash aggregates as the ingest entry. The persisted-index twin
    * of the compaction (anti-join + re-bucketed postings rewrite,
    * preserving the Exchange-free serve) is [[compactIvfIndex]],
    * spec-pinned equal to the tombstone-filtered serve.
    */
  def indexDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val tomb = tombstones(spark, dir)
    val cent = pivotCentroids(e)
    def assignOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val postings = assignOf(e) // the pre-delete index
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val probes = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    val cands = probes.join(postings, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // consumed three times: two cost aggs + serve
    val nct = cands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_tomb"))
    val live = cands.join(tomb, Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    val ncl = live.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_live"))
    val scored = live
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val served = saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    // ground truth over the LIVE corpus: what a user can still retrieve
    val cLive = e.filter(col("vec_id") % DelMod =!= DelRem)
      .select(col("vec_id"), col("emb").as("cemb"))
    val bscored = cLive.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val b = saltedTopK(bscored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val ns = served.groupBy(col("query_id")).agg(count(lit(1)).as("n_served"))
    val ov = b.join(served, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    nb.join(ns, Seq("query_id"), "left").join(ov, Seq("query_id"), "left")
      .join(nct, Seq("query_id"), "left").join(ncl, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_served"), lit(0L)).as("n_served"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        coalesce(col("n_cands_tomb"), lit(0L)).as("n_cands_tomb"),
        coalesce(col("n_cands_live"), lit(0L)).as("n_cands_live"))
      .withColumn("stale_scanned", expr("n_cands_tomb - n_cands_live"))
      .withColumn("recall_bp", expr("n_overlap * 10000 div n_brute"))
      .withColumn("retrain", expr("CAST(n_overlap * 5 < 4 * n_brute AS INT)"))
  }

  def indexDeleteSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), asims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), postings AS (
       |  SELECT vec_id, cid FROM asims WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id AS query_id, cid FROM asims WHERE crk <= $NProbe AND vec_id % $QueryMod = 0
       |), cands AS (
       |  SELECT query_id, po.vec_id FROM probes pr JOIN postings po ON pr.cid = po.cid
       |  WHERE po.vec_id <> query_id
       |), nct AS (
       |  SELECT query_id, COUNT(*) AS n_cands_tomb FROM cands GROUP BY query_id
       |), live AS (
       |  SELECT query_id, vec_id FROM cands WHERE vec_id % $DelMod <> $DelRem
       |), ncl AS (
       |  SELECT query_id, COUNT(*) AS n_cands_live FROM live GROUP BY query_id
       |), served AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, l.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) DESC NULLS LAST,
       |                                       l.vec_id ASC) AS rk
       |    FROM live l JOIN e qe ON qe.vec_id = l.query_id JOIN e ce ON ce.vec_id = l.vec_id
       |  ) WHERE rk <= $TopK
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, e2.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.emb, e2.emb), 6) DESC NULLS LAST,
       |                                       e2.vec_id ASC) AS rk
       |    FROM e q, e e2
       |    WHERE q.vec_id % $QueryMod = 0 AND e2.vec_id <> q.vec_id
       |      AND e2.vec_id % $DelMod <> $DelRem
       |  ) WHERE rk <= $TopK
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), ns AS (
       |  SELECT query_id, COUNT(*) AS n_served FROM served GROUP BY query_id
       |), ov AS (
       |  SELECT b.query_id, COUNT(*) AS ov
       |  FROM b JOIN served s ON b.query_id = s.query_id AND b.vec_id = s.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(ns.n_served, 0) AS n_served,
       |       COALESCE(ov.ov, 0) AS n_overlap,
       |       COALESCE(nct.n_cands_tomb, 0) AS n_cands_tomb,
       |       COALESCE(ncl.n_cands_live, 0) AS n_cands_live,
       |       COALESCE(nct.n_cands_tomb, 0) - COALESCE(ncl.n_cands_live, 0) AS stale_scanned,
       |       COALESCE(ov.ov, 0) * 10000 // nb.n_brute AS recall_bp,
       |       CAST(CASE WHEN COALESCE(ov.ov, 0) * 5 < 4 * nb.n_brute THEN 1 ELSE 0 END AS INT) AS retrain
       |FROM nb LEFT JOIN ns ON nb.query_id = ns.query_id
       |        LEFT JOIN ov ON nb.query_id = ov.query_id
       |        LEFT JOIN nct ON nb.query_id = nct.query_id
       |        LEFT JOIN ncl ON nb.query_id = ncl.query_id
       |""".stripMargin

  /** Catalog table names for the persisted IVF index of fixture `dir` —
    * one index per fixture so multi-SF runs in one session never serve
    * stale postings. */
  private[graft] def ivfIndexTables(dir: String): (String, String) = {
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    (s"graft_ivf_cent_$key", s"graft_ivf_post_$key")
  }

  /** Persisted-index BUILD (the reindex job production runs once per
    * corpus version, NOT per query batch): materializes the pivot-cell
    * IVF index as two tables — centroids (cid, cemb) and IVF-Flat
    * postings (cid, vec_id, emb) bucketed AND sorted by cell — under
    * target/graft_index. The postings write pays its one shuffle here so
    * every subsequent serve (and any postings-side merge, e.g. the
    * incremental-ingest union) joins on cid without reshuffling the
    * corpus: the "pay one shuffle at write time" lever ScalePlanSpec
    * proves for the relational tables, applied to the ANN index.
    * Assignment is the same broadcast-centroid argmax as
    * [[ivfCandidates]] (its SortAggregate lives in the build job, which
    * is OUTSIDE every serve plan — the point of the split).
    */
  private[graft] def buildIvfIndex(spark: SparkSession, dir: String): Unit = {
    val (centT, postT) = ivfIndexTables(dir)
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    val assign = e.select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    cent.write.mode("overwrite")
      .option("path", s"target/graft_index/${dir.replaceAll("[^A-Za-z0-9]", "_")}/centroids")
      .saveAsTable(centT)
    assign.join(e.select(col("vec_id"), col("emb")), "vec_id")
      .select(col("cid"), col("vec_id"), col("emb"))
      .write.bucketBy(8, "cid").sortBy("cid", "vec_id")
      .mode("overwrite")
      .option("path", s"target/graft_index/${dir.replaceAll("[^A-Za-z0-9]", "_")}/postings")
      .saveAsTable(postT)
  }

  /** Persisted-index COMPACTION (the reclaim job a delete-heavy serving
    * deployment schedules once `stale_scanned` justifies it — see
    * [[indexDelete]]): anti-join the stored postings against the
    * tombstone set and write a NEW index version with the SAME
    * bucketBy/sortBy layout, so the Exchange-free bucketed serve is
    * preserved across the rewrite (a compaction that silently lost the
    * bucketing would re-shuffle the corpus on every subsequent serve —
    * IndexDeleteSpec pins both the layout and serve-result equality with
    * the tombstone-filtered path). Versioned table, not in-place: readers
    * of the old version are never broken mid-serve; the swap is a
    * catalog pointer flip. Returns the compacted postings table name.
    */
  private[graft] def compactIvfIndex(spark: SparkSession, dir: String): String = {
    val (_, postT) = ivfIndexTables(dir)
    val compactT = s"${postT}_compact"
    spark.table(postT)
      .join(tombstones(spark, dir), Seq("vec_id"), "left_anti")
      .select(col("cid"), col("vec_id"), col("emb"))
      .write.bucketBy(8, "cid").sortBy("cid", "vec_id")
      .mode("overwrite")
      .option("path", s"target/graft_index/${dir.replaceAll("[^A-Za-z0-9]", "_")}/postings_compact")
      .saveAsTable(compactT)
    compactT
  }

  /** The SERVE-side scored candidates (query_id, vec_id, cos6), reading
    * ONLY the persisted index tables plus the query batch: broadcast the
    * centroid table, rank a query's NProbe cells (per-BATCH work, Q×K
    * rows), then probe the bucketed postings with a broadcast join — the
    * corpus-sized branch is a single bucketed scan with NO Exchange and
    * no assignment aggregate (ServeIndexSpec pins exactly that).
    * Split out from [[knnServe]] so the spec can inspect the pre-top-k
    * plan without the salted-rank windows above it.
    */
  private[graft] def knnServeScored(spark: SparkSession, dir: String): DataFrame =
    knnServeScoredOn(spark, dir, ivfIndexTables(dir)._2)

  /** [[knnServeScored]] against an explicit postings table version —
    * the hook the compaction swap uses (serve the compacted index with
    * the IDENTICAL plan shape; IndexDeleteSpec pins result equality with
    * the tombstone-filtered serve over the original version). */
  private[graft] def knnServeScoredOn(spark: SparkSession, dir: String,
                                      postT: String): DataFrame = {
    val (centT, _) = ivfIndexTables(dir)
    val cent = spark.table(centT)
    val q = vecs(spark, dir).filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("qemb"), col("cemb")))
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("query_id"), explode(col("top.cid")).as("cid"))
    spark.table(postT)
      .join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("emb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
  }

  /** `s_knn_serve`: the persisted-index serving split (r10 VERDICT Next
    * #4). Every other s_knn_* entry rebuilds its index in-query because
    * entries are self-contained; production builds ONCE and serves many
    * batches. This entry separates the phases: [[buildIvfIndex]] runs as
    * a side-effect reindex job, then the returned dataframe is pure
    * serving over the stored tables. The index is exactly [[knnIvf]]'s
    * pivot-cell structure, so the oracle is knnIvfSql verbatim — serving
    * from the persisted index must be indistinguishable from the
    * in-query build, which is the correctness contract an index swap
    * needs.
    *
    * At 1 B vectors: the build amortizes over every batch served from
    * it; a serve touches the centroid table (K rows, broadcast), the
    * query batch (Q rows), and ~NProbe/K' of the postings by bucket —
    * never the corpus-wide assignment, which is the part whose cost
    * forced every earlier entry to bound its fixture.
    */
  def knnServe(spark: SparkSession, dir: String): DataFrame = {
    buildIvfIndex(spark, dir)
    saltedTopK(knnServeScored(spark, dir),
        col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"))
  }

  /** Beam width and fixed expansion-round count for [[knnBeam]]. Fixed
    * rounds (not convergence-tested) for the same reason as [[PrRounds]]:
    * a fixed unroll keeps the oracle a finite CTE chain. The r12 values
    * were grid-searched on the SCALED-build substrate (the r11 0.73
    * recall was measured on the pinned-cell graph, whose 0.92 out-edge
    * quality at the query subset is itself a fixture artifact — queries
    * (id%50=0) ARE pivot centroids (id%25=0) there, so each query's own
    * cell contains its neighbors; the production-shape graph has no such
    * gift and needs a wider walk): rounds 12 × width 12 reaches
    * recall@5 = 0.93/0.98/0.98 at sf0.1/0.01/0.001 while visiting < 40%
    * of even the BENCH corpus — and a fixed per-query vertex budget
    * regardless of N. */
  private val BeamRounds = 12
  /** r13 re-grid (numpy twin of the walk, validated by reproducing the
    * r12 0.925/0.98/0.98 recalls exactly): the sf0.1 recall gap was NOT
    * missing long-range edges — BFS showed every true top-5 reachable
    * from the seeds — but WALK-WIDTH diversion, and the RobustPrune
    * α-grid (1.05–2.0 over a k=24 pool) moved recall ≤ +0.015 at equal
    * cost while width did this: 12 → 0.925, 16 → 0.965, 20 → 0.975,
    * 24 → 0.985 at sf0.1 (1.000 at sf0.01/0.001), all at the SAME 12
    * rounds — and rounds, not width, are the wall-clock driver (one
    * distributed action per round). */
  private val BeamWidth = 24

  /** Entry-point diversity for [[knnBeam]]: the walk seeds at the query's
    * [[SeedN]] best pivot vertices (by quantized cosine). r11 named entry
    * diversity as a recall lever; the r12 grid confirms 8 diverse seeds
    * beat 3 (the failure mode being the whole beam descending into one
    * entry cell while the true neighbors sit behind a different pivot). */
  private[graft] val SeedN = 12

  /** Per-vertex directed cut of the NAVIGATION build ([[buildNavIndex]]
    * runs the [[knnGraphScaledAt]] machinery at this k): GraphK (5) is
    * the DATA artifact's cut — the dedup/diffusion consumers want the
    * tight kNN; navigation wants fan-out (DiskANN's R ≫ k), and the
    * extra edges reuse the same candidate pass, so they are free at
    * build time. */
  private[graft] val NavGraphK = 8

  /** Navigation-graph degree: the symmetrized [[NavGraphK]]-cut edge
    * list is re-cut to the [[NavDegree]] best neighbors per vertex
    * (quantized-cos order). 12 keeps per-hop work bounded at
    * BeamWidth·NavDegree while lifting the reachability ceiling (measured
    * grid: degree 8 → 0.67-0.73, degree 12 → ≥ 0.87 at sf0.1 across round
    * counts; BASELINE.md §Round-12: beam-search serving split). */
  private[graft] val NavDegree = 12

  /** Partition count of the persisted navigation index ([[buildNavIndex]]):
    * the edge table is laid out by `sb = src % navParts`, so a beam hop
    * reads only the partitions its frontier vertices live in
    * ([[Sizing.navParts]] of the corpus size). */
  private def navParts(spark: SparkSession, dir: String): Long =
    Sizing.navParts(Tables.tableRows(spark, dir, "embeddings"))

  /** Catalog table name of the persisted navigation index for fixture
    * `dir` (same per-fixture keying as [[ivfIndexTables]]). */
  private def navIndexTable(dir: String): String =
    s"graft_beam_nav_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** Navigation-index BUILD (the reindex job, run once per corpus version
    * — the [[buildIvfIndex]] split applied to the graph-ANN layout):
    * symmetrize the [[knnGraphScaled]] kNN edges, re-cut to [[NavDegree]]
    * per vertex, attach each neighbor's EMBEDDING to the edge row, and
    * persist partitioned by `sb = src % navParts`. Storing the neighbor
    * vector WITH the adjacency row is the DiskANN node layout: a hop then
    * reads adjacency + scoring payload in ONE point lookup, and the
    * serve never touches the corpus embedding table at all (the r11
    * VERDICT finding: the previous in-memory design re-scanned the full
    * corpus per round — 8 × corpus bytes per query batch at 1 B vectors).
    * The payload multiplies index size by ~NavDegree — the standard
    * graph-ANN space-for-IO trade, paid once at build time.
    */
  private[graft] def buildNavIndex(spark: SparkSession, dir: String): Unit = {
    // checkpoint the directed edge list ONCE: the symmetrize union below
    // consumes it twice (forward + swapped), and without the cut the
    // whole N·NProbe·√N candidate pass re-executes for the second branch
    // (r16 measured: build 5.6 → ~3 s at sf0.1; at cluster scale the
    // saved pass is the expensive half of the reindex job)
    val ed0 = knnGraphScaledAt(spark, dir, NavGraphK)
      .select(col("query_id").as("src"), col("vec_id").as("dst"), col("cos6"))
      .localCheckpoint(true)
    val wSym = Window.partitionBy(col("src"))
      .orderBy(col("cos6").desc_nulls_last, col("dst").asc)
    val edges = ed0
      .unionByName(ed0.select(col("dst").as("src"), col("src").as("dst"), col("cos6")))
      .groupBy(col("src"), col("dst")).agg(max(col("cos6")).as("cos6"))
      .withColumn("erk", row_number().over(wSym)).filter(col("erk") <= NavDegree)
      .select(col("src"), col("dst"))
    edges
      .join(vecs(spark, dir).select(col("vec_id").as("dst"), col("emb").as("demb")), "dst")
      .select(pmod(col("src"), lit(navParts(spark, dir))).cast("int").as("sb"),
        col("src"), col("dst"), col("demb"))
      .repartition(col("sb"))
      .write.partitionBy("sb").mode("overwrite")
      .option("path", s"target/graft_index/${dir.replaceAll("[^A-Za-z0-9]", "_")}/nav")
      .saveAsTable(navIndexTable(dir))
  }

  /** One beam hop against the PERSISTED navigation index: score every
    * neighbor of the frontier vertices. The frontier lives DRIVER-SIDE —
    * it is the navigation cursor, Q·BeamWidth (query_id, vertex) pairs by
    * construction, independent of N (the same routing state a DiskANN
    * query loop holds) — so its partition residues are pushed as a
    * LITERAL partition filter (the scan prunes to exactly the partitions
    * the frontier lives in; BeamSearchSpec pins the PartitionFilters)
    * and the frontier itself joins as a broadcast local relation: the
    * point-lookup read pattern, not a per-round corpus scan, with no
    * distributed recomputation of the cursor anywhere.
    */
  private[graft] def beamRoundScored(spark: SparkSession, dir: String,
                                     frontierRows: Seq[(Long, Long)],
                                     q: DataFrame): DataFrame = {
    import spark.implicits._
    val resid = frontierRows.map(_._2 % navParts(spark, dir)).distinct
    val frontier = frontierRows.toDF("query_id", "bsrc")
    spark.table(navIndexTable(dir))
      .filter(col("sb").isin(resid: _*))
      .join(broadcast(frontier), col("src") === col("bsrc"))
      .filter(col("dst") =!= col("query_id"))
      .select(col("query_id"), col("dst").as("vec_id"), col("demb"))
      // a (query, vertex) reachable from several frontier vertices is
      // scored once per path here (multiplicity ≤ BeamWidth, identical
      // deterministic value every time) and deduped by the visited set's
      // MAX(cos6) hash agg — dropping duplicates BEFORE scoring would
      // need a first(demb) agg on the array payload, which plans as a
      // SortAggregate + Exchange inside the hop; this way the hop is
      // pruned-scan + two broadcast joins, completely shuffle-free
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qemb"), col("demb")), 6).as("cos6"))
  }

  /** `s_knn_beam`: best-first beam search over the persisted navigation
    * index — the graph-navigation ANN serving path (the DiskANN/HNSW
    * family's query-time shape, minus the hierarchy). [[buildNavIndex]]
    * runs as the side-effect reindex job (symmetrized [[knnGraphScaled]]
    * edges re-cut to [[NavDegree]], neighbor embeddings co-located with
    * the adjacency rows); the serve then seeds at the query's [[SeedN]]
    * best pivot vertices and each round expands the [[BeamWidth]] best
    * visited-but-unexpanded vertices via [[beamRoundScored]] — point
    * lookups into the frontier's index partitions, NEVER a corpus scan
    * (the r11 redesign: the previous flavor probed the full embedding
    * table every round, and its 3-seed/degree-5 graph held recall@5 at
    * 0.73 at sf0.1). After [[BeamRounds]] rounds, emit the TopK of
    * everything visited plus `n_visited`, the per-query scan cost the
    * recall-vs-cost tradeoff is priced in. Two design points measured as
    * load-bearing (BASELINE.md §Round-11 recordings), both kept: the
    * symmetrize-and-recut (greedy walks on the raw directed graph stall in
    * the entry cell — recall 0.18), and the frontier being visited∖expanded (re-expanding
    * already-scored neighborhoods wastes every round after the first —
    * recall 0.30 vs 0.88 at sf0.01). Complements [[knnServe]]: that entry
    * serves from persisted IVF cells (scan a probed bucket), this one
    * navigates a persisted adjacency layout (read ~frontier partitions
    * per hop) — the two production index layouts.
    *
    * Determinism contract: every rank (entry-point election, beam cut,
    * final TopK) orders by the quantized `ROUND(cos, 6)` with the
    * vec_id tie-break; the visited set is deduped by (query_id,
    * vec_id) with MAX(cos6) (a no-op on values — both engines score a
    * pair identically every time it reappears); the query vertex
    * itself is never admitted. The oracle unrolls the rounds as
    * MATERIALIZED CTEs over the [[knnGraphScaledSql]] edge list — the
    * kmeans/PageRank iterative-oracle pattern.
    *
    * Scale shape: the index builds once (N^1.5 candidate volume — the
    * √N-cell build rule, measured d2 exp 1.54); a serve touches
    * ~SeedN + BeamRounds·BeamWidth·NavDegree vertex records per query —
    * independent of N, the property that makes graph ANN the
    * 1 B-vector serving choice — read via partition-pruned point
    * lookups. Per round there is exactly ONE distributed action: the
    * frontier-cut collect, whose upstream executes the hop, the
    * visited-set dedup (the only shuffle, Q-proportional) and the lazy
    * visited checkpoint in the same job. The navigation cursor
    * (frontier + expanded set, ≤ Q·BeamWidth·rounds pairs, independent
    * of N) lives driver-side — the DiskANN query-loop shape; the
    * expanded-set anti-join and the frontier join are broadcast local
    * relations, so no round recomputes routing state distributively.
    * The frontier/final cuts use a PLAIN per-query window, not the
    * salted two-phase: the visited set is construction-bounded
    * (≤ 1 + SeedN·(1+NavDegree) + (rounds−1)·BeamWidth·NavDegree rows
    * per query at ANY corpus size), so no reducer can ever see more.
    */
  def knnBeam(spark: SparkSession, dir: String): DataFrame = {
    buildNavIndex(spark, dir)
    val q = vecs(spark, dir).filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .localCheckpoint(true)
    // materialize the seed election too: round 1's hop then probes ONLY
    // the nav index, like every later round (the election reads the
    // query batch + pivot table once per batch — serving-side work)
    var visited = beamSeeds(spark, dir).localCheckpoint(true)
    val wCut = Window.partitionBy(col("query_id"))
      .orderBy(col("cos6").desc_nulls_last, col("vec_id").asc)
    var frontierRows: Seq[(Long, Long)] = visited
      .select(col("query_id"), col("vec_id"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val expanded = scala.collection.mutable.Set[(Long, Long)](frontierRows: _*)
    var t = 1
    while (t <= BeamRounds && frontierRows.nonEmpty) {
      val scored = beamRoundScored(spark, dir, frontierRows, q)
      // r17 probe, REJECTED: sharing one query_id-keyed exchange between
      // the dedup agg and the cut window via repartition(query_id) +
      // persist() (an InMemoryRelation preserves outputPartitioning where
      // the checkpoint's LogicalRDD does not). Measured at sf0.1: the
      // entry DOUBLED (8.7-9.2 → 18.5-22 s) — cached plans are excluded
      // from AQE (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
      // default), so every round frame materialized at the full
      // shuffle-partition count in the columnar cache format, and the
      // per-round stages ran 32 tasks over kB frames plus the
      // encode/decode cost. The lazy localCheckpoint stays.
      visited = visited.unionByName(scored)
        .groupBy(col("query_id"), col("vec_id")).agg(max(col("cos6")).as("cos6"))
        .localCheckpoint(false)
      if (t < BeamRounds) {
        import spark.implicits._
        val expDf = expanded.toSeq.toDF("query_id", "vec_id")
        frontierRows = visited
          .join(broadcast(expDf), Seq("query_id", "vec_id"), "left_anti")
          .withColumn("rk", row_number().over(wCut)).filter(col("rk") <= BeamWidth)
          .select(col("query_id"), col("vec_id"))
          .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
        expanded ++= frontierRows
      } else {
        visited.count() // materialize the final round's lazy checkpoint
      }
      t += 1
    }
    val nv = visited.groupBy(col("query_id")).agg(count(lit(1)).as("n_visited"))
    visited.withColumn("rk", row_number().over(wCut)).filter(col("rk") <= TopK)
      .join(broadcast(nv), "query_id")
      .select(col("query_id"), col("vec_id"), col("cos6"), col("rk"), col("n_visited"))
  }

  /** The [[knnBeam]] entry-point election: the [[SeedN]] best pivot
    * vertices per query by quantized cosine. */
  private[graft] def beamSeeds(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("emb"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val seedScored = q.crossJoin(broadcast(pivotCentroids(e)))
      .filter(col("cid") =!= col("query_id"))
      .select(col("query_id"), col("cid").as("vec_id"),
        round(cosine(col("qemb"), col("cemb")), 6).as("cos6"))
    saltedTopN(seedScored, SeedN, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id"), col("cos6"))
  }

  def knnBeamSql: String = {
    def roundCtes(t: Int): String = {
      val expand =
        s"""cand$t AS (
           |  SELECT DISTINCT b.query_id, ed.dst AS vec_id
           |  FROM beam${t - 1} b JOIN edges ed ON ed.src = b.vec_id
           |  WHERE ed.dst <> b.query_id
           |), scored$t AS (
           |  SELECT c.query_id, c.vec_id,
           |         ROUND(list_cosine_similarity(q.qemb, e.emb), 6) AS cos6
           |  FROM cand$t c JOIN q USING (query_id) JOIN e ON e.vec_id = c.vec_id
           |), visited$t AS MATERIALIZED (
           |  SELECT query_id, vec_id, MAX(cos6) AS cos6
           |  FROM (SELECT * FROM visited${t - 1} UNION ALL SELECT * FROM scored$t)
           |  GROUP BY query_id, vec_id
           |)""".stripMargin
      if (t == BeamRounds) expand
      else expand +
        s""", beam$t AS (
           |  SELECT query_id, vec_id, cos6 FROM visited$t v
           |  WHERE NOT EXISTS (SELECT 1 FROM exp${t - 1} x
           |          WHERE x.query_id = v.query_id AND x.vec_id = v.vec_id)
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
           |            ORDER BY cos6 DESC NULLS LAST, vec_id ASC) <= $BeamWidth
           |), exp$t AS (
           |  SELECT query_id, vec_id FROM exp${t - 1}
           |  UNION SELECT query_id, vec_id FROM beam$t
           |)""".stripMargin
    }
    s"""WITH e AS (
       |  $VecsCteSql
       |), ed0 AS MATERIALIZED (
       |  SELECT query_id AS src, vec_id AS dst, cos6 FROM (
       |${knnGraphScaledSqlAt(NavGraphK)}
       |  )
       |), edsym AS (
       |  SELECT src, dst, MAX(cos6) AS cos6 FROM (
       |    SELECT src, dst, cos6 FROM ed0
       |    UNION ALL SELECT dst AS src, src AS dst, cos6 FROM ed0)
       |  GROUP BY src, dst
       |), edges AS MATERIALIZED (
       |  SELECT src, dst FROM edsym
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY src
       |            ORDER BY cos6 DESC NULLS LAST, dst ASC) <= $NavDegree
       |), q AS (
       |  SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id % $QueryMod = 0
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), visited0 AS MATERIALIZED (
       |  SELECT query_id, cid AS vec_id,
       |         ROUND(list_cosine_similarity(qemb, cemb), 6) AS cos6
       |  FROM q, cent WHERE cid <> query_id
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY ROUND(list_cosine_similarity(qemb, cemb), 6) DESC NULLS LAST, cid ASC) <= $SeedN
       |), beam0 AS (SELECT * FROM visited0),
       |exp0 AS (SELECT query_id, vec_id FROM visited0),
       |${(1 to BeamRounds).map(roundCtes).mkString(",\n")},
       |nv AS (
       |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_visited
       |  FROM visited$BeamRounds GROUP BY query_id
       |)
       |SELECT query_id, vec_id, cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY cos6 DESC NULLS LAST, vec_id ASC) AS rk,
       |       n_visited
       |FROM visited$BeamRounds JOIN nv USING (query_id)
       |QUALIFY rk <= $TopK
       |""".stripMargin
  }

  /** Hard-negative mining for contrastive training: per anchor (the query
    * subset), the TopK most-similar vectors with a DIFFERENT label — the
    * negatives a contrastive loss learns most from. Candidate generation
    * is the IVF probe (cell-bounded, the scale path), so the label filter
    * runs over ~NProbe cells per anchor, not the corpus; ranking is the
    * standard salted two-phase top-k on the quantized cosine.
    *
    * At 100 TB this is the exact shape of a training-pair build over a
    * labeled corpus: broadcast anchors, one narrow pass over bounded
    * candidate cells, per-anchor bounded output.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val all = e.select(col("vec_id"), col("emb").as("cemb"),
                       col("label").as("neg_label"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
              col("label").as("anchor_label"))
    val scored = ivfCandidates(e)
      .join(all, "vec_id")
      .join(broadcast(q), "query_id")
      .filter(col("neg_label") =!= col("anchor_label"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
    saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("anchor_label"), col("vec_id"),
              col("neg_label"), col("cos6"), col("rk"))
  }

  def hardNegativesSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), scored AS (
       |  SELECT c.query_id, ql.label AS anchor_label, c.vec_id,
       |         cl.label AS neg_label,
       |         list_cosine_similarity(qe.emb, ce.emb) AS cos
       |  FROM cands c
       |  JOIN e qe ON qe.vec_id = c.query_id JOIN e ce ON ce.vec_id = c.vec_id
       |  JOIN lab ql ON ql.vec_id = c.query_id JOIN lab cl ON cl.vec_id = c.vec_id
       |  WHERE cl.label <> ql.label
       |)
       |SELECT query_id, anchor_label, vec_id, neg_label,
       |       ROUND(cos, 6) AS cos6,
       |       ROW_NUMBER() OVER (PARTITION BY query_id
       |         ORDER BY ROUND(cos, 6) DESC NULLS LAST, vec_id ASC) AS rk
       |FROM scored QUALIFY rk <= $TopK
       |""".stripMargin

  /** Semi-hard triplet mining (anchor, positive, negative) over the IVF
    * candidate set: per anchor, the hardest POSITIVE is the most-similar
    * same-label candidate; the SEMI-HARD negative is the most-similar
    * different-label candidate that is still farther than the positive
    * (neg_cos < pos_cos) — inside-the-margin negatives are skipped, the
    * selection rule that keeps triplet training stable (anchors lacking
    * either side drop out). Both selections are per-anchor argmaxes, so
    * they plan as hash aggregates with map-side partials; the positives
    * table is anchor-sized and broadcast back at the negatives.
    */
  def tripletMine(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val all = e.select(col("vec_id"), col("emb").as("cemb"),
                       col("label").as("cand_label"))
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
              col("label").as("anchor_label"))
    val scored = ivfCandidates(e)
      .join(all, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("anchor_label"), col("vec_id"),
              col("cand_label"), col("cos6"))
    // hardest positive per anchor: argmax cos6 (ties → lowest vec_id)
    // over same-label candidates — a hash agg, anchor-sized output
    val pos = scored.filter(col("cand_label") === col("anchor_label"))
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("vec_id").as("pos_id"), col("cos6").as("pos_cos6")),
                  struct(col("cos6"), negate(col("vec_id")))).as("p"))
      .select(col("query_id"), col("p.pos_id"), col("p.pos_cos6"))
    scored.filter(col("cand_label") =!= col("anchor_label"))
      .join(broadcast(pos), "query_id")
      .filter(col("cos6") < col("pos_cos6"))
      .groupBy(col("query_id"), col("anchor_label"),
               col("pos_id"), col("pos_cos6"))
      .agg(max_by(struct(col("vec_id").as("neg_id"), col("cos6").as("neg_cos6")),
                  struct(col("cos6"), negate(col("vec_id")))).as("n"))
      .select(col("query_id"), col("anchor_label"), col("pos_id"),
              col("pos_cos6"), col("n.neg_id"), col("n.neg_cos6"),
              (col("pos_cos6") - col("n.neg_cos6")).as("margin"))
  }

  def tripletMineSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), scored AS (
       |  SELECT c.query_id, ql.label AS anchor_label, c.vec_id,
       |         cl.label AS cand_label,
       |         ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) AS cos6
       |  FROM cands c
       |  JOIN e qe ON qe.vec_id = c.query_id JOIN e ce ON ce.vec_id = c.vec_id
       |  JOIN lab ql ON ql.vec_id = c.query_id JOIN lab cl ON cl.vec_id = c.vec_id
       |), pos AS (
       |  SELECT query_id, vec_id AS pos_id, cos6 AS pos_cos6
       |  FROM scored WHERE cand_label = anchor_label
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cos6 DESC NULLS LAST, vec_id ASC) = 1
       |)
       |SELECT s.query_id, s.anchor_label, p.pos_id, p.pos_cos6,
       |       s.vec_id AS neg_id, s.cos6 AS neg_cos6,
       |       p.pos_cos6 - s.cos6 AS margin
       |FROM scored s JOIN pos p ON s.query_id = p.query_id
       |WHERE s.cand_label <> s.anchor_label AND s.cos6 < p.pos_cos6
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY s.query_id
       |          ORDER BY s.cos6 DESC NULLS LAST, s.vec_id ASC) = 1
       |""".stripMargin

  /** Probe width for the pre-filter serve path of [[knnFiltered]]:
    * [[NProbe]] ÷ filter selectivity (the fixture's label cohorts are
    * 1/|labels| = 0.1 of the corpus), i.e. the width at which the
    * filtered serve's scored-row cost exactly equals the unfiltered
    * serve's — selectivity s × (W/K cells) = NProbe/K when W =
    * NProbe/s. The widened probe is the whole point: a fixed [[NProbe]]
    * probe finds the cells nearest the QUERY, but cohort-restricted
    * truth lives wherever the cohort does — measured pre-filter recall
    * at the default width was 0.58 (sf0.01) / 0.57 at a 12-cell
    * half-measure (sf0.1, 80 cells) vs 0.92-0.96 unfiltered: the
    * classic filtered-search recall hole every production vector store
    * closes by scaling probe width with filter selectivity. At small
    * fixtures (≤30 cells) the slice saturates to all cells and the
    * filtered serve degenerates to an exact cohort scan — which is the
    * honest behavior: below NProbe/s cells an IVF index cannot beat the
    * filter's own selectivity.
    */
  private val FilteredNProbe = 30

  /** `s_knn_filtered`: metadata-FILTERED ANN — the vector-DB query shape
    * "top-k neighbors WHERE label = X" (RAG corpus filters, tenant
    * isolation, language/source restriction). Audits THREE serving
    * strategies against filtered brute-force truth:
    *
    *   - POST-filter: the plain unfiltered top-[[TopK]] at the default
    *     [[NProbe]] is computed first, then the predicate drops
    *     non-matching hits — the cheap strategy every naive integration
    *     ships, which returns < k results and loses recall as the filter
    *     grows selective (a 1/10 label cohort keeps ~1/10 of the
    *     unfiltered top-k, REGARDLESS of probe width);
    *   - PRE-filter: the predicate is applied to the probed candidates
    *     BEFORE ranking, with the probe WIDENED to [[FilteredNProbe]]
    *     cells so the filtered serve scores the same row count as the
    *     unfiltered one — measured 0.79 at sf0.1: better than the cliff,
    *     but the cohort truth's low-cos tail scatters uniformly across
    *     cells (the measured width→recall curve goes linear past the
    *     nearest ~20 cells), so probe-widening alone saturates;
    *   - PARTITIONED: a label-partitioned index — per-label pivot cells
    *     ((label, cid) postings; every label guaranteed ≥1 pivot via the
    *     cohort-minimum fallback), query probes [[NProbe]] cells WITHIN
    *     its own label partition. The low-cardinality-attribute design
    *     every production store uses for tenant/language filters:
    *     measured 0.96 recall at sf0.1 at the unfiltered serve's
    *     candidate cost — strictly dominating both single-index
    *     strategies.
    *
    * Output per query: cohort truth size, served/overlap counts, scan
    * costs and recalls (basis points, exact integer arithmetic) for all
    * three — `recall_part ≥ recall_pre ≥ recall_post` is the production
    * rule this entry demonstrates and regression-pins.
    *
    * Scale shape: label predicates join on vec_id — the same key as the
    * candidate→embedding scoring join, so filters add no shuffle; the
    * partitioned index keys postings by label-disjoint cids, so its
    * probe join is the same bucketed shape as the global index's;
    * queries and the 10-row per-label pivot-fallback table broadcast;
    * salted two-phase top-k as everywhere. Ground truth restricted to
    * the query's cohort is corpus×queries/|labels| map work — no
    * corpus² anywhere.
    */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
              col("label").as("qlabel"))
    val labeled = e.select(col("vec_id"), col("label"), col("emb").as("cemb"))
    val cent = pivotCentroids(e)
    def scoredAt(nprobe: Int): DataFrame = ivfCandidates(e, cent, nprobe)
      .join(labeled, "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("label"), col("qlabel"), col("cos6"))
    val preCands = scoredAt(FilteredNProbe)
      .filter(col("label") === col("qlabel"))
      .localCheckpoint(true) // consumed twice: cost agg + rank
    val pre = saltedTopK(preCands, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val post = saltedTopK(scoredAt(NProbe), col("cos6").desc_nulls_last, col("vec_id").asc)
      .filter(col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    // label-partitioned index: per-label pivots (global pivots that fall in
    // the cohort, plus the cohort minimum so no partition is pivotless)
    val mn = e.groupBy(col("label")).agg(min(col("vec_id")).as("mn"))
    val partCent = e.join(broadcast(mn), "label")
      .filter(col("vec_id") % CentroidMod === 0 || col("vec_id") === col("mn"))
      .select(col("label"), col("vec_id").as("cid"), col("emb").as("cemb"))
    def psimsOf(df: DataFrame): DataFrame = df
      .join(broadcast(partCent), "label")
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val passign = psimsOf(e).groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val pprobes = psimsOf(e.filter(col("vec_id") % QueryMod === 0))
      .groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
    // cids are label-disjoint, so the cid join already implies label match
    val partCands = pprobes.join(passign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // consumed twice: cost agg + scoring
    val partScored = partCands
      .join(labeled.select(col("vec_id"), col("cemb")), "vec_id")
      .join(broadcast(q), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val part = saltedTopK(partScored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    // filtered ground truth: brute-force top-k over the query's label cohort
    val bscored = labeled.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val b = saltedTopK(bscored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val ncp = preCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_pre"))
    val ncq = partCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_part"))
    val np = pre.groupBy(col("query_id")).agg(count(lit(1)).as("n_pre"))
    val ovp = b.join(pre, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_pre"))
    val ns = post.groupBy(col("query_id")).agg(count(lit(1)).as("n_post"))
    val ovs = b.join(post, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_post"))
    val nt = part.groupBy(col("query_id")).agg(count(lit(1)).as("n_part"))
    val ovt = b.join(part, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_part"))
    nb.join(np, Seq("query_id"), "left").join(ovp, Seq("query_id"), "left")
      .join(ns, Seq("query_id"), "left").join(ovs, Seq("query_id"), "left")
      .join(nt, Seq("query_id"), "left").join(ovt, Seq("query_id"), "left")
      .join(ncp, Seq("query_id"), "left").join(ncq, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("ov_pre"), lit(0L)).as("ov_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("ov_post"), lit(0L)).as("ov_post"),
        coalesce(col("n_part"), lit(0L)).as("n_part"),
        coalesce(col("ov_part"), lit(0L)).as("ov_part"),
        coalesce(col("n_cands_pre"), lit(0L)).as("n_cands_pre"),
        coalesce(col("n_cands_part"), lit(0L)).as("n_cands_part"))
      .withColumn("recall_pre_bp", expr("ov_pre * 10000 div n_brute"))
      .withColumn("recall_post_bp", expr("ov_post * 10000 div n_brute"))
      .withColumn("recall_part_bp", expr("ov_part * 10000 div n_brute"))
  }

  def knnFilteredSql: String =
    s"""WITH el AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) > 0
       |), e AS (
       |  SELECT vec_id, emb FROM el
       |), $ivfCandsCtesSql, q AS (
       |  SELECT vec_id AS query_id, label AS qlabel, emb AS qemb FROM el
       |  WHERE vec_id % $QueryMod = 0
       |), precands AS (
       |  SELECT p.query_id, a.vec_id,
       |         ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) AS cos6
       |  FROM (
       |    SELECT vec_id AS query_id, cid FROM sims
       |    WHERE crk <= $FilteredNProbe AND vec_id % $QueryMod = 0
       |  ) p JOIN assign a ON p.cid = a.cid
       |    JOIN el ce ON ce.vec_id = a.vec_id
       |    JOIN q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id AND ce.label = q.qlabel
       |), pre AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos6 DESC NULLS LAST, vec_id ASC) AS rk
       |    FROM precands
       |  ) WHERE rk <= $TopK
       |), post AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT c.query_id, c.vec_id, ce.label, q.qlabel,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       c.vec_id ASC) AS rk
       |    FROM cands c JOIN el ce ON ce.vec_id = c.vec_id
       |                 JOIN q ON q.query_id = c.query_id
       |  ) WHERE rk <= $TopK AND label = qlabel
       |), pcent AS (
       |  SELECT label, vec_id AS cid, emb AS cemb FROM (
       |    SELECT label, vec_id, emb, MIN(vec_id) OVER (PARTITION BY label) AS mn
       |    FROM el
       |  ) WHERE vec_id % $CentroidMod = 0 OR vec_id = mn
       |), psims AS (
       |  SELECT e2.vec_id, c.cid, list_cosine_similarity(c.cemb, e2.emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e2.vec_id
       |                            ORDER BY list_cosine_similarity(c.cemb, e2.emb) DESC NULLS LAST, c.cid ASC) AS crk
       |  FROM el e2 JOIN pcent c ON c.label = e2.label
       |), passign AS (
       |  SELECT vec_id, cid FROM psims WHERE crk = 1
       |), partcands AS (
       |  SELECT pr.query_id, a.vec_id FROM (
       |    SELECT vec_id AS query_id, cid FROM psims
       |    WHERE crk <= $NProbe AND vec_id % $QueryMod = 0
       |  ) pr JOIN passign a ON pr.cid = a.cid
       |  WHERE a.vec_id <> pr.query_id
       |), part AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT c.query_id, c.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       c.vec_id ASC) AS rk
       |    FROM partcands c JOIN el ce ON ce.vec_id = c.vec_id
       |                     JOIN q ON q.query_id = c.query_id
       |  ) WHERE rk <= $TopK
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, ce.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       ce.vec_id ASC) AS rk
       |    FROM q, el ce
       |    WHERE ce.vec_id <> q.query_id AND ce.label = q.qlabel
       |  ) WHERE rk <= $TopK
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), ncp AS (
       |  SELECT query_id, COUNT(*) AS n_cands_pre FROM precands GROUP BY query_id
       |), ncq AS (
       |  SELECT query_id, COUNT(*) AS n_cands_part FROM partcands GROUP BY query_id
       |), np AS (
       |  SELECT query_id, COUNT(*) AS n_pre FROM pre GROUP BY query_id
       |), ovp AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN pre p ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |  GROUP BY b.query_id
       |), ns AS (
       |  SELECT query_id, COUNT(*) AS n_post FROM post GROUP BY query_id
       |), ovs AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN post p ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |  GROUP BY b.query_id
       |), nt AS (
       |  SELECT query_id, COUNT(*) AS n_part FROM part GROUP BY query_id
       |), ovt AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN part p ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(np.n_pre, 0) AS n_pre,
       |       COALESCE(ovp.ov, 0) AS ov_pre,
       |       COALESCE(ns.n_post, 0) AS n_post,
       |       COALESCE(ovs.ov, 0) AS ov_post,
       |       COALESCE(nt.n_part, 0) AS n_part,
       |       COALESCE(ovt.ov, 0) AS ov_part,
       |       COALESCE(ncp.n_cands_pre, 0) AS n_cands_pre,
       |       COALESCE(ncq.n_cands_part, 0) AS n_cands_part,
       |       COALESCE(ovp.ov, 0) * 10000 // nb.n_brute AS recall_pre_bp,
       |       COALESCE(ovs.ov, 0) * 10000 // nb.n_brute AS recall_post_bp,
       |       COALESCE(ovt.ov, 0) * 10000 // nb.n_brute AS recall_part_bp
       |FROM nb LEFT JOIN np ON nb.query_id = np.query_id
       |        LEFT JOIN ovp ON nb.query_id = ovp.query_id
       |        LEFT JOIN ns ON nb.query_id = ns.query_id
       |        LEFT JOIN ovs ON nb.query_id = ovs.query_id
       |        LEFT JOIN nt ON nb.query_id = nt.query_id
       |        LEFT JOIN ovt ON nb.query_id = ovt.query_id
       |        LEFT JOIN ncp ON nb.query_id = ncp.query_id
       |        LEFT JOIN ncq ON nb.query_id = ncq.query_id
       |""".stripMargin

  /** Time-bucket count for [[knnRangeFiltered]]'s segmented index: 8
    * contiguous vec_id ranges, each with its own in-bucket pivot cells.
    */
  private val RfBuckets = 8
  /** Per-bucket pivot stride FLOOR: the effective stride is
    * greatest([[RfCentroidMod]], w div 19) — it GROWS with the bucket
    * width so cells-per-bucket stays ≈ 19 at every scale (a segment
    * index is sized to its segment). A fixed stride was measured
    * QUADRATIC at the r14 sf10 spot: per-bucket pivot count grew ∝ N and
    * the bucket-assignment pass hit 38G cosine pairs at 2M vectors; the
    * width-scaled stride pins assignment work at N × ~19. At the gate
    * SFs (w ≤ 250) the floor binds, so gate outputs are unchanged. At
    * sf0.1 each 250-vector bucket gets ~19 cells of ~13 members vs the
    * global index's 25-member cells. */
  private val RfCentroidMod = 13

  /** `s_knn_range_filtered`: NUMERIC-RANGE-filtered ANN — the filtered
    * case [[knnFiltered]]'s label partitions cannot serve: a predicate
    * `attr BETWEEN lo AND hi` over a HIGH-cardinality attribute (event
    * time, ingestion order, price), where one partition per value cannot
    * exist. The attribute here is vec_id itself — ingestion order, the
    * attribute real stores time-bucket on. Each query q restricts to the
    * window lo = (q·37) mod ⌊15N/16⌋, hi = lo + ⌊N/16⌋ (deterministic,
    * ~6% selectivity, position varying per query — the NARROW-range
    * regime time filters actually run in; at mild selectivity a widened
    * global probe is the right tool and segmentation buys little, a
    * trade this entry's r14 build measured explicitly: at 25%
    * selectivity widened-pre reached 0.91 recall at 183 scored
    * candidates while the budget-split segmented serve managed 0.715 at
    * 247 — geometry-blind id buckets give a per-segment mini-index less
    * structure than the corpus-wide index, so segmentation pays off only
    * once selectivity makes the global index's fetch waste dominate).
    * Three strategies are audited against range-restricted brute truth,
    * mirroring `s_knn_filtered`'s battery, each with BOTH cost axes
    * reported: scored candidates (vector math paid) and FETCHED postings
    * (index entries touched before the predicate could trim them):
    *
    *   - POST-filter: global-index top-[[TopK]] at [[NProbe]], predicate
    *     applied after ranking — keeps ~selectivity·k hits;
    *   - widened PRE-filter: global index at [[FilteredNProbe]] cells,
    *     predicate applied to candidates before ranking;
    *   - SEGMENTED: [[RfBuckets]] contiguous vec_id buckets, each with
    *     its own in-bucket pivot cells at the segment-sized
    *     [[RfCentroidMod]] stride (the bucket-minimum fallback guarantees
    *     no bucket is pivotless — the `s_knn_filtered` partition idiom);
    *     a query probes ONLY the buckets overlapping its range (the
    *     `s_index_merge` scatter-gather reused over time segments), with
    *     the probe BUDGET split across them: per overlapping bucket
    *     w_b = max([[NProbe]], ⌈[[FilteredNProbe]]/n_overlap⌉) cells, so
    *     the segmented serve spends the widened-pre strategy's total cell
    *     budget, concentrated where the range actually lives (narrower
    *     ranges probe fewer segments, each deeper — the self-tuning rule
    *     a scatter-gather store allocates its budget by). Edge-bucket
    *     over-coverage is trimmed with the exact predicate BEFORE any
    *     scoring — out-of-range postings are never fetched, which is the
    *     structural advantage a global index cannot offer (its postings
    *     interleave all times, so widened-pre fetches ~1/selectivity
    *     postings per scored candidate).
    *
    * Output adds n_fetch_pre / n_fetch_seg: the pre-filter strategy must
    * fetch ~1/selectivity postings per scored candidate (its cells
    * interleave all ids), while the segmented serve's fetch exceeds its
    * scored mass only by edge-bucket waste — the structural claim
    * FilteredAndMergeSpec pins alongside the macro recall ordering
    * recall_seg ≥ recall_pre ≥ recall_post.
    *
    * Scale shape: bucket pivots are per-bucket broadcasts; bucket
    * assignment is the same broadcast-centroid map pass as every IVF
    * build; the probe join is keyed on bucket-disjoint cids, so it is
    * the same bucketed posting join as the global index's, and the
    * overlap predicate prunes whole sub-indexes before any vector math.
    * Range truth is corpus × queries × selectivity map work. At small
    * fixtures the split budget saturates each overlapped bucket's cell
    * count and the segmented serve degenerates to an exact range scan —
    * the honest behavior (a time-partitioned store scans the partition
    * when the range is narrow enough), mirroring the documented
    * `s_knn_filtered` saturation.
    */
  def knnRangeFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    val stats = e.agg((max(col("vec_id")) + 1L).as("n"))
      .withColumn("w", expr(s"(n + ${RfBuckets - 1}) div $RfBuckets"))
      .withColumn("stride", expr(s"greatest($RfCentroidMod, w div 19)"))
    val qr = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .crossJoin(broadcast(stats))
      .withColumn("lo", expr("(query_id * 37) % (n * 15 div 16)"))
      .withColumn("hi", expr("lo + n div 16"))
      .select(col("query_id"), col("qemb"), col("lo"), col("hi"))
    val qRanges = qr.select(col("query_id"), col("lo"), col("hi"))
    // global-index strategies (the s_knn_filtered shapes, range predicate):
    // candsAt = FETCHED postings (pre-predicate); scoring happens after
    def candsAt(nprobe: Int): DataFrame = ivfCandidates(e, cent, nprobe)
      .join(broadcast(qRanges), "query_id")
    def scoreOf(cands: DataFrame): DataFrame = cands
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(qr.select(col("query_id"), col("qemb"))), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("lo"), col("hi"), col("cos6"))
    val fetch30 = candsAt(FilteredNProbe).localCheckpoint(true) // fetch agg + trim
    val preCands = fetch30
      .filter(col("vec_id") >= col("lo") && col("vec_id") <= col("hi"))
      .localCheckpoint(true) // consumed twice: cost agg + rank
    val pre = saltedTopK(scoreOf(preCands), col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val post = saltedTopK(scoreOf(candsAt(NProbe)), col("cos6").desc_nulls_last, col("vec_id").asc)
      .filter(col("vec_id") >= col("lo") && col("vec_id") <= col("hi"))
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    // segmented index: per-bucket pivots, probe only overlapping buckets,
    // probe budget split across them (w_b cells per bucket)
    val bm = e.crossJoin(broadcast(stats))
      .withColumn("bkt", expr("vec_id div w"))
      .select(col("vec_id"), col("emb"), col("bkt"), col("stride"))
    val bmn = bm.groupBy(col("bkt")).agg(min(col("vec_id")).as("mn"))
    val bcent = bm.join(broadcast(bmn), "bkt")
      .filter(col("vec_id") % col("stride") === 0 || col("vec_id") === col("mn"))
      .select(col("bkt"), col("vec_id").as("cid"), col("emb").as("cemb"))
    val bassign = bm.join(broadcast(bcent), "bkt")
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val qprobes = qr.crossJoin(broadcast(stats))
      .withColumn("nov", expr("hi div w - lo div w + 1"))
      .withColumn("wb", expr(s"greatest($NProbe, ($FilteredNProbe + nov - 1) div nov)"))
      .join(broadcast(bcent),
        col("bkt") >= expr("lo div w") && col("bkt") <= expr("hi div w"))
      .withColumn("cos", cosine(col("qemb"), col("cemb")))
      .groupBy(col("query_id"), col("bkt"))
      .agg(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))).as("top"),
        max(col("wb")).as("wb")) // wb is constant per query
      .select(col("query_id"),
        explode(expr("slice(top, 1, cast(wb as int))")).as("t"))
      .select(col("query_id"), col("t.cid").as("cid"))
    val segFetch = qprobes.join(bassign, "cid")
      .join(broadcast(qRanges), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .localCheckpoint(true) // fetch agg + trim
    val segCands = segFetch
      .filter(col("vec_id") >= col("lo") && col("vec_id") <= col("hi"))
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // consumed twice: cost agg + scoring
    val segScored = segCands
      .join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .join(broadcast(qr.select(col("query_id"), col("qemb"))), "query_id")
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val seg = saltedTopK(segScored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    // range-restricted brute truth
    val bscored = e.select(col("vec_id"), col("emb").as("cemb"))
      .crossJoin(broadcast(qr))
      .filter(col("vec_id") =!= col("query_id") &&
              col("vec_id") >= col("lo") && col("vec_id") <= col("hi"))
      .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
      .select(col("query_id"), col("vec_id"), col("cos6"))
    val b = saltedTopK(bscored, col("cos6").desc_nulls_last, col("vec_id").asc)
      .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val ncp = preCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_pre"))
    val ncs = segCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_seg"))
    val nfp = fetch30.groupBy(col("query_id")).agg(count(lit(1)).as("n_fetch_pre"))
    val nfs = segFetch.groupBy(col("query_id")).agg(count(lit(1)).as("n_fetch_seg"))
    val np = pre.groupBy(col("query_id")).agg(count(lit(1)).as("n_pre"))
    val ovp = b.join(pre, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_pre"))
    val ns = post.groupBy(col("query_id")).agg(count(lit(1)).as("n_post"))
    val ovs = b.join(post, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_post"))
    val nt = seg.groupBy(col("query_id")).agg(count(lit(1)).as("n_seg"))
    val ovt = b.join(seg, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_seg"))
    nb.join(np, Seq("query_id"), "left").join(ovp, Seq("query_id"), "left")
      .join(ns, Seq("query_id"), "left").join(ovs, Seq("query_id"), "left")
      .join(nt, Seq("query_id"), "left").join(ovt, Seq("query_id"), "left")
      .join(ncp, Seq("query_id"), "left").join(ncs, Seq("query_id"), "left")
      .join(nfp, Seq("query_id"), "left").join(nfs, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_pre"), lit(0L)).as("n_pre"),
        coalesce(col("ov_pre"), lit(0L)).as("ov_pre"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("ov_post"), lit(0L)).as("ov_post"),
        coalesce(col("n_seg"), lit(0L)).as("n_seg"),
        coalesce(col("ov_seg"), lit(0L)).as("ov_seg"),
        coalesce(col("n_cands_pre"), lit(0L)).as("n_cands_pre"),
        coalesce(col("n_cands_seg"), lit(0L)).as("n_cands_seg"),
        coalesce(col("n_fetch_pre"), lit(0L)).as("n_fetch_pre"),
        coalesce(col("n_fetch_seg"), lit(0L)).as("n_fetch_seg"))
      .withColumn("recall_pre_bp", expr("ov_pre * 10000 div n_brute"))
      .withColumn("recall_post_bp", expr("ov_post * 10000 div n_brute"))
      .withColumn("recall_seg_bp", expr("ov_seg * 10000 div n_brute"))
  }

  def knnRangeFilteredSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, nn AS (
       |  SELECT n, w, GREATEST($RfCentroidMod, w // 19) AS stride FROM (
       |    SELECT MAX(vec_id) + 1 AS n,
       |           (MAX(vec_id) + 1 + ${RfBuckets - 1}) // $RfBuckets AS w
       |    FROM e
       |  )
       |), qr AS (
       |  SELECT query_id, qemb, lo, lo + (SELECT n FROM nn) // 16 AS hi FROM (
       |    SELECT vec_id AS query_id, emb AS qemb,
       |           (vec_id * 37) % ((SELECT n FROM nn) * 15 // 16) AS lo
       |    FROM e WHERE vec_id % $QueryMod = 0
       |  )
       |), fetch30 AS (
       |  SELECT p.query_id, a.vec_id, q.lo, q.hi
       |  FROM (
       |    SELECT vec_id AS query_id, cid FROM sims
       |    WHERE crk <= $FilteredNProbe AND vec_id % $QueryMod = 0
       |  ) p JOIN assign a ON p.cid = a.cid
       |    JOIN qr q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |), precands AS (
       |  SELECT f.query_id, f.vec_id,
       |         ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) AS cos6
       |  FROM fetch30 f
       |    JOIN e ce ON ce.vec_id = f.vec_id
       |    JOIN qr q ON q.query_id = f.query_id
       |  WHERE f.vec_id BETWEEN f.lo AND f.hi
       |), pre AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY cos6 DESC NULLS LAST, vec_id ASC) AS rk
       |    FROM precands
       |  ) WHERE rk <= $TopK
       |), post AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT c.query_id, c.vec_id, q.lo, q.hi,
       |           ROW_NUMBER() OVER (PARTITION BY c.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       c.vec_id ASC) AS rk
       |    FROM cands c JOIN e ce ON ce.vec_id = c.vec_id
       |                 JOIN qr q ON q.query_id = c.query_id
       |  ) WHERE rk <= $TopK AND vec_id BETWEEN lo AND hi
       |), bm AS (
       |  SELECT vec_id, emb, vec_id // (SELECT w FROM nn) AS bkt FROM e
       |), bmn AS (
       |  SELECT bkt, MIN(vec_id) AS mn FROM bm GROUP BY bkt
       |), bcent AS (
       |  SELECT bm.bkt, bm.vec_id AS cid, bm.emb AS cemb
       |  FROM bm JOIN bmn USING (bkt)
       |  WHERE bm.vec_id % (SELECT stride FROM nn) = 0 OR bm.vec_id = mn
       |), bsims AS (
       |  SELECT bm.vec_id, c.cid, list_cosine_similarity(c.cemb, bm.emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY bm.vec_id
       |                            ORDER BY list_cosine_similarity(c.cemb, bm.emb) DESC NULLS LAST, c.cid ASC) AS crk
       |  FROM bm JOIN bcent c ON c.bkt = bm.bkt
       |), bassign AS (
       |  SELECT vec_id, cid FROM bsims WHERE crk = 1
       |), qov AS (
       |  SELECT query_id, qemb, lo, hi,
       |         lo // (SELECT w FROM nn) AS blo, hi // (SELECT w FROM nn) AS bhi,
       |         GREATEST($NProbe,
       |           ($FilteredNProbe + (hi // (SELECT w FROM nn) - lo // (SELECT w FROM nn) + 1) - 1)
       |             // (hi // (SELECT w FROM nn) - lo // (SELECT w FROM nn) + 1)) AS wb
       |  FROM qr
       |), qprobes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.bkt, c.cid, q.wb,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id, c.bkt
       |                              ORDER BY list_cosine_similarity(c.cemb, q.qemb) DESC NULLS LAST, c.cid ASC) AS crk
       |    FROM qov q JOIN bcent c ON c.bkt BETWEEN q.blo AND q.bhi
       |  ) WHERE crk <= wb
       |), segfetch AS (
       |  SELECT p.query_id, a.vec_id, q.lo, q.hi FROM qprobes p
       |  JOIN bassign a ON a.cid = p.cid
       |  JOIN qr q ON q.query_id = p.query_id
       |  WHERE a.vec_id <> p.query_id
       |), segcands AS (
       |  SELECT query_id, vec_id FROM segfetch WHERE vec_id BETWEEN lo AND hi
       |), seg AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT sc.query_id, sc.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY sc.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       sc.vec_id ASC) AS rk
       |    FROM segcands sc JOIN e ce ON ce.vec_id = sc.vec_id
       |                     JOIN qr q ON q.query_id = sc.query_id
       |  ) WHERE rk <= $TopK
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, ce.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                              ORDER BY ROUND(list_cosine_similarity(q.qemb, ce.emb), 6) DESC NULLS LAST,
       |                                       ce.vec_id ASC) AS rk
       |    FROM qr q JOIN e ce
       |      ON ce.vec_id <> q.query_id AND ce.vec_id BETWEEN q.lo AND q.hi
       |  ) WHERE rk <= $TopK
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), ncp AS (
       |  SELECT query_id, COUNT(*) AS n_cands_pre FROM precands GROUP BY query_id
       |), ncs AS (
       |  SELECT query_id, COUNT(*) AS n_cands_seg FROM segcands GROUP BY query_id
       |), nfp AS (
       |  SELECT query_id, COUNT(*) AS n_fetch_pre FROM fetch30 GROUP BY query_id
       |), nfs AS (
       |  SELECT query_id, COUNT(*) AS n_fetch_seg FROM segfetch GROUP BY query_id
       |), np AS (
       |  SELECT query_id, COUNT(*) AS n_pre FROM pre GROUP BY query_id
       |), ovp AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN pre p ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |  GROUP BY b.query_id
       |), ns AS (
       |  SELECT query_id, COUNT(*) AS n_post FROM post GROUP BY query_id
       |), ovs AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN post p ON b.query_id = p.query_id AND b.vec_id = p.vec_id
       |  GROUP BY b.query_id
       |), nt AS (
       |  SELECT query_id, COUNT(*) AS n_seg FROM seg GROUP BY query_id
       |), ovt AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN seg s ON b.query_id = s.query_id AND b.vec_id = s.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(np.n_pre, 0) AS n_pre,
       |       COALESCE(ovp.ov, 0) AS ov_pre,
       |       COALESCE(ns.n_post, 0) AS n_post,
       |       COALESCE(ovs.ov, 0) AS ov_post,
       |       COALESCE(nt.n_seg, 0) AS n_seg,
       |       COALESCE(ovt.ov, 0) AS ov_seg,
       |       COALESCE(ncp.n_cands_pre, 0) AS n_cands_pre,
       |       COALESCE(ncs.n_cands_seg, 0) AS n_cands_seg,
       |       COALESCE(nfp.n_fetch_pre, 0) AS n_fetch_pre,
       |       COALESCE(nfs.n_fetch_seg, 0) AS n_fetch_seg,
       |       COALESCE(ovp.ov, 0) * 10000 // nb.n_brute AS recall_pre_bp,
       |       COALESCE(ovs.ov, 0) * 10000 // nb.n_brute AS recall_post_bp,
       |       COALESCE(ovt.ov, 0) * 10000 // nb.n_brute AS recall_seg_bp
       |FROM nb LEFT JOIN np ON nb.query_id = np.query_id
       |        LEFT JOIN ovp ON nb.query_id = ovp.query_id
       |        LEFT JOIN ns ON nb.query_id = ns.query_id
       |        LEFT JOIN ovs ON nb.query_id = ovs.query_id
       |        LEFT JOIN nt ON nb.query_id = nt.query_id
       |        LEFT JOIN ovt ON nb.query_id = ovt.query_id
       |        LEFT JOIN ncp ON nb.query_id = ncp.query_id
       |        LEFT JOIN ncs ON nb.query_id = ncs.query_id
       |        LEFT JOIN nfp ON nb.query_id = nfp.query_id
       |        LEFT JOIN nfs ON nb.query_id = nfs.query_id
       |""".stripMargin

  /** Segment split for [[indexMerge]]: segment = vec_id % 2 (two
    * LSM-style ingest segments), segment s's pivot cells = vec_id ≡ s
    * (mod 2·[[CentroidMod]]) — pivots drawn from INSIDE each segment
    * (multiples of 50 are even → segment 0; 50k+1 odd → segment 1), each
    * segment getting half the global pivot count, matching its half of
    * the corpus.
    */
  private val SegMod = 2

  /** `s_index_merge`: ANN segment-index MERGE — the compaction job of an
    * LSM-style vector store (ingest produces small per-batch segment
    * indexes; a background merge rebuilds one consolidated index). Two
    * segment indexes (vec_id parity, each with its own in-segment pivot
    * cells) serve queries scatter-gather: probe [[NProbe]] cells in EVERY
    * segment, union the candidates, rank once. The merged index is the
    * standard global-pivot build ([[ivfCandidates]] — bit-identical to
    * `s_knn_ivf`'s). Both serves are audited per query against
    * brute-force truth: `n_cands_seg` vs `n_cands_merged` is the scan
    * cost the merge reclaims (S segments probed ≈ S× the candidate mass
    * at equal per-segment NProbe), `recall_seg_bp` vs `recall_merged_bp`
    * pins that consolidation does not lose recall.
    *
    * Scale shape: per-segment assignment/probe are the same broadcast-
    * centroid map passes as the build (segment pivots are half-sized
    * broadcasts); the scatter-gather union is a unionByName of
    * identically-keyed posting joins (no extra shuffle class); audits
    * are the standard three hash aggregates. At S segments the
    * scatter-gather serve costs S probe joins — linear in segments,
    * which is exactly the cost curve that makes real stores bound the
    * segment count with merges.
    */
  def indexMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    // scatter-gather over the two segment indexes
    val segCands = (0 until SegMod).map { s =>
      val segCent = e.filter(col("vec_id") % (SegMod * CentroidMod) === s)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val assign = e.filter(col("vec_id") % SegMod === s)
        .select(col("vec_id"), col("emb"))
        .crossJoin(broadcast(segCent))
        .withColumn("cos", cosine(col("emb"), col("cemb")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
      val probes = e.filter(col("vec_id") % QueryMod === 0)
        .select(col("vec_id"), col("emb"))
        .crossJoin(broadcast(segCent))
        .withColumn("cos", cosine(col("emb"), col("cemb")))
        .groupBy(col("vec_id"))
        .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                   1, NProbe).as("top"))
        .select(col("vec_id").as("query_id"), explode(col("top.cid")).as("cid"))
      probes.join(assign, "cid")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
    }.reduce(_ unionByName _).localCheckpoint(true) // cost agg + scoring
    val mergedCands = ivfCandidates(e).localCheckpoint(true)
    val cemb = e.select(col("vec_id"), col("emb").as("cemb"))
    def serve(cands: DataFrame): DataFrame = {
      val scored = cands.join(cemb, "vec_id")
        .join(broadcast(q), "query_id")
        .withColumn("cos6", round(cosine(col("qemb"), col("cemb")), 6))
        .select(col("query_id"), col("vec_id"), col("cos6"))
      saltedTopK(scored, col("cos6").desc_nulls_last, col("vec_id").asc)
        .select(col("query_id"), col("vec_id")).localCheckpoint(true)
    }
    val seg = serve(segCands)
    val merged = serve(mergedCands)
    val b = knnBrute(spark, dir).select(col("query_id"), col("vec_id"))
      .localCheckpoint(true)
    val nb = b.groupBy(col("query_id")).agg(count(lit(1)).as("n_brute"))
    val ncs = segCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_seg"))
    val ncm = mergedCands.groupBy(col("query_id")).agg(count(lit(1)).as("n_cands_merged"))
    val ovs = b.join(seg, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_seg"))
    val ovm = b.join(merged, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("ov_merged"))
    nb.join(ncs, Seq("query_id"), "left").join(ncm, Seq("query_id"), "left")
      .join(ovs, Seq("query_id"), "left").join(ovm, Seq("query_id"), "left")
      .select(col("query_id"), col("n_brute"),
        coalesce(col("n_cands_seg"), lit(0L)).as("n_cands_seg"),
        coalesce(col("n_cands_merged"), lit(0L)).as("n_cands_merged"),
        coalesce(col("ov_seg"), lit(0L)).as("ov_seg"),
        coalesce(col("ov_merged"), lit(0L)).as("ov_merged"))
      .withColumn("recall_seg_bp", expr("ov_seg * 10000 div n_brute"))
      .withColumn("recall_merged_bp", expr("ov_merged * 10000 div n_brute"))
  }

  def indexMergeSql: String = {
    def segCandsSql(s: Int): String =
      s"""SELECT query_id, po.vec_id FROM (
         |    SELECT vec_id AS query_id, cid FROM (
         |      SELECT e.vec_id, c.cid,
         |             ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                                ORDER BY list_cosine_similarity(c.cemb, e.emb) DESC NULLS LAST, c.cid ASC) AS crk
         |      FROM e, (SELECT vec_id AS cid, emb AS cemb FROM e
         |               WHERE vec_id % ${SegMod * CentroidMod} = $s) c
         |      WHERE e.vec_id % $QueryMod = 0
         |    ) WHERE crk <= $NProbe
         |  ) pr JOIN (
         |    SELECT vec_id, cid FROM (
         |      SELECT e.vec_id, c.cid,
         |             ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |                                ORDER BY list_cosine_similarity(c.cemb, e.emb) DESC NULLS LAST, c.cid ASC) AS crk
         |      FROM e, (SELECT vec_id AS cid, emb AS cemb FROM e
         |               WHERE vec_id % ${SegMod * CentroidMod} = $s) c
         |      WHERE e.vec_id % $SegMod = $s
         |    ) WHERE crk = 1
         |  ) po ON pr.cid = po.cid
         |  WHERE po.vec_id <> pr.query_id""".stripMargin
    s"""WITH e AS (
       |  $VecsCteSql
       |), $ivfCandsCtesSql, segcands AS (
       |  ${segCandsSql(0)}
       |  UNION ALL
       |  ${segCandsSql(1)}
       |), seg AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, sc.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) DESC NULLS LAST,
       |                                       sc.vec_id ASC) AS rk
       |    FROM segcands sc JOIN e qe ON qe.vec_id = sc.query_id JOIN e ce ON ce.vec_id = sc.vec_id
       |  ) WHERE rk <= $TopK
       |), merged AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, c.vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY ROUND(list_cosine_similarity(qe.emb, ce.emb), 6) DESC NULLS LAST,
       |                                       c.vec_id ASC) AS rk
       |    FROM cands c JOIN e qe ON qe.vec_id = c.query_id JOIN e ce ON ce.vec_id = c.vec_id
       |  ) WHERE rk <= $TopK
       |), b AS (
       |  SELECT query_id, vec_id FROM (
       |${knnBruteSql}
       |  )
       |), nb AS (
       |  SELECT query_id, COUNT(*) AS n_brute FROM b GROUP BY query_id
       |), ncs AS (
       |  SELECT query_id, COUNT(*) AS n_cands_seg FROM segcands GROUP BY query_id
       |), ncm AS (
       |  SELECT query_id, COUNT(*) AS n_cands_merged FROM cands GROUP BY query_id
       |), ovs AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN seg s ON b.query_id = s.query_id AND b.vec_id = s.vec_id
       |  GROUP BY b.query_id
       |), ovm AS (
       |  SELECT b.query_id, COUNT(*) AS ov FROM b
       |  JOIN merged m ON b.query_id = m.query_id AND b.vec_id = m.vec_id
       |  GROUP BY b.query_id
       |)
       |SELECT nb.query_id, nb.n_brute,
       |       COALESCE(ncs.n_cands_seg, 0) AS n_cands_seg,
       |       COALESCE(ncm.n_cands_merged, 0) AS n_cands_merged,
       |       COALESCE(ovs.ov, 0) AS ov_seg,
       |       COALESCE(ovm.ov, 0) AS ov_merged,
       |       COALESCE(ovs.ov, 0) * 10000 // nb.n_brute AS recall_seg_bp,
       |       COALESCE(ovm.ov, 0) * 10000 // nb.n_brute AS recall_merged_bp
       |FROM nb LEFT JOIN ncs ON nb.query_id = ncs.query_id
       |        LEFT JOIN ncm ON nb.query_id = ncm.query_id
       |        LEFT JOIN ovs ON nb.query_id = ovs.query_id
       |        LEFT JOIN ovm ON nb.query_id = ovm.query_id
       |""".stripMargin
  }

  /** `s_cell_split`: IVF posting-cell SPLIT — the rebalance half of index
    * maintenance, completing the triad with `s_index_delete` (tombstone +
    * compaction) and `s_index_merge` (segment consolidation). Probed-cell
    * size IS per-query serving cost, so a store splits its heaviest cells:
    * every cell with occupancy strictly above the mean is split in two by
    * one deterministic 2-means-style round — seed A = the cell's most
    * peripheral member (lowest cos to centroid), seed B = the member
    * farthest from A, members reassigned to their nearer seed (ties → A).
    * Output is the full rebalance audit, one row per ORIGINAL cell:
    * occupancy before, whether it split, both seeds, and the two half
    * sizes (n_a + n_b = n_before — mass conservation, CellSplitSpec).
    *
    * Scale shape: detection is one hash agg over postings; every split
    * stage is keyed on cid (seed selection = bounded aggs over one cell's
    * members, reassignment = a per-member two-cosine compare), so work is
    * linear in the split cells' member mass — no pairwise-diameter seed
    * search, no all-pairs anywhere. The seed argmins pack (cos6, vec_id)
    * into ONE BIGINT key so they stay HashAggregates with map-side
    * partial combine; the cell-assignment argmax keeps the IVF entries'
    * reviewed max_by(struct) SortAggregate form (same rank semantics as
    * `s_knn_ivf`'s assign — raw-cos order, ties to the lowest cid —
    * which a rounded pack could not reproduce), allowlisted like them
    * in PlanSweepSpec.
    */
  def cellSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    val emb = e.select(col("vec_id"), col("emb"))
    // (vec_id, cid, cos6c): each vector's cell + rounded cos to centroid
    val members = emb
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), round(col("cos"), 6).as("cos6c")),
                  struct(col("cos"), negate(col("cid")))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.cos6c").as("cos6c"))
      .localCheckpoint(true)
    val occ = members.groupBy(col("cid")).agg(count(lit(1)).as("n_before"))
    val tot = occ.agg(sum(col("n_before")).as("n"), count(lit(1)).as("k"))
    val cells = occ.crossJoin(broadcast(tot))
      .withColumn("is_split", (col("n_before") * col("k") > col("n")).cast("long"))
      .select(col("cid"), col("n_before"), col("is_split"))
    // argmin-by-(cos6, vec_id) as ONE BIGINT: cos6 * 1e6 is an integer in
    // [-1e6, 1e6] up to float representation noise — ROUND (not truncate)
    // recovers it exactly — then shift non-negative, shift left 32, add id.
    // The id field is 32 BITS: vec_id must stay < 2^32 or it overflows into
    // the cos6 field and corrupts seed selection (r13/r14 ADVICE). The
    // fixture's ids are dense from 0 so the bound holds through sf10^4
    // (RebalanceAndNoveltySpec pins it on the fixture), but the failure
    // must be LOUD for any corpus, not a fixture property: the pack
    // raises per-row on an out-of-range id (one codegen'd branch, no
    // extra action). A 4 B+-vector deployment widens the pack to a
    // (key * 2^40 + id)-style layout or two columns.
    def minKey(cos6: Column): Column =
      (round(cos6 * 1000000.0, 0).cast("long") + 1000000L) * 4294967296L +
        when(col("vec_id").between(0L, 4294967295L), col("vec_id"))
          .otherwise(raise_error(concat(
            lit("cellSplit minKey pack: vec_id out of the 32-bit id field: "),
            col("vec_id").cast("string"))))
    def keyId(key: Column): Column = pmod(key, lit(4294967296L)).cast("long")
    val splitMembers = members
      .join(cells.filter(col("is_split") === 1L).select(col("cid")), "cid")
      .localCheckpoint(true)
    val seedA = splitMembers
      .groupBy(col("cid")).agg(min(minKey(col("cos6c"))).as("ka"))
      .select(col("cid"), keyId(col("ka")).as("seed_a"))
    val withA = splitMembers
      .join(seedA, "cid")
      .join(emb.select(col("vec_id").as("seed_a"), col("emb").as("aemb")), "seed_a")
      .join(emb, "vec_id")
      .withColumn("cos6a", round(cosine(col("emb"), col("aemb")), 6))
      .localCheckpoint(true)
    val seedB = withA.filter(col("vec_id") =!= col("seed_a"))
      .groupBy(col("cid")).agg(min(minKey(col("cos6a"))).as("kb"))
      .select(col("cid"), keyId(col("kb")).as("seed_b"))
    val halves = withA
      .join(seedB, "cid")
      .join(emb.select(col("vec_id").as("seed_b"), col("emb").as("bemb")), "seed_b")
      .withColumn("cos6b", round(cosine(col("emb"), col("bemb")), 6))
      .groupBy(col("cid"))
      .agg(sum(when(col("cos6b") > col("cos6a"), 1L).otherwise(0L)).as("n_b"),
           min(col("seed_a")).as("seed_a"), min(col("seed_b")).as("seed_b"))
    cells.join(halves, Seq("cid"), "left")
      .select(col("cid"), col("n_before"), col("is_split"),
        coalesce(col("seed_a"), lit(-1L)).as("seed_a"),
        coalesce(col("seed_b"), lit(-1L)).as("seed_b"),
        (col("n_before") - coalesce(col("n_b"), lit(0L))).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
  }

  def cellSplitSql: String =
    s"""WITH e AS (
       |  $VecsCteSql
       |), cent AS (
       |  SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id % $CentroidMod = 0
       |), sims AS (
       |  SELECT e.vec_id, cid, list_cosine_similarity(cemb, emb) AS cos,
       |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                            ORDER BY list_cosine_similarity(cemb, emb) DESC NULLS LAST, cid ASC) AS crk
       |  FROM e, cent
       |), members AS (
       |  SELECT vec_id, cid, ROUND(cos, 6) AS cos6c FROM sims WHERE crk = 1
       |), occ AS (
       |  SELECT cid, COUNT(*) AS n_before FROM members GROUP BY cid
       |), tot AS (
       |  SELECT CAST(SUM(n_before) AS BIGINT) AS n, COUNT(*) AS k FROM occ
       |), cells AS (
       |  SELECT cid, n_before,
       |         CAST(n_before * k > n AS BIGINT) AS is_split
       |  FROM occ, tot
       |), seeda AS (
       |  SELECT m.cid, m.vec_id AS seed_a FROM members m
       |  JOIN cells c ON c.cid = m.cid AND c.is_split = 1
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY m.cid
       |                             ORDER BY m.cos6c ASC, m.vec_id ASC) = 1
       |), cosa AS (
       |  SELECT m.cid, m.vec_id, sa.seed_a,
       |         ROUND(list_cosine_similarity(me.emb, ae.emb), 6) AS cos6a
       |  FROM members m JOIN seeda sa ON sa.cid = m.cid
       |  JOIN e me ON me.vec_id = m.vec_id
       |  JOIN e ae ON ae.vec_id = sa.seed_a
       |), seedb AS (
       |  SELECT cid, vec_id AS seed_b FROM cosa WHERE vec_id <> seed_a
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cid
       |                             ORDER BY cos6a ASC, vec_id ASC) = 1
       |), halves AS (
       |  SELECT ca.cid,
       |         CAST(SUM(CASE WHEN ROUND(list_cosine_similarity(me.emb, be.emb), 6) > ca.cos6a
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         MIN(ca.seed_a) AS seed_a, MIN(sb.seed_b) AS seed_b
       |  FROM cosa ca JOIN seedb sb ON sb.cid = ca.cid
       |  JOIN e me ON me.vec_id = ca.vec_id
       |  JOIN e be ON be.vec_id = sb.seed_b
       |  GROUP BY ca.cid
       |)
       |SELECT c.cid, c.n_before, c.is_split,
       |       COALESCE(h.seed_a, -1) AS seed_a,
       |       COALESCE(h.seed_b, -1) AS seed_b,
       |       c.n_before - COALESCE(h.n_b, 0) AS n_a,
       |       COALESCE(h.n_b, 0) AS n_b
       |FROM cells c LEFT JOIN halves h ON h.cid = c.cid
       |""".stripMargin

  /** Static IVF serving tables for the STREAMING serve
    * (`stream_knn_serve`): query-vector lookup (qv, qemb), probe map
    * (qv → one row per probed cid, for EVERY corpus vector — any
    * streamed id may become a query), postings with embeddings
    * (cid, vec_id, cemb), and the raw embedding count V that maps
    * streamed ids into the vector-id space. All three tables are
    * eagerly localCheckpointed: a stream-static join re-evaluates its
    * static side every micro-batch, and the probe/assignment argmax
    * over corpus × centroids must be paid ONCE at index-build time,
    * exactly like the persisted serve's bucketed tables.
    */
  private[graft] def ivfServeStatics(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val v = Tables.tableRows(spark, dir, "embeddings")
    val e = vecs(spark, dir)
    val cent = pivotCentroids(e)
    def simsOf(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("emb"))
      .crossJoin(broadcast(cent))
      .withColumn("cos", cosine(col("emb"), col("cemb")))
      .select(col("vec_id"), col("cid"), col("cos"))
    val probes = simsOf(e).groupBy(col("vec_id"))
      .agg(slice(array_sort(collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))),
                 1, NProbe).as("top"))
      .select(col("vec_id").as("qv"), explode(col("top.cid")).as("cid"))
      .localCheckpoint(true)
    val assign = simsOf(e).groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cos"), negate(col("cid")))).as("cid"))
    val cells = assign.join(e.select(col("vec_id"), col("emb").as("cemb")), "vec_id")
      .select(col("cid"), col("vec_id"), col("cemb"))
      .localCheckpoint(true)
    val qembs = e.select(col("vec_id").as("qv"), col("emb").as("qemb"))
      .localCheckpoint(true)
    (qembs, probes, cells, v)
  }

  val entries: Seq[Entry] = Seq(
    Entry("s_knn_brute", knnBrute, knnBruteSql),
    Entry("s_knn_ivf", knnIvf, knnIvfSql),
    Entry("s_dot_topk", dotTopk, dotTopkSql),
    Entry("s_lsh_dup_pairs", lshDupPairs, lshDupPairsSql),
    Entry("s_cosine_dedup", cosineDedup, cosineDedupSql),
    Entry("s_cosine_cc", cosineDedupCC, cosineDedupCCSql),
    Entry("s_knn_lsh", knnLsh, knnLshSql),
    Entry("s_quantize_int8", quantizeInt8, quantizeInt8Sql),
    Entry("s_label_stats", labelStats, labelStatsSql),
    Entry("s_knn_pq", knnPq, knnPqSql),
    Entry("s_knn_ivfpq", knnIvfPq, knnIvfPqSql),
    Entry("s_kmeans", kmeans, kmeansSql),
    Entry("s_kmeans_conv", kmeansConvEntry, kmeansUnrolledSql(KmeansConvUnroll)),
    Entry("s_ann_recall", annRecall, annRecallSql),
    Entry("s_semantic_dedup", semanticDedup, semanticDedupSql),
    Entry("s_dim_stats", dimStats, dimStatsSql),
    Entry("s_label_drift", labelDrift, labelDriftSql),
    Entry("s_pca_power", pcaPower, pcaPowerSql),
    Entry("s_trunc_recall", truncRecall, truncRecallSql),
    Entry("s_mmr_rerank", mmrRerank, mmrRerankSql),
    Entry("s_mmr_ann", mmrAnn, mmrAnnSql),
    Entry("s_knn_binary", knnBinary, knnBinarySql),
    Entry("s_knn_graph", knnGraph, knnGraphSql),
    Entry("s_knn_graph_scaled", knnGraphScaled, knnGraphScaledSql),
    Entry("s_ood_outliers", oodOutliers, oodOutliersSql),
    Entry("s_incremental_index", incrementalIndex, incrementalIndexSql),
    Entry("s_index_delete", indexDelete, indexDeleteSql),
    Entry("s_knn_pagerank", knnPagerank, knnPagerankSql),
    Entry("s_knn_labelprop", knnLabelProp, knnLabelPropSql),
    // the serving contract: reading the persisted index must equal the
    // in-query build bit-for-bit, so the oracle IS knnIvf's
    Entry("s_knn_serve", knnServe, knnIvfSql),
    Entry("s_knn_beam", knnBeam, knnBeamSql),
    Entry("s_hard_negatives", hardNegatives, hardNegativesSql),
    Entry("s_triplet_mine", tripletMine, tripletMineSql),
    Entry("s_knn_filtered", knnFiltered, knnFilteredSql),
    Entry("s_index_merge", indexMerge, indexMergeSql),
    Entry("s_cell_split", cellSplit, cellSplitSql),
    Entry("s_range_search", rangeSearch, rangeSearchSql),
    Entry("s_range_lsh", rangeLsh, rangeLshSql),
    Entry("s_range_lsh_mp", rangeLshMp, rangeLshMpSql),
    Entry("s_knn_range_filtered", knnRangeFiltered, knnRangeFilteredSql),
    Entry("s_serve_ndcg", serveNdcg, serveNdcgSql),
    Entry("s_probe_curve", probeCurve, probeCurveSql),
    Entry("s_opq_permute", opqPermute, opqPermuteSql),
  )
}
