package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered entry: its name in the Verify dump and the Bench report,
  * the query, and the DuckDB oracle.
  *   - `run(spark, sfDir)` returns the result DataFrame;
  *   - `oracleSql` is ANSI SQL DuckDB runs over the same parquet tables;
  *   - column NAMES and VALUES must match exactly (the correctness gate
  *     sorts columns by name and hashes values), so every computed column
  *     is aliased identically on both sides.
  */
final case class Entry(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

/** A family of entries. Each module lists each of its entries once in
  * [[entries]]; [[graft.SparkEntry]] concatenates the families and is the
  * one place that checks names, selects entries and tells streams from
  * batch entries.
  *
  * Determinism rules used throughout (cross-engine exact compare):
  *   - money-like SUMs go through the "cents" pattern:
  *     `SUM(CAST(ROUND(x * 100) AS BIGINT)) / 100.0` — integer summation is
  *     order-independent, unlike double summation;
  *   - per-row double arithmetic (IEEE) is bit-identical across engines;
  *   - ties in any top-k / argmax are broken by a unique id column;
  *   - final ROUND(x, n) only ever applies to values whose cross-engine
  *     difference is ≤ a few ulps (≪ the rounding quantum).
  */
trait QueryModule {
  def entries: Seq[Entry]

  /** name → query of this family, derived from [[entries]]. */
  final lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap
}

/** Deterministic cross-engine arithmetic snippets, valid verbatim in BOTH
  * Spark SQL and DuckDB SQL (use inside `expr(...)` on the Spark side and
  * inline in the oracle SQL) so both engines parse the same expression tree
  * and produce bit-identical doubles.
  *
  * Why not ROUND(x, n)? Spark rounds the exact decimal expansion of the
  * binary double (BigDecimal HALF_UP) while DuckDB scales-then-rounds; for
  * rational values (ratios of integers) the two disagree on exact half-way
  * boundaries (seen in practice: 0.4902 vs 0.4903). ROUND(x) to an integer
  * is half-away-from-zero in both engines, so we scale by 10^n with exact
  * integer arithmetic, round once, and divide back.
  *
  * All helpers assume non-negative inputs (half-away == half-up).
  */
object Det {
  /** Exact, order-independent money sum: quantize each value to integer
    * cents (identity for 2-decimal data), sum exactly, divide back.
    */
  def cents(x: String): String =
    s"CAST(SUM(CAST(ROUND(($x) * 100) AS BIGINT)) AS DOUBLE) / 100.0"

  /** Deterministic ROUND(x, 4) for a double `x` that both engines compute
    * bit-identically (ratios/sums of exactly-representable integers).
    */
  def r4(x: String): String =
    s"CAST(CAST(ROUND(CAST(10000 AS DOUBLE) * ($x)) AS BIGINT) AS DOUBLE) / 10000.0"

  /** Deterministic ROUND(x, 6), same scheme as [[r4]]. Safe for negative
    * inputs too: integer ROUND is half-AWAY-from-zero in both engines, so
    * the sign flip is consistent (the non-negative caveat above is about
    * half-up equivalence, not cross-engine agreement).
    */
  def r6(x: String): String =
    s"CAST(CAST(ROUND(CAST(1000000 AS DOUBLE) * ($x)) AS BIGINT) AS DOUBLE) / 1000000.0"

  /** Deterministic ROUND(AVG(x), 4) via cents quantization: each value is
    * quantized to cents (identity for 2-decimal data), summed exactly, and
    * the average is rounded through exact integer scaling.
    */
  def avgCents4(x: String): String =
    s"CAST(CAST(ROUND(CAST(100 AS DOUBLE) * SUM(CAST(ROUND(($x) * 100) AS BIGINT)) / COUNT(1)) AS BIGINT) AS DOUBLE) / 10000.0"
}
