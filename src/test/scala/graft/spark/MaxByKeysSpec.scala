package graft.spark

import scala.util.Random
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.nexmark.SparkSpec

/** A nullable-column row of [[MaxByKeysSpec]]: group, value, three keys. */
case class MaxByKeysRow(g: Int, v: Option[Long], k1: Option[Long], k2: Option[Double], k3: Option[Int])

/** `max_by_keys(value, k1, …, kn)` against Spark's `max_by(value,
  * struct(k1, …, kn))` on random frames spread over 8 partitions, so each
  * group's answer goes through partial buffers and their merge.
  */
class MaxByKeysSpec extends SparkSpec {

  private val LongKeys = Array(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1, Long.MaxValue)
  private val DoubleKeys = Array(Double.NegativeInfinity, -1.5, 0.0, 2.5, Double.PositiveInfinity, Double.NaN)

  /** `n` rows over `groups` groups. Keys come from small domains with Long
    * and Double extremes, so greatest key tuples tie often; about 1 in 8
    * keys and values is null, and every group `g % 7 == 0` has a null `k1`
    * in each row, so no row of it qualifies.
    */
  private def frame(seed: Long, n: Int, groups: Int): DataFrame = {
    import spark.implicits._
    val rnd = new Random(seed)
    def maybe[T](t: => T): Option[T] = if (rnd.nextInt(8) == 0) None else Some(t)
    val rows = (0 until n).map { _ =>
      val g = rnd.nextInt(groups)
      val k1 = if (g % 7 == 0) None else maybe(LongKeys(rnd.nextInt(LongKeys.length)))
      MaxByKeysRow(g, maybe(rnd.nextLong()), k1, maybe(DoubleKeys(rnd.nextInt(DoubleKeys.length))),
        maybe(rnd.nextInt(3) - 1))
    }
    spark.createDataset(rows).toDF().repartition(8)
  }

  /** max_by_keys and max_by over the same keys, per group, sorted by group.
    * The value is a function of those keys (null for about 1 in 5 tuples),
    * so tied rows carry the same value and the two must agree exactly.
    */
  private def both(df: DataFrame, keys: String*): (Seq[Row], Seq[Row]) = {
    val ks = keys.map(col)
    val h = xxhash64(ks: _*)
    val v = when(pmod(h, lit(5L)) =!= 0L, h)
    val ordering = if (ks.size == 1) ks.head else when(!ks.map(_.isNull).reduce(_ || _), struct(ks: _*))
    def run(agg: org.apache.spark.sql.Column) =
      df.groupBy("g").agg(agg.as("w")).orderBy("g").collect().toSeq
    (run(call_function("max_by_keys", v +: ks: _*)), run(max_by(v, ordering)))
  }

  test("equals max_by over the struct of its keys: ties, Long and Double extremes, nulls") {
    for (seed <- 1L to 6L) {
      val df = frame(seed, 3000, 60)
      for (keys <- Seq(Seq("k1"), Seq("k1", "k2"), Seq("k1", "k2", "k3"), Seq("k3", "k2", "k1"))) {
        val (got, want) = both(df, keys: _*)
        assert(got == want, s"seed $seed keys ${keys.mkString(",")}")
      }
    }
  }

  test("null values win as null; null-key rows are skipped; no qualifying row gives null") {
    import spark.implicits._
    val df = Seq[(Int, Option[Long], Option[Long], Option[Long])](
      (1, None, Some(5L), Some(0L)), (1, Some(3L), Some(4L), Some(9L)),
      (2, Some(1L), None, Some(1L)), (2, Some(2L), Some(1L), None),
      (3, Some(7L), None, Some(Long.MaxValue)), (3, Some(8L), Some(Long.MinValue), Some(Long.MinValue)))
      .toDF("g", "v", "k1", "k2").repartition(3)
    val got = df.groupBy("g").agg(call_function("max_by_keys", col("v"), col("k1"), col("k2")))
      .orderBy("g").collect().map(r => Option(r.get(1))).toSeq
    assert(got == Seq(None, None, Some(8L)))
  }

  test("with tied winners carrying different values, the result is one of them") {
    val df = frame(11L, 3000, 40)
    val got = df.groupBy("g").agg(call_function("max_by_keys", col("v"), col("k1"), col("k3")).as("w"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    val rows = df.collect()
    val ord = Ordering.Tuple2(Ordering.Long, Ordering.Int)
    for ((g, w) <- got) {
      val qualifying = rows.filter(r => r.getInt(0) == g && !r.isNullAt(2) && !r.isNullAt(4))
      if (qualifying.isEmpty) assert(w.isEmpty, s"group $g")
      else {
        val top = qualifying.map(r => (r.getLong(2), r.getInt(4))).max(ord)
        val tied = qualifying.filter(r => (r.getLong(2), r.getInt(4)) == top).map(r => Option(r.get(1)))
        assert(tied.contains(w), s"group $g: $w not among ${tied.mkString(",")}")
      }
    }
  }

  test("a tie keeps the buffered row: the first of equal keys in one partition wins") {
    import spark.implicits._
    val df = Seq((1, 10L, 5L), (1, 20L, 5L), (1, 30L, 4L), (2, 7L, 9L), (2, 8L, 9L))
      .toDF("g", "v", "k").coalesce(1)
    val got = df.groupBy("g").agg(call_function("max_by_keys", col("v"), col("k")))
      .orderBy("g").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(10L, 7L))
  }

  test("plans HashAggregate, never SortAggregate or a Sort") {
    val df = frame(3L, 500, 20)
      .groupBy("g").agg(call_function("max_by_keys", col("v"), col("k1"), col("k2"), col("k3")))
    GraftSession.withConf(spark)("spark.sql.adaptive.enabled" -> "false") {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case h: HashAggregateExec => h }.size == 2, plan)
      assert(plan.collect {
        case s: SortAggregateExec => s
        case o: ObjectHashAggregateExec => o
        case s: SortExec => s
      }.isEmpty, plan)
    }
  }

  test("rejects variable-width values and keys, and a call without keys") {
    import spark.implicits._
    val df = Seq((1, "a", 1L)).toDF("g", "s", "k")
    for (bad <- Seq("max_by_keys(s, k)", "max_by_keys(k, s)"))
      intercept[AnalysisException](df.groupBy("g").agg(expr(bad)).collect())
    intercept[Exception](df.groupBy("g").agg(expr("max_by_keys(k)")).collect())
  }
}
