package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.nexmark.SparkSpec
import graft.queries.Similarity
import graft.queries.Similarity.{KmeansL2, L2Space, PqL2}

/** Pins Similarity's L2 nearest-centroid mechanism against a plain-Scala
  * reference on hand-built frames of small-integer coordinates, where
  * every d2 is exact and equal distances are bit-equal:
  *
  *   - [[Similarity.centroidL2]] + [[Similarity.nearestL2]]: lowest d2,
  *     equal d2 to the lower id; with partition columns (PQ subspaces) a
  *     point meets only its own partition's centroids;
  *   - [[Similarity.lloyd]]: the same assignments, exact 2⁻²⁰-quantized
  *     means and round trace as a plain-Scala Lloyd's, for k-means and for
  *     PQ's per-subspace cells; the round guard throws.
  *
  * Plus a source guard: Similarity.scala writes the L2 argmin, the
  * quantized mean update and the Lloyd's loop once each.
  */
class NearestL2Spec extends SparkSpec {
  import spark.implicits._

  private val Q = 1048576.0

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.size) { s += a(i) * b(i); i += 1 }
    s
  }
  /** The pinned ((x·x − 2·x·c) + c·c) composition. */
  private def d2(x: Seq[Double], c: Seq[Double]): Double = (dot(x, x) - 2.0 * dot(x, c)) + dot(c, c)

  /** A point: (vec_id, partition, vector); a centroid key: (partition, id). */
  private type Pt = (Long, Int, Seq[Double])

  /** Each (vec_id, partition)'s nearest centroid of its partition, ties to the lower id. */
  private def assignRef(pts: Seq[Pt], cents: Map[(Int, Long), Seq[Double]]): Map[(Long, Int), (Long, Double)] =
    pts.map { case (v, p, x) =>
      (v, p) -> cents.toSeq.collect { case ((cp, id), c) if cp == p => (id, d2(x, c)) }
        .sortWith { case ((i1, a), (i2, b)) => a < b || (a == b && i1 < i2) }.head
    }.toMap

  private def meansRef(pts: Seq[Pt], a: Map[(Long, Int), (Long, Double)]): Map[(Int, Long), Seq[Double]] =
    pts.groupBy { case (v, p, _) => (p, a((v, p))._1) }.map { case (cell, ps) =>
      cell -> ps.head._3.indices.map(i => ps.map(q => math.round(q._3(i) * Q)).sum.toDouble / ps.size / Q)
    }

  private def inertiaRef(a: Map[(Long, Int), (Long, Double)]): Long =
    a.values.map { case (_, d) => BigDecimal(d * Q).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong }.sum

  /** Plain-Scala Lloyd's: final assignment, final centroids, (round, changed, inertiaQ) trace. */
  private def lloydRef(pts: Seq[Pt], init: Map[(Int, Long), Seq[Double]]) = {
    var cents = init
    var a = assignRef(pts, cents)
    val trace = scala.collection.mutable.ArrayBuffer((1, a.size.toLong, inertiaRef(a)))
    var changed = a.size.toLong
    while (changed != 0) {
      cents = meansRef(pts, a)
      val b = assignRef(pts, cents)
      changed = a.count { case (k, (id, _)) => b(k)._1 != id }.toLong
      a = b
      trace += ((trace.size + 1, changed, inertiaRef(a)))
    }
    (a, cents, trace.toSeq)
  }

  private def withSelfDot(df: DataFrame, v: String, as: String): DataFrame =
    df.withColumn(as, call_function("dot_product", col(v), col(v)))

  // k-means frame: ten points on two rows of the integer grid; seeds 1, 2
  // and 4 need three mean updates to converge.
  private val kmPts: Seq[Pt] = Seq(
    1L -> Seq(0.0, 0.0), 2L -> Seq(1.0, 0.0), 3L -> Seq(2.0, 0.0), 4L -> Seq(3.0, 0.0),
    5L -> Seq(4.0, 1.0), 6L -> Seq(6.0, 0.0), 7L -> Seq(7.0, 1.0), 8L -> Seq(9.0, 0.0),
    9L -> Seq(10.0, 0.0), 10L -> Seq(12.0, 1.0)).map { case (v, x) => (v, 0, x) }
  private val kmSeeds = Seq(1L, 2L, 4L)

  private def kmFrame(pts: Seq[Pt]): DataFrame =
    withSelfDot(pts.map { case (v, _, x) => (v, x.toArray) }.toDF("vec_id", "emb"), "emb", "ssq")
  private def kmCents(cs: Seq[(Long, Seq[Double])]): DataFrame =
    withSelfDot(cs.map { case (id, c) => (id, c.toArray) }.toDF("cid", "cemb"), "cemb", "csq")

  // PQ frame: two subspaces; (4, 1) of subspace 0 and (0, 3) of subspace 1
  // coincide with a codeword of the OTHER subspace, which a cross join
  // would pick at d2 = 0.
  private val pqPts: Seq[Pt] = Seq(
    (1L, 0, Seq(0.0, 0.0)), (2L, 0, Seq(2.0, 0.0)), (3L, 0, Seq(4.0, 1.0)), (4L, 0, Seq(5.0, 0.0)),
    (1L, 1, Seq(1.0, 1.0)), (2L, 1, Seq(0.0, 3.0)), (3L, 1, Seq(1.0, 5.0)), (4L, 1, Seq(-1.0, 4.0)))
  private val pqCw: Map[(Int, Long), Seq[Double]] = Map(
    (0, 7L) -> Seq(1.0, 0.0), (0, 3L) -> Seq(3.0, 0.0), (0, 9L) -> Seq(0.0, 3.0),
    (1, 2L) -> Seq(-1.0, 2.0), (1, 5L) -> Seq(1.0, 2.0), (1, 6L) -> Seq(4.0, 1.0))

  // PQ Lloyd's frame: subspace 0 is the k-means frame with its seeds,
  // subspace 1 a transposed shuffle of it seeded from vectors 1, 2 and 3;
  // the subspaces converge after different round counts.
  private val pqLoopPts: Seq[Pt] = kmPts.flatMap { case (v, _, x) =>
    Seq((v, 0, x), (v, 1, Seq(x(1), kmPts.find(_._1 == 11 - v).get._3(0)))) }
  private val pqLoopCw: Map[(Int, Long), Seq[Double]] =
    kmSeeds.map(s => (0, s) -> kmPts.find(_._1 == s).get._3).toMap ++
      Seq(1L, 2L, 3L).map(v => (1, 19L + v) -> pqLoopPts.find(p => p._1 == v && p._2 == 1).get._3)

  private def pqFrame(pts: Seq[Pt]): DataFrame =
    withSelfDot(pts.map { case (v, j, x) => (v, j, x.toArray) }.toDF("vec_id", "j", "sub"), "sub", "ssq")
  private def pqCents(cs: Map[(Int, Long), Seq[Double]]): DataFrame =
    withSelfDot(cs.toSeq.map { case ((j, c), x) => (c, j, x.toArray) }.toDF("code", "j", "cwv"), "cwv", "csq")

  /** (vec_id, part) -> (id, d2) of a [[Similarity.nearestL2]] frame. */
  private def collectAssign(df: DataFrame, s: L2Space): Map[(Long, Int), (Long, Double)] = {
    val p = s.part.headOption
    df.select(col("vec_id"), p.map(col).getOrElse(lit(0)), col(s.id), col("d2"))
      .as[(Long, Int, Long, Double)].collect()
      .map { case (v, j, id, d) => (v, j) -> (id, d) }.toMap
  }

  test("k-means: the projection is the pinned d2 and equal d2 go to the lower cid") {
    // (2, 0) is at d2 = 1 from cids 3, 5 and 6, and (0, 1) at d2 = 2 from 1, 4 and 5
    val pts: Seq[Pt] = Seq((100L, 0, Seq(2.0, 0.0)), (101L, 0, Seq(0.0, 1.0)), (102L, 0, Seq(5.0, 5.0)))
    val cs = Seq(6L -> Seq(2.0, 1.0), 3L -> Seq(3.0, 0.0), 5L -> Seq(1.0, 0.0),
                 4L -> Seq(-1.0, 0.0), 1L -> Seq(1.0, 2.0))
    val sims = Similarity.centroidL2(kmFrame(pts), kmCents(cs), KmeansL2)
      .select("vec_id", "cid", "d2").as[(Long, Long, Double)].collect()
    assert(sims.length == pts.size * cs.size)
    val byKey = pts.map(p => p._1 -> p._3).toMap
    val cent = cs.toMap
    for ((v, c, d) <- sims) assert(d == d2(byKey(v), cent(c)), s"d2($v, $c)")
    assert(Seq(3L, 5L, 6L).map(c => sims.find(r => r._1 == 100L && r._2 == c).get._3).distinct == Seq(1.0))
    val got = collectAssign(
      Similarity.nearestL2(Similarity.centroidL2(kmFrame(pts), kmCents(cs), KmeansL2), KmeansL2), KmeansL2)
    assert(got == assignRef(pts, cs.map { case (id, c) => (0, id) -> c }.toMap))
    assert(got((100L, 0)) == ((3L, 1.0)) && got((101L, 0)) == ((1L, 2.0)))
  }

  test("PQ: a sub-vector meets only its subspace's codewords; equal d2 go to the lower code") {
    val sims = Similarity.centroidL2(pqFrame(pqPts), pqCents(pqCw), PqL2)
      .select("vec_id", "j", "code", "d2").as[(Long, Int, Long, Double)].collect()
    assert(sims.forall { case (_, j, c, _) => pqCw.contains((j, c)) })
    assert(sims.length == pqPts.map(p => pqCw.keys.count(_._1 == p._2)).sum)
    val got = collectAssign(
      Similarity.nearestL2(Similarity.centroidL2(pqFrame(pqPts), pqCents(pqCw), PqL2), PqL2), PqL2)
    assert(got == assignRef(pqPts, pqCw))
    // (2, 0) in subspace 0 ties codes 3 and 7 at d2 = 1; (0, 3) in
    // subspace 1 ties codes 2 and 5 at d2 = 2 (and is code 9 of subspace 0)
    assert(got((2L, 0)) == ((3L, 1.0)) && got((2L, 1)) == ((2L, 2.0)))
  }

  test("lloyd matches a plain-Scala Lloyd's: assignments, quantized means, trace") {
    val kmInit = kmSeeds.map(s => s -> kmPts.find(_._1 == s).get._3)
    val (wantA, wantC, wantT) = lloydRef(kmPts, kmInit.map { case (id, c) => (0, id) -> c }.toMap)
    assert(wantT.size >= 4, s"fixture converges too fast: $wantT")
    val km = Similarity.lloyd(kmFrame(kmPts), kmCents(kmInit), KmeansL2, maxRounds = 10, "k-means")
    assert(collectAssign(km.assign, KmeansL2) == wantA)
    assert(km.trace.map(r => (r.round, r.changed, r.inertiaQ)) == wantT)
    val kmCent = km.cents.select("cid", "cemb", "csq").as[(Long, Seq[Double], Double)].collect()
    assert(kmCent.map { case (id, c, _) => (0, id) -> c }.toMap == wantC)
    assert(kmCent.forall { case (_, c, q) => q == dot(c, c) })

    val (pA, pC, pT) = lloydRef(pqLoopPts, pqLoopCw)
    assert(pT.size >= 5, s"fixture converges too fast: $pT")
    val pq = Similarity.lloyd(pqFrame(pqLoopPts), pqCents(pqLoopCw), PqL2, maxRounds = 10, "PQ")
    assert(collectAssign(pq.assign, PqL2) == pA)
    assert(pq.trace.map(r => (r.round, r.changed, r.inertiaQ)) == pT)
    assert(pq.cents.select("j", "code", "cwv").as[(Int, Long, Seq[Double])].collect()
      .map { case (j, c, v) => (j, c) -> v }.toMap == pC)
  }

  test("lloyd fails loudly at its round guard") {
    val kmInit = kmCents(kmSeeds.map(s => s -> kmPts.find(_._1 == s).get._3))
    val rounds = Similarity.lloyd(kmFrame(kmPts), kmInit, KmeansL2, maxRounds = 10, "k-means").trace.size
    val e = intercept[IllegalStateException](
      Similarity.lloyd(kmFrame(kmPts), kmInit, KmeansL2, maxRounds = rounds - 1, "k-means"))
    assert(e.getMessage.contains(s"k-means did not converge in ${rounds - 1} rounds"))
    assert(Similarity.lloyd(kmFrame(kmPts), kmInit, KmeansL2, rounds, "k-means").trace.size == rounds)
  }

  test("Similarity.scala writes the L2 argmin, the quantized mean update and the Lloyd's loop once") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/queries/Similarity.scala")))
    def count(s: String): Int = Pattern.quote(s).r.findAllMatchIn(src).size
    assert(count("min_by(") == 1)
    assert(count("""expr(s"SUM(CAST(ROUND(x * $KmeansQ) AS BIGINT))")""") == 1)
    assert(count("""expr(s"CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE) / $KmeansQ")""") == 1)
    assert(count("""expr(s"SUM(CAST(ROUND(d2 * $KmeansQ) AS BIGINT))")""") == 1)
    assert(count("did not converge") == 1)
    assert(count("l2sqPre(col(\"ssq\")") == 1)
  }
}
