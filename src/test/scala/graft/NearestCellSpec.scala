package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.nexmark.SparkSpec
import graft.queries.Similarity

/** Pins the tie rules of Similarity's nearest-cell helpers against a
  * plain-Scala reference on hand-built frames whose cosines tie EXACTLY
  * (parallel centroids of different lengths give the same double):
  *
  *   - [[Similarity.nearestCell]]: highest cos, equal cosines to the
  *     lower cid;
  *   - [[Similarity.topCells]]: probe order (cos desc, cid asc), also
  *     when a tie straddles the n-th slot;
  *   - [[Similarity.centroidCos]] with partition columns: a point only
  *     meets the centroids of its own partition.
  *
  * Plus a source guard: the cell argmax and the probe-list aggregate are
  * written once each in Similarity.scala (besides the two documented
  * exceptions), and the centroid broadcast only in centroidCos and its L2
  * twin centroidL2.
  */
class NearestCellSpec extends SparkSpec {
  import spark.implicits._

  // Every centroid length is a power of two, so parallel centroids give
  // bit-equal cosines: 100 ties four ways at 1.0 (cids 3, 7, 9, 11); 101
  // ties five ways at 1/√2 (those four on one axis, 5 on the other), so
  // its n = 2 cut falls inside the tie; 102 and 103 have a unique best
  // cell globally, and 103 ties 3 and 11 within its label.
  private val pts = Seq(
    (100L, "a", Array(1.0, 0.0)), (101L, "a", Array(1.0, 1.0)),
    (102L, "b", Array(-1.0, 0.25)), (103L, "b", Array(0.5, 2.0)))
    .toDF("vec_id", "label", "emb")
  private val cents = Seq(
    (7L, "a", Array(1.0, 0.0)), (3L, "b", Array(1.0, 0.0)), (9L, "a", Array(2.0, 0.0)),
    (11L, "b", Array(4.0, 0.0)), (5L, "a", Array(0.0, 2.0)), (1L, "b", Array(-1.0, 0.0)))
    .toDF("cid", "label", "cemb")

  private def cosOf(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]) = x.zip(y).map { case (u, v) => u * v }.sum
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  /** (vec_id, cid) -> cos, as the helper computes it. */
  private def sims(part: Seq[String]): Map[(Long, Long), Double] = {
    val c = if (part.isEmpty) cents.drop("label") else cents
    Similarity.centroidCos(pts, c, part = part)
      .select(col("vec_id"), col("cid"), col("cos")).as[(Long, Long, Double)]
      .collect().map { case (v, c, s) => (v, c) -> s }.toMap
  }

  /** Plain-Scala probe order of each vector: cos desc, then cid asc. */
  private def order(s: Map[(Long, Long), Double]): Map[Long, Seq[Long]] =
    s.toSeq.groupBy(_._1._1).map { case (v, cs) =>
      v -> cs.sortBy { case ((_, c), cos) => (-cos, c) }.map(_._1._2)
    }

  test("the similarity projection is the cosine of every point-centroid pair, with exact ties") {
    val s = sims(Nil)
    val rows = pts.as[(Long, String, Array[Double])].collect()
    val cs = cents.as[(Long, String, Array[Double])].collect()
    assert(s.size == rows.length * cs.length)
    for ((v, _, a) <- rows; (c, _, b) <- cs)
      assert(math.abs(s((v, c)) - cosOf(a, b)) < 1e-12, s"cos($v, $c)")
    assert(Seq(3L, 7L, 9L, 11L).map(c => s((100L, c))).distinct == Seq(1.0))
    assert(Seq(3L, 5L, 7L, 9L, 11L).map(c => s((101L, c))).distinct.size == 1)
  }

  test("nearestCell: highest cosine, equal cosines to the lower cid") {
    val s = sims(Nil)
    val got = Similarity.nearestCell(Similarity.centroidCos(pts, cents.drop("label")))
      .as[(Long, Long)].collect().toMap
    assert(got == order(s).map { case (v, cs) => v -> cs.head })
    assert(got(100L) == 3L && got(101L) == 3L)
  }

  test("topCells: cos desc, cid asc, including a tie that straddles the n-th slot") {
    val s = sims(Nil)
    val want = order(s)
    val sim = Similarity.centroidCos(pts, cents.drop("label"))
    for (n <- 1 to 6) {
      val ranked = Similarity.topCells(sim, n, ranked = true)
        .select(col("query_id"), col("np_min"), col("cid")).as[(Long, Long, Long)].collect()
      val ref = want.toSeq.flatMap { case (v, cs) =>
        cs.take(n).zipWithIndex.map { case (c, i) => (v, i + 1L, c) } }
      assert(ranked.toSet == ref.toSet, s"n=$n")
      val plain = Similarity.topCells(sim, n).as[(Long, Long)].collect()
      assert(plain.toSet == ref.map(r => (r._1, r._3)).toSet, s"n=$n")
    }
    // five cells tie for 101's first slot: n = 2 keeps exactly 3 and 5
    assert(want(101L).take(2) == Seq(3L, 5L))
  }

  test("a partitioned centroid set only matches its own partition") {
    val s = sims(Seq("label"))
    val labelOf = Map(100L -> "a", 101L -> "a", 102L -> "b", 103L -> "b")
    val cidLabel = cents.select("cid", "label").as[(Long, String)].collect().toMap
    assert(s.keys.forall { case (v, c) => labelOf(v) == cidLabel(c) })
    assert(s.size == labelOf.keys.toSeq.map(v => cidLabel.values.count(_ == labelOf(v))).sum)
    val got = Similarity.nearestCell(Similarity.centroidCos(pts, cents, part = Seq("label")))
      .as[(Long, Long)].collect().toMap
    assert(got == order(s).map { case (v, cs) => v -> cs.head })
    // 100's global cell is 3 (label b); within label a it ties 7 and 9
    assert(got(100L) == 7L)
  }

  test("Similarity.scala writes the cell argmax and the probe list once") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/queries/Similarity.scala")))
    def count(s: String): Int = s.r.findAllMatchIn(src).size
    // nearestCell + cellSplit's payload-carrying argmax
    assert(count(java.util.regex.Pattern.quote("""struct(col("cos"), negate(col("cid")))""")) == 2)
    // topCells + knnRangeFiltered's budget-sliced list
    assert(count(java.util.regex.Pattern.quote(
      """collect_list(struct(negate(col("cos")).as("ncos"), col("cid")))""")) == 2)
    // the only centroid broadcasts are the two projections': centroidCos
    // (cosine) and centroidL2 (L2)
    val sites = """broadcast\((\w*[cC]ent\w*|pivotCentroids\(\w+\))\)""".r.findAllMatchIn(src)
      .map(m => """def (\w+)""".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)).toSeq
    assert(sites.sorted == Seq("centroidCos", "centroidL2"))
    assert(!src.contains("kmeansInit"))
  }
}
