package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.spark.MinHashBands

/** Timing of the `graft.Tables` readers and the `graft.spark` kernels,
  * over a fixture directory: the sf0.1 tables of `batch_sf01`, or a small
  * fixture generated from the seed ([[Fixture]]) in every traced stream
  * run. Each kernel's output is checked against a plain-Scala reference on
  * up to [[CheckedRows]] rows, outside the timed passes.
  */
object BatchLayers {
  /** Query vectors paired with every embedding when timing the similarity kernels. */
  val KernelQueries = 1000
  /** The documents are repeated up to at least this many rows, so that a
    * pass is mostly kernel work. */
  val KernelDocs = 100000L
  val CheckedRows = 2000
  val Passes = 3

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  val Readers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings, "lineitem" -> Tables.lineitem)

  /** `tables.<name>.scan_s` (the read plus the row count and hash over
    * every column, median of [[Passes]]) and each table's row count and hash.
    */
  def tables(spark: SparkSession, dir: String): (Map[String, Double], Map[String, (Long, String)]) = {
    val runs = Readers.map { case (name, read) =>
      val passes = (1 to Passes).map { _ =>
        val t0 = System.nanoTime()
        val h = BatchBench.rowsAndHash(read(spark, dir))
        ((System.nanoTime() - t0) / 1e9, h)
      }
      (s"tables.$name.scan_s" -> median(passes.map(_._1)), name -> passes.head._2)
    }
    (runs.map(_._1).toMap, runs.map(_._2).toMap)
  }

  /** `kernel.<name>.ns_per_row` (a pass computes the kernel over its
    * input and sums a 64-bit hash of its output per row; median of
    * [[Passes]]) and the output check: rows checked, and rows that differ
    * from the reference.
    */
  def kernels(spark: SparkSession, dir: String): (Map[String, Double], Check) = {
    val base = Tables.documents(spark, dir).select(col("text"), split(lower(col("text")), "\\s+").as("toks"))
    val copies = math.max(1L, (KernelDocs + base.count() - 1) / base.count())
    val docs = base.crossJoin(spark.range(copies)).drop("id").cache()
    val emb = Tables.embeddings(spark, dir).select(col("embedding").cast("array<double>").as("e")).cache()
    val pairs = emb.crossJoin(broadcast(emb.limit(KernelQueries).select(col("e").as("q"))))
    def passNs(in: DataFrame, e: String): Double = median((1 to Passes).map { _ =>
      val t0 = System.nanoTime()
      in.select(xxhash64(expr(e)).cast(DecimalType(38, 0)).as("h")).agg(sum(col("h"))).head()
      (System.nanoTime() - t0).toDouble
    })
    val rows = Map(docs -> docs.count(), pairs -> pairs.count())
    // checked on distinct documents, not on copies
    val checkedOn = Map(docs -> base, pairs -> pairs)
    val cases = Seq[(String, DataFrame, String, Row => Any, (Any, Any) => Boolean)](
      ("cosine_sim", pairs, "cosine_sim(e, q)", r => Reference.cosine(vec(r, 0), vec(r, 1)), close),
      ("dot_product", pairs, "dot_product(e, q)", r => Reference.dot(vec(r, 0), vec(r, 1)), close),
      ("minhash_bands", docs, "minhash_bands(toks)", r => Reference.minhashBands(toks(r)), same),
      ("rolling_min_hashes", docs, "rolling_min_hashes(text, 5, 16)",
        r => Reference.rollingMinHashes(r.getString(0), 5, 16), same),
      ("simhash32", docs, "simhash32(toks)", r => Reference.simhash32(toks(r)), same),
      ("word_shingles", docs, "word_shingles(toks, 3)", r => Reference.wordShingles(toks(r), 3), same))
    var checked, wrong = 0L
    val times = cases.map { case (name, in, call, reference, eq) =>
      checkedOn(in).select(col("*"), expr(call).as("out")).limit(CheckedRows).collect().foreach { r =>
        checked += 1
        if (!eq(r.get(r.length - 1), reference(r))) wrong += 1
      }
      s"kernel.$name.ns_per_row" -> passNs(in, call) / rows(in)
    }.toMap
    docs.unpersist(blocking = true)
    emb.unpersist(blocking = true)
    (times, Check(checked, 0, wrong, 0, 0, 0, 0, 0))
  }

  private def vec(r: Row, i: Int): Seq[Double] = r.getSeq[Double](i)
  private def toks(r: Row): Seq[String] = r.getSeq[String](1)
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) => x.toSeq == y.toSeq
    case _ => a == b
  }
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case _ => false
  }
}

/** The kernels' contracts written out with plain Scala collections. */
object Reference {
  def dot(a: Seq[Double], b: Seq[Double]): Double = a.zip(b).map { case (x, y) => x * y }.sum

  def cosine(a: Seq[Double], b: Seq[Double]): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  private def md5(s: String): Array[Byte] = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
  private def u32(d: Array[Byte], at: Int): Long =
    (0 until 4).foldLeft(0L)((acc, k) => (acc << 8) | (d(at + k) & 0xffL))

  /** Distinct space-joined n-word shingles, in order of first occurrence. */
  def wordShingles(words: Seq[String], n: Int): Seq[String] =
    if (words.size < n) Nil else words.sliding(n).map(_.mkString(" ")).toSeq.distinct

  /** The k smallest 31-polynomial hashes of the window-byte substrings, ascending. */
  def rollingMinHashes(s: String, window: Int, k: Int): Seq[Long] = {
    val b = s.getBytes(UTF_8)
    (0 to b.length - window).map(i => (i until i + window).foldLeft(0L)((h, j) => h * 31L + (b(j) & 0xffL)))
      .sorted.take(k)
  }

  /** 32-bit SimHash: bit k of word w votes with bit (k mod 4) of the
    * (k / 4)-th nibble of md5(w), high nibble first.
    */
  def simhash32(words: Seq[String]): Long = {
    val sums = new Array[Int](32)
    words.foreach { w =>
      val d = md5(w)
      for (k <- 0 until 32) {
        val byte = d(k / 8) & 0xff
        val nib = if ((k / 4) % 2 == 0) byte >> 4 else byte & 0xf
        sums(k) += (if (((nib >> (k % 4)) & 1) == 1) 1 else -1)
      }
    }
    (0 until 32).filter(sums(_) > 0).foldLeft(0L)((sig, k) => sig | (1L << k))
  }

  /** The band keys of a 12-member MinHash signature over the md5 words of
    * each token: md5 hex of each band's members joined with ':'.
    */
  def minhashBands(toks: Seq[String]): Seq[String] = {
    import MinHashBands.{MixP, NumBands, NumHashes, RowsPerBand, mixK}
    val sig = (0 until NumHashes).map { i =>
      toks.map { t =>
        val d = md5(t)
        (0 until 4).map(slot => u32(d, 4 * slot) * mixK(i, slot)).sum % MixP(i)
      }.foldLeft(Long.MaxValue)(math.min)
    }
    (0 until NumBands).map { b =>
      md5(sig.slice(b * RowsPerBand, (b + 1) * RowsPerBand).mkString(":")).map(x => f"${x & 0xff}%02x").mkString
    }
  }
}

/** A small fixture of the four tables [[BatchLayers]] reads, in the
  * schemas of the sf fixtures (`TESTDATA.md`), made from a seed: the same
  * seed writes the same tables.
  */
object Fixture {
  val Events = 40000
  val Documents = 20000
  val Embeddings = 1000
  val Dim = 64
  val Lineitems = 80000
  private val Vocabulary = ("a the key agg row scan slow fast table value part hash merge batch spark " +
    "line sort window order data column join small customer query big stream group filter").split(" ")
  /** 2024-01-01T00:00:00Z, ms. */
  private val Start = 1704067200000L

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    (0 until Documents).map { i =>
      val text = Seq.fill(20 + rnd.nextInt(60))(Vocabulary(rnd.nextInt(Vocabulary.length))).mkString(" ")
      (i.toLong, text, "en", s"src${i % 5}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents.parquet")
    (0 until Embeddings).map { i =>
      (i.toLong, Array.fill(Dim)(rnd.nextGaussian().toFloat), rnd.nextInt(10))
    }.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    // hash-derived columns: pseudo-random per row and seed, generated in parallel
    def u(salt: Int, mod: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(mod))
    spark.range(Events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Start * 1000L) + u(1, 86400L * 1000000L)).as("ts"),
      u(2, 1000L).as("user_id"),
      element_at(array(Seq("view", "click", "buy", "error").map(lit): _*), (u(3, 4L) + 1).cast("int")).as("event_type"),
      (u(4, 10000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(5, 100L).cast("string"), lit("}")).as("props")
    ).write.parquet(s"$dir/events.parquet")
    spark.range(Lineitems).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      u(1, 20000L).as("l_partkey"),
      u(2, 1000L).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(3, 50L) + 1).cast("double").as("l_quantity"),
      (u(4, 10000000L) / 100.0).as("l_extendedprice"),
      (u(5, 11L) / 100.0).as("l_discount"),
      (u(6, 9L) / 100.0).as("l_tax"),
      element_at(array(Seq("A", "N", "R").map(lit): _*), (u(7, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(Seq("F", "O").map(lit): _*), (u(8, 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_micros(lit(Start * 1000L) + u(9, 2500L * 86400L) * 1000000L).as("l_shipdate")
    ).write.parquet(s"$dir/lineitem.parquet")
  }

  /** Rows and hash of each generated table as written, to check a reader against. */
  def written(spark: SparkSession, dir: String): Map[String, (Long, String)] =
    BatchLayers.Readers.map { case (name, _) =>
      name -> BatchBench.rowsAndHash(spark.read.parquet(s"$dir/$name.parquet"))
    }.toMap
}
