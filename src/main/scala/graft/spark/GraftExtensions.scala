package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Session extension (the public Catalyst extension point,
  * `spark.sql.extensions=graft.spark.GraftExtensions`): registers the
  * native functions this library adds beyond Spark's built-ins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      CosineSim.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "cosine_sim takes exactly 2 arguments")
        CosineSim(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      DotProduct.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "dot_product takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("md5_words"),
      Md5Words.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "md5_words takes exactly 1 argument")
        Md5Words(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("rolling_min_hashes"),
      RollingMinHashes.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3,
          "rolling_min_hashes takes (str, window, k)")
        def lit(e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
          require(e.foldable, "rolling_min_hashes window/k must be literals")
          e.eval() match {
            case n: java.lang.Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"rolling_min_hashes window/k must be integer literals, got $other")
          }
        }
        RollingMinHashes(children.head, lit(children(1)), lit(children(2)))
      }))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      WordShingles.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "word_shingles takes (words, n)")
        require(children(1).foldable, "word_shingles n must be a literal")
        val n = children(1).eval() match {
          case num: java.lang.Number => num.intValue()
          case other => throw new IllegalArgumentException(
            s"word_shingles n must be an integer literal, got $other")
        }
        WordShingles(children.head, n)
      }))
    ext.injectFunction((
      FunctionIdentifier("murmur3_partition"),
      Murmur3Partition.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "murmur3_partition takes (key, numPartitions)")
        Murmur3Partition(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      MinHashBands.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "minhash_bands takes exactly 1 argument")
        MinHashBands(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash32"),
      SimHash32.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "simhash32 takes exactly 1 argument")
        SimHash32(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("payload_bytes"),
      PayloadBytes.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "payload_bytes takes exactly 1 argument")
        PayloadBytes(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("payload_stats"),
      PayloadStats.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "payload_stats takes exactly 1 argument")
        PayloadStats(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("channel_sigs"),
      ChannelSigs.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "channel_sigs takes exactly 1 argument")
        ChannelSigs(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("max_by_keys"),
      MaxByKeys.info,
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size >= 2, "max_by_keys takes (value, k1, ..., kn)")
        MaxByKeys(children.head, children.tail)
      }))
    // Spark's internal bloom-filter machinery (the expressions behind
    // runtime row-group filtering), exposed as named SQL functions for the
    // bloom-prefilter decontamination path. Spark does not register these
    // in the public FunctionRegistry; the classes themselves are public
    // Catalyst API. bloom_filter_agg(xxhash64(x), items, bits) builds the
    // filter; might_contain(bf, xxhash64(x)) probes it (no false
    // negatives — the property the prefilter relies on).
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
        "bloom_filter_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3, "bloom_filter_agg takes (xxhash64 col, estItems, numBits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
        "might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "might_contain takes (bloomFilter, xxhash64 col)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
    // rewrite aggregate(zip_with(a, b, *), 0.0, +) -> DotProduct(a, b)
    ext.injectOptimizerRule(_ => RewriteDotProduct)
  }
}
