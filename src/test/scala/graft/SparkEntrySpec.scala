package graft

import graft.nexmark.SparkSpec

/** Driver-contract sanity: the entry registry is consistent, the flagship
  * entry returns rows, and every query executes at the smallest scale
  * factor. (Value-level correctness is the DuckDB gate,
  * tools/selfcheck.py.)
  */
class SparkEntrySpec extends SparkSpec {
  val sfDir = "/root/testdata/sf0.001"

  test("every query has a matching oracle (names must align for the driver)") {
    val names = SparkEntry.entries.map(_.name)
    assert(names.size == 160)
    assert(names.distinct.size == names.size,
      s"names registered twice: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    val blank = SparkEntry.entries.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"entries with an empty oracle: $blank")
    // the naming convention still holds: isStream <=> the stream_ prefix
    val wrong = names.filter(n => SparkEntry.isStream(n) != n.startsWith("stream_"))
    assert(wrong.isEmpty, s"isStream disagrees with the name prefix: $wrong")
  }

  test("select throws on an unknown name and returns every entry for an empty set") {
    intercept[IllegalArgumentException](SparkEntry.select(Set("q5_hot_users", "no_such_entry")))
    assert(SparkEntry.select(Set.empty).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.select(Set("q5_hot_users", "s_kmeans")).keySet ==
      Set("q5_hot_users", "s_kmeans"))
  }

  test("entry() returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and return non-empty results at sf0.001") {
    // stream_* entries may legitimately emit nothing at sf0.001 (the
    // bounded volume can be too small for any window to pass the watermark
    // in append mode); they must still RUN clean. Their results are
    // oracle-gated at sf0.01 via the dumped-input DuckDB SQL (which agrees
    // on emptiness at any scale).
    val empty = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n == 0 && !SparkEntry.isStream(name)) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with empty results: $empty")
  }
}
