package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: <sfDir> <outDir>; optional third arg = comma-
    // separated query names for fast local iteration on a subset
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // a typo'd filter silently verifying nothing would read as "green"
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE previous dump behind —
        // selfcheck would compare the old parquet and report it green
        // cleanup failures must not escape this catch — they would abort
        // the remaining queries and defeat the per-query isolation
        try {
          val dir = new java.io.File(s"$outDir/$name")
          if (dir.exists()) {
            val walk = Files.walk(dir.toPath)
            try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .forEach(p => Files.deleteIfExists(p))
            finally walk.close()
          }
        } catch { case c: Throwable =>
          System.err.println(s"[verify] $name stale-dump cleanup failed: ${c.getMessage}")
        }
      }
      // cache hygiene: no query's cached/checkpointed blocks may bleed
      // into the next one's run. clearCache() alone leaves localCheckpoint
      // blocks registered — ~145 entries' worth of those churns the block
      // manager and slows the tail of the sweep (BASELINE §round-13)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
