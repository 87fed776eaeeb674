package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: <sfDir> <outDir>; optional third arg = comma-
    // separated query names for fast local iteration on a subset
    val (sfDir, outDir) = (args(0), args(1))
    val queries = SparkEntry.select(
      if (args.length > 2) args(2).split(",").toSet else Set.empty)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try {
        SparkEntry.oracleInputs.get(name).foreach(_(spark, sfDir))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
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
      GraftSession.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
