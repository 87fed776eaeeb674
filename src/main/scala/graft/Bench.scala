package graft

/** Driver-run benchmark: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR. A warmup pass at the smallest SF first loads
  * classes/codegen caches so per-query numbers reflect steady-state
  * execution rather than JVM startup.
  *
  * Failures are loud: a query that throws is reported in an "errors" map
  * (first line of the exception) and EXCLUDED from the per-query times and
  * the total — a broken query must never record a fast time.
  *
  * Cache hygiene: [[GraftSession.sweep]] after every run, so one query's
  * cached/checkpointed blocks can never bleed into another's measurement.
  *
  * SPARK_GRAFT_ONLY (optional): comma-separated query names — bench only
  * those. For local profiling; the driver leaves it unset.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // the streaming entries' oracle input dumps are correctness-surface
    // work, not pipeline work — skip them so bench numbers stay pure
    System.setProperty("graft.stream.dumpInputs", "false")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.select(
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty))
    val spark = GraftSession.bench()

    // warmup: exercise every query once at the smallest SF (class loading,
    // codegen compilation, parquet footer caches)
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
      GraftSession.sweep(spark)
    }
    // ambient probe (r13 VERDICT Next #6): a FIXED trivial job — 32 empty
    // task slots + one 2k-row codegen'd map-aggregate — timed 3×, median.
    // It measures the box's scheduling/dispatch floor at run time, so the
    // budget gate can adjudicate sub-second breaches against ambient drift
    // (the s_quantize_int8 re-key class: entries with < 0.3 s absolute
    // headroom alarming on box noise, not code). Runs after warmup so it
    // sees the same steady-state JVM the entries do.
    def ambientProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000, 1, GraftSession.Cpus).selectExpr("sum(id * 2 + 1) as s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val ambient = (1 to 3).map(_ => ambientProbe()).sorted.apply(1)

    // best of 2 timed runs per query: single-run numbers on a shared box
    // showed 2x run-to-run variance from GC/compilation/OS noise.
    // GRAFT_BENCH_RUNS (measurement-only, default 2) drops to single-run
    // for the >5-minute-per-run decade probes, where a second pass costs
    // more wall-clock than the variance it removes — any BASELINE row
    // recorded under it says so.
    val benchRuns = sys.env.get("GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(2)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = queries.flatMap { case (name, fn) =>
      val runs = (1 to benchRuns).flatMap { _ =>
        val t0 = System.nanoTime()
        val r = try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200)
            errors(name) = msg
            System.err.println(s"BENCH FAILURE $name: $msg")
            None
        }
        GraftSession.sweep(spark)
        r
      }
      // any failed run disqualifies the query's time entirely: a partially
      // broken query must never contribute a (possibly lucky) number
      if (runs.isEmpty || errors.contains(name)) None else Some(name -> runs.min)
    }
    // ms precision: the driver captures only a bounded tail of stdout, and
    // 71 entries at full double precision overflowed it in round 6
    // (BENCH_r06.json "parsed": null) — keep the report line short
    def jnum(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => Json.str(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","ambient":${jnum(ambient)},"queries":$qs,"errors":$es,"n_failed":${errors.size},"sf":"$sfDir"}"""
    println(line)
    // Ledger durability (r16 VERDICT What's-wrong #3 / Next #6): the r15
    // stdout line was half-lost to the driver's bounded tail capture,
    // which zeroed that round's entire PERF comparison. Also write the
    // identical line to a file next to the run — a PURE ADDITION: the
    // stdout contract, env contract and methodology are unchanged.
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LINE.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"BENCH_LINE.json write failed (report already on stdout): $e") }
    // exit 0 even with failures: the JSON line (with its "errors" map) must
    // reach the driver; a non-zero exit could discard the whole report.
    spark.stop()
  }
}
