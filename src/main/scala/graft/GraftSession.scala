package graft

import org.apache.spark.sql.SparkSession

/** The one way this project builds a Spark session. Every main (`Bench`,
  * `Verify`, `NexmarkMain`, the `graft.tools` mains) and the test
  * `SparkSpec` come through here, so the profiled, benched, verified and
  * tested sessions share one conf set:
  *   - `local[cpus]`, shuffle partitions = cpus unless the caller passes
  *     a count;
  *   - AQE with partition coalescing;
  *   - UTC session time zone;
  *   - [[graft.spark.GraftExtensions]] (the native kernels);
  *   - UI off, log level WARN.
  *
  * Sessions come from `getOrCreate`: a second call in the same JVM returns
  * the running session, keeping its master and setting the SQL confs again.
  *
  * Hadoop client settings are not set here: `src/main/resources/core-site.xml`
  * is the one place for them. Hadoop loads it into every `Configuration`,
  * so it also reaches sessions this factory did not build, such as the
  * benchmark's. It registers [[graft.io.LocalCheckpointFileManager]] for
  * streaming checkpoints and pins `file:` to Hadoop's `LocalFileSystem`.
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, default 4. */
  val Cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int = Cpus, shufflePartitions: Option[Int] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cpus).toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The `graft.Bench` session, which `graft.tools.EntryProfile` profiles.
    * `SPARK_GRAFT_SHUFFLE` (measurement-only; unset → partitions = cpus)
    * decouples the shuffle partition count from the thread count for
    * decade-up runs, where cpus-many partitions over 10³× data
    * under-partition what cluster.conf's 2000 partitions are sized for
    * (r15: s_cosine_cc's 600 M bucket rows exhausted per-task execution
    * memory at 32 partitions).
    */
  def bench(): SparkSession =
    apply(shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt))

  /** Drop every cached relation and persisted or localCheckpointed RDD,
    * then hint a GC, so one entry's blocks never bleed into the next
    * entry's run. `clearCache()` alone is not enough: it leaves
    * localCheckpointed RDD blocks registered in the block manager, and
    * ~145 entries' worth of those churn it and slow the tail of a sweep
    * (BASELINE §round-13). Safe between entries, because nothing
    * references the previous entry's plan.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Run `body` with the given session confs set, then put every key back:
    * a key that had a value gets it again, a key that was unset is unset
    * again — also when `body` throws.
    */
  def withConf[T](spark: SparkSession)(kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => spark.conf.set(k, p)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
