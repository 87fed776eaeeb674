package graft

import graft.nexmark.SparkSpec
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory and its scoped-conf helper, plus a structural guard
  * over `src/main`: sessions are built in one place, the thread count is
  * read in one place, partitions are sized in one place ([[Sizing]]), the
  * checkpoint file manager and the `file:` file system are registered in
  * one place (`core-site.xml`),
  * the nexmark generator is read in one place ([[graft.nexmark.NexmarkSources]]),
  * and no measurement-only stream/state knob or one-off probe main comes
  * back. The guard counts source text, so machine load cannot move
  * it.
  */
class GraftSessionSpec extends SparkSpec {

  private val SetKey = "graft.spec.withConf.set"
  private val UnsetKey = "graft.spec.withConf.unset"

  private def scoped(body: => Unit): Unit =
    GraftSession.withConf(spark)(SetKey -> "inner", UnsetKey -> "inner")(body)

  test("withConf sets keys for the body and restores previous values and unset keys") {
    spark.conf.set(SetKey, "outer")
    spark.conf.unset(UnsetKey)
    scoped {
      assert(spark.conf.get(SetKey) == "inner")
      assert(spark.conf.get(UnsetKey) == "inner")
    }
    assert(spark.conf.get(SetKey) == "outer")
    assert(spark.conf.getOption(UnsetKey).isEmpty)
    spark.conf.unset(SetKey)
  }

  test("withConf restores previous values and unset keys when the body throws") {
    spark.conf.set(SetKey, "outer")
    spark.conf.unset(UnsetKey)
    val e = intercept[IllegalStateException](scoped(throw new IllegalStateException("boom")))
    assert(e.getMessage == "boom")
    assert(spark.conf.get(SetKey) == "outer")
    assert(spark.conf.getOption(UnsetKey).isEmpty)
    spark.conf.unset(SetKey)
  }

  test("the spec session is the factory's: UTC, GraftExtensions, 4 shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.catalog.functionExists("cosine_sim"), "GraftExtensions not loaded")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  private val mainRoot: Path = Paths.get("src", "main", "scala")

  private lazy val mainSources: Map[String, String] = {
    require(Files.isDirectory(mainRoot), s"run from the repository root: no $mainRoot")
    val walk = Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => mainRoot.relativize(p).toString -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def filesMatching(regex: String): Set[String] = {
    val r = regex.r
    mainSources.collect { case (f, text) if r.findFirstIn(text).isDefined => f }.toSet
  }

  private def occurrences(literal: String): Int = {
    val r = java.util.regex.Pattern.quote(literal).r
    mainSources.values.map(r.findAllIn(_).size).sum
  }

  test("SparkSession.builder appears only in GraftSession") {
    assert(filesMatching("""SparkSession\s*\.\s*builder""") == Set("graft/GraftSession.scala"))
  }

  test("SPARK_GRAFT_CPUS and SPARK_GRAFT_SHUFFLE are each read in exactly one place") {
    assert(occurrences("\"SPARK_GRAFT_CPUS\"") == 1)
    assert(occurrences("\"SPARK_GRAFT_SHUFFLE\"") == 1)
    assert(filesMatching("\"SPARK_GRAFT_(CPUS|SHUFFLE)\"") == Set("graft/GraftSession.scala"))
  }

  test("the core count and AQE's byte floor are read only in Sizing") {
    assert(filesMatching("defaultParallelism") == Set("graft/Sizing.scala"))
    assert(filesMatching("""coalescePartitions\.minPartitionSize""") == Set("graft/Sizing.scala"))
  }

  test("no GRAFT_STREAM_* / GRAFT_STATE_* env knob is read") {
    assert(filesMatching("\"GRAFT_(STREAM|STATE)_[A-Z_]*\"").isEmpty)
  }

  test("no stream dump switch is read, and every generator read goes through NexmarkSources") {
    assert(occurrences("graft.stream.dumpInputs") == 0)
    assert(filesMatching("""\.format\("nexmark"\)""") == Set("graft/nexmark/NexmarkSources.scala"))
    assert(filesMatching(java.util.regex.Pattern.quote("format(\"nexmark\")"))
      .filter(_.startsWith("graft/queries/")).isEmpty)
  }

  test("graft.tools holds only EntryProfile, PlanAudit and ScaleUp") {
    val tools = mainSources.keySet.filter(_.startsWith("graft/tools/"))
    assert(tools == Set("EntryProfile", "PlanAudit", "ScaleUp").map(n => s"graft/tools/$n.scala"))
  }

  private val CheckpointKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Files under `src/main` that mention `key`, with how often. */
  private def mainFilesSetting(key: String): Map[String, Int] = {
    val root = Paths.get("src", "main")
    val r = java.util.regex.Pattern.quote(key).r
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> r.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    finally walk.close()
  }

  test("the checkpoint file manager class is set once under src/main, in core-site.xml") {
    assert(mainFilesSetting(CheckpointKey) == Map("resources/core-site.xml" -> 1))
  }

  test("the file: file system class is set once under src/main, in core-site.xml") {
    assert(mainFilesSetting("fs.file.impl") == Map("resources/core-site.xml" -> 1))
  }

  test("the spec session's Hadoop conf resolves the checkpoint file manager") {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get(CheckpointKey) == classOf[graft.io.LocalCheckpointFileManager].getName)
    // Hadoop's local file system with java.nio modes, not Hive's ProxyLocalFileSystem
    val fs = org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
    assert(fs.getClass == classOf[graft.io.NioLocalFileSystem])
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
  }
}
