package graft.io

import graft.nexmark.{GenConfig, NexmarkSources, SparkSpec}
import graft.nexmark.queries.NexmarkQueries
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** A Hadoop file system that is not Hadoop's local one: a filter over
  * `RawLocalFileSystem`, registered under the `graftspec` scheme. */
class SpecFileSystem extends FilterFileSystem(new RawLocalFileSystem)

/** The same file system for `FileContext` (Spark's default manager). */
class SpecAbstractFileSystem(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new SpecFileSystem, conf, "graftspec", false)

/** [[LocalCheckpointFileManager]]: which manager it delegates to on a
  * local and on a non-local file system, the atomic-publish contract
  * through the Hadoop conf every session sees (`core-site.xml`), that
  * Spark's file checksums still guard state files written through it, and
  * that a streaming query on a local checkpoint starts no `readlink`
  * process. Every check counts files, bytes or processes, so machine load
  * cannot move it.
  */
class CheckpointFileManagerSpec extends SparkSpec {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("a file: path gets Spark's FileSystem-based manager as delegate") {
    val path = new Path(tmp("graftcfm_local").toUri)
    assert(path.toUri.getScheme == "file")
    CheckpointFileManager.create(path, hadoopConf) match {
      case m: LocalCheckpointFileManager =>
        assert(m.delegate.getClass == classOf[FileSystemBasedCheckpointFileManager])
      case other => fail(s"core-site.xml registration not in effect: ${other.getClass}")
    }
  }

  test("a non-local file system gets the manager Spark picks with the key unset") {
    val conf = new Configuration(hadoopConf)
    conf.set("fs.graftspec.impl", classOf[SpecFileSystem].getName)
    conf.setBoolean("fs.graftspec.impl.disable.cache", true)
    conf.set("fs.AbstractFileSystem.graftspec.impl", classOf[SpecAbstractFileSystem].getName)
    val path = new Path(s"graftspec://${tmp("graftcfm_spec")}")
    val sparkPick = {
      val unset = new Configuration(conf)
      unset.unset(Key)
      CheckpointFileManager.create(path, unset).getClass
    }
    assert(sparkPick == classOf[FileContextBasedCheckpointFileManager])
    val m = new LocalCheckpointFileManager(path, conf)
    assert(m.delegate.getClass == sparkPick)
  }

  test("createAtomic + close publishes the file; cancel leaves neither file nor temp file") {
    val dir = tmp("graftcfm_atomic")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    write(fm, new Path(dir.toUri.toString, "published"), "v1", overwrite = false)
    assert(Files.readString(dir.resolve("published")) == "v1")
    // Hadoop's local file system still writes its .crc sidecar
    assert(names(dir) == Set("published", ".published.crc"))

    val out = fm.createAtomic(new Path(dir.toUri.toString, "cancelled"), overwriteIfPossible = false)
    out.write("never".getBytes(UTF_8))
    out.cancel()
    assert(names(dir) == Set("published", ".published.crc"))
  }

  test("overwriteIfPossible = false on an existing target throws FileAlreadyExistsException") {
    val dir = tmp("graftcfm_exists")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    val target = new Path(dir.toUri.toString, "target")
    write(fm, target, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
    assert(Files.readString(dir.resolve("target")) == "first")
  }

  test("overwriteIfPossible = true replaces an existing target") {
    val dir = tmp("graftcfm_overwrite")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    val target = new Path(dir.toUri.toString, "target")
    write(fm, target, "first", overwrite = false)
    write(fm, target, "second", overwrite = true)
    assert(Files.readString(dir.resolve("target")) == "second")
    assert(names(dir) == Set("target", ".target.crc"))
  }

  /** q5HotAuctions over a generated bid stream of `rows` per subtask,
    * admitted in `batches` micro-batches, to a parquet sink; returns the
    * query's committed batch count. */
  private def runQ5(ckpt: JPath, out: JPath, rows: Long, batches: Int): Int = {
    val bids = NexmarkSources.bidStreamDsv2(spark, GenConfig(eventsPerSecond = 10L),
      parallelism = 2, rows = rows, rowsPerBatch = math.max(1L, rows / batches))
    val q = NexmarkQueries.q5HotAuctions(bids, "5 seconds").writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", ckpt.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(300000), "stream did not drain in 300 s")
    finally q.stop()
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("a corrupted committed state delta file fails the restart on Spark's checksum check") {
    val base = tmp("graftcfm_corrupt")
    val ckpt = base.resolve("ckpt"); val out = base.resolve("out")
    runQ5(ckpt, out, rows = 400L, batches = 2)
    val deltas = {
      val w = Files.walk(ckpt.resolve("state"))
      try w.iterator().asScala.filter(_.getFileName.toString.endsWith(".delta")).toList
      finally w.close()
    }
    assert(deltas.nonEmpty, "no state delta file was committed")
    // Spark's own checksum file sits next to each delta file
    assert(deltas.forall(d => Files.exists(d.resolveSibling(s"${d.getFileName}.crc"))))
    val victim = deltas.maxBy(Files.size(_))
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(victim, bytes)
    // drop Hadoop's sidecar so only Spark's checksum can catch the change
    Files.delete(victim.resolveSibling(s".${victim.getFileName}.crc"))

    val e = intercept[Exception](runQ5(ckpt, out, rows = 800L, batches = 4))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED")),
      s"restart did not fail on the checksum check:\n${chain.map(_.toString).mkString("\n")}")
  }

  test("a 5-micro-batch q5 on a file: checkpoint starts no readlink process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = tmp("graftcfm_forks")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val committed =
      try {
        // a positive control, so an empty recording cannot pass
        assert(new ProcessBuilder("true").start().waitFor() == 0)
        runQ5(base.resolve("ckpt"), base.resolve("out"), rows = 500L, batches = 5)
      } finally recording.stop()
    val dump = base.resolve("forks.jfr")
    recording.dump(dump)
    recording.close()
    val commands = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      .groupBy(identity).view.mapValues(_.size).toMap
    info(s"processes started: $commands; committed micro-batches: $committed")
    assert(committed == 5)
    assert(commands.getOrElse("true", 0) == 1, s"positive control not recorded: $commands")
    assert(commands.getOrElse("readlink", 0) == 0, s"readlink processes were started: $commands")
  }
}
