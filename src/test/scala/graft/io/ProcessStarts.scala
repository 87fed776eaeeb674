package graft.io

import java.nio.file.Files
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import scala.jdk.CollectionConverters._

/** The processes this JVM starts while a block runs, read from a JFR
  * recording of `jdk.ProcessStart`. Each block first starts `true` as a
  * positive control, so a recording that missed events cannot pass as
  * "no process".
  *
  * Not counted: the `rm -rf` Spark's `ArtifactManager` runs for the
  * artifact directory of a session the garbage collector has reclaimed
  * (a streaming query clones its session). The collector decides when
  * those run, so they land in whichever recording is open.
  */
object ProcessStarts {

  /** `body`'s result and the command line of every process started while
    * it ran, in start order, without the `true` control. */
  def record[T](body: => T): (T, Seq[String]) = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    recording.start()
    val result =
      try {
        assert(new ProcessBuilder("true").start().waitFor() == 0)
        body
      } finally recording.stop()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      recording.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !artifactCleanup(e))
        .sortBy(_.getStartTime)
        .map(_.getString("command").trim).toSeq
      val control = commands.indexWhere(name(_) == "true")
      assert(control >= 0, s"positive control not recorded: $commands")
      (result, commands.patch(control, Nil, 1))
    } finally {
      recording.close()
      Files.deleteIfExists(dump)
    }
  }

  private def artifactCleanup(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
      _.getMethod.getType.getName.startsWith("org.apache.spark.sql.artifact.ArtifactManager")))

  /** The executable's file name in a command line. */
  def name(command: String): String = command.split("\\s+").head.split('/').last
}
