package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream
import org.apache.spark.sql.internal.SQLConf

/** The streaming checkpoint file manager of every session on this
  * program's classpath, registered in `core-site.xml` (Spark's
  * `CheckpointFileManager.create` reads the class from the Hadoop conf).
  *
  * On Hadoop's local file system it delegates to Spark's
  * `FileSystemBasedCheckpointFileManager`. Spark's default, the
  * FileContext-based manager, renames through `getFileLinkStatus`, which
  * Hadoop's `RawLocalFileSystem` answers by forking a `readlink` process
  * per call when libhadoop is not loaded: about 100 forks per micro-batch,
  * and state-store commits wait on them. `FileSystem.rename` on a local
  * path is a `File.renameTo` and forks nothing.
  *
  * `core-site.xml` also resolves `file:` to [[NioLocalFileSystem]], a
  * Hadoop `LocalFileSystem` (not Hive's `ProxyLocalFileSystem`, also on
  * Spark's classpath): its rename replaces an existing target, so
  * `overwriteIfPossible` overwrites as Spark's default manager does, and
  * it creates each file without forking `chmod`.
  *
  * On every other file system it delegates to the manager Spark picks
  * with this class unregistered, so HDFS and object stores keep Spark's
  * default (and its FileContext → FileSystem fallback).
  *
  * Either way files are published by temp file + atomic rename under the
  * same names, and Spark's `ChecksumCheckpointFileManager` still wraps the
  * manager `create` returns.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[io] val delegate: CheckpointFileManager = path.getFileSystem(conf) match {
    case _: LocalFileSystem | _: RawLocalFileSystem =>
      new FileSystemBasedCheckpointFileManager(path, conf)
    case _ =>
      val unregistered = new Configuration(conf)
      unregistered.unset(SQLConf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS.parent.key)
      CheckpointFileManager.create(path, unregistered)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
