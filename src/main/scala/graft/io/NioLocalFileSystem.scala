package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}
import java.util.EnumSet
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The file system of every `file:` path on this program's classpath,
  * registered for the `file` scheme in `core-site.xml`: Hadoop's
  * `LocalFileSystem` (checksummed, `.crc` sidecars) over
  * [[NioRawLocalFileSystem]]. Everything but how a mode is set is
  * Hadoop's own.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem`, setting permissions through java.nio.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every file it creates and every
  * directory `mkdirs` makes; a checksummed file and its `.crc` cost two
  * forks. Spark's checkpoint manager creates each state delta file with
  * its checksum file on a small thread pool, so every state-store update
  * waited on forks. `PosixFileAttributeView.setPermissions` is the same
  * `chmod(2)` on the same bits (Hadoop has already applied the umask), run
  * in this process.
  *
  * A mode with any bit beyond the nine rwx bits (the sticky bit), or a
  * platform whose default file system has no POSIX view, takes Hadoop's
  * own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    val mode = permission.toShort
    if (view == null || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else view.setPermissions(posix(mode))
  }

  /** The rwx bits of `mode`; `PosixFilePermission` lists owner, group and
    * others rwx, bit 8 down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
