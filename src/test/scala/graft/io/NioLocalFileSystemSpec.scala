package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] against Hadoop's stock `LocalFileSystem`: the
  * same writes through either leave the same modes under a given umask,
  * `setPermission` sets the same mode for any rwx bits, and only a sticky
  * mode forks `chmod`. Modes are read as the full `st_mode` (the JDK's
  * `unix` attribute view), file type and sticky bit included.
  */
class NioLocalFileSystemSpec extends AnyFunSuite {

  /** A fresh, uncached `file:` file system of class `impl`. */
  private def fileSystem(impl: Class[_ <: LocalFileSystem], umask: String = "022"): LocalFileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl.getName)
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(URI.create("file:///"), conf).asInstanceOf[LocalFileSystem]
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def uri(p: JPath, child: String): Path = new Path(p.toUri.toString, child)

  /** Modes of two directories one `mkdirs` makes, a file created in the
    * inner one and its `.crc`, written through `fs`. */
  private def written(fs: FileSystem): Map[String, Int] = {
    val root = Files.createTempDirectory("graftnio")
    try {
      assert(fs.mkdirs(uri(root, "d/e")))
      val out = fs.create(uri(root, "d/e/f"))
      out.write(1)
      out.close()
      Seq("d", "d/e", "d/e/f", "d/e/.f.crc").map(n => n -> mode(root.resolve(n))).toMap
    } finally fs.close()
  }

  for ((umask, dir, file) <- Seq(("022", "40755", "100644"), ("027", "40750", "100640"))) {
    test(s"umask $umask: a mkdirs directory, a created file and its .crc get the stock modes") {
      val stock = written(fileSystem(classOf[LocalFileSystem], umask))
      val nio = written(fileSystem(classOf[NioLocalFileSystem], umask))
      assert(nio == stock)
      // the umasked defaults, so a umask that never reached either side fails
      val expected = Map("d" -> dir, "d/e" -> dir, "d/e/f" -> file, "d/e/.f.crc" -> file)
      assert(nio == expected.view.mapValues(Integer.parseInt(_, 8)).toMap)
    }
  }

  test("setPermission sets the stock mode for every rwx bit, without a process") {
    val modes = Seq("0", "777", "754", "641", "500", "70", "7", "421", "600").map(Integer.parseInt(_, 8))
    def apply(impl: Class[_ <: LocalFileSystem]): Seq[Int] = {
      val fs = fileSystem(impl)
      val root = Files.createTempDirectory("graftnio_perm")
      try modes.map { m =>
        val f = Files.createFile(root.resolve(s"f$m"))
        fs.getRawFileSystem.setPermission(uri(root, s"f$m"), new FsPermission(m.toShort))
        mode(f)
      } finally fs.close()
    }
    val stock = apply(classOf[LocalFileSystem])
    val (nio, forks) = ProcessStarts.record(apply(classOf[NioLocalFileSystem]))
    assert(nio == stock)
    assert(nio.map(_ & 0x1ff) == modes)
    assert(forks.isEmpty, s"processes were started: $forks")
  }

  test("a sticky-bit permission takes Hadoop's own chmod") {
    val root = Files.createTempDirectory("graftnio_sticky")
    val fs = fileSystem(classOf[NioLocalFileSystem])
    try {
      val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
      val (_, forks) = ProcessStarts.record(fs.setPermission(new Path(root.toUri), sticky))
      assert(forks.map(ProcessStarts.name) == Seq("chmod"), s"processes started: $forks")
      assert(forks.head.contains("1755"))
      assert(mode(root) == Integer.parseInt("41755", 8))
    } finally fs.close()
  }
}
