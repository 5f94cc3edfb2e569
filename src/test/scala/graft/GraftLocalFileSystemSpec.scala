package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Permission parity of the sessions' `file:` filesystem with Hadoop's
  * stock one: the same writes on both leave the same mode on every file
  * and directory, and only the cases the in-process path leaves to
  * `chmod` (sticky bit, setuid/setgid directory) start a process.
  */
class GraftLocalFileSystemSpec extends AnyFunSuite {

  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String) = new FsPermission(oct(s).toShort)
  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  /** A fresh, uncached instance: the JVM's cached `file:` filesystem is
    * left as it is.
    */
  private def open(fs: LocalFileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** Each entry under `root` (relative path) → its permission bits. */
  private def modes(root: File): Map[String, Int] =
    Files.walk(root.toPath).iterator.asScala.filter(_ != root.toPath)
      .map(p => root.toPath.relativize(p).toString -> mode(p)).toMap

  private def write(fs: FileSystem, root: File, setgid: Boolean): Unit = {
    def p(rel: String) = new Path(new File(root, rel).getAbsolutePath)
    // under the conf umask (022): files 0644, directories 0755
    fs.create(p("a/b/default.bin")).close()
    fs.mkdirs(p("c/d"))
    // explicit modes
    fs.create(p("a/private.bin"), perm("600"), true, 4096, 1.toShort,
      1L << 20, null).close()
    fs.mkdirs(p("private"), perm("700"))
    fs.create(p("a/set.bin")).close()
    fs.setPermission(p("a/set.bin"), perm("640"))
    // sticky bit: left to chmod (mkdirs' umask drops it, so set it)
    fs.mkdirs(p("sticky"))
    fs.setPermission(p("sticky"), perm("1777"))
    fs.mkdirs(p("sticky/inner"))
    // a setgid directory's children inherit setgid, which chmod keeps
    if (setgid) {
      fs.mkdirs(p("shared"))
      Files.setAttribute(new File(root, "shared").toPath, "unix:mode",
        oct("2775"))
      fs.mkdirs(p("shared/sub"))
      fs.create(p("shared/sub/file.bin")).close()
    }
  }

  test("writes leave the modes the stock filesystem's chmod leaves, and " +
      "fork only for the sticky and setgid-directory cases") {
    val tmp = Files.createTempDirectory("graft-localfs").toFile
    val probe = new File(tmp, "probe")
    Files.createDirectory(probe.toPath)
    Files.setAttribute(probe.toPath, "unix:mode", oct("2755"))
    val setgid = (mode(probe.toPath) & oct("2000")) != 0

    val stockRoot = new File(tmp, "stock")
    val graftRoot = new File(tmp, "graft")
    write(open(new LocalFileSystem()), stockRoot, setgid)
    val (_, commands) = ProcessStarts.during {
      write(open(new GraftLocalFileSystem), graftRoot, setgid)
    }

    val stock = modes(stockRoot)
    val graft = modes(graftRoot)
    assert(graft == stock)
    Seq("a/b/default.bin" -> "644", "a/b/.default.bin.crc" -> "644",
      "a" -> "755", "a/b" -> "755", "c/d" -> "755",
      "a/private.bin" -> "600", "private" -> "700", "a/set.bin" -> "640",
      "sticky" -> "1777", "sticky/inner" -> "755").foreach {
      case (rel, want) => assert(graft(rel) == oct(want), rel)
    }
    // mkdirs `shared` + its chmod to 2775 above, then `shared/sub`
    // inherits setgid; the file in it does not
    if (setgid) {
      assert(graft("shared/sub") == oct("2755"))
      assert(graft("shared/sub/file.bin") == oct("644"))
    }
    // one chmod for `sticky`, one for `shared/sub`
    val chmods = ProcessStarts.chmods(commands)
    val fallbacks = if (setgid) 2 else 1
    assert(chmods.size == fallbacks * ProcessStarts.StockChmods, chmods)
  }

  test("a permission change on a missing file fails as chmod does") {
    val fs = open(new GraftLocalFileSystem)
    val missing = new Path(Files.createTempDirectory("graft-localfs")
      .resolve("missing").toString)
    intercept[java.io.IOException](fs.setPermission(missing, perm("644")))
  }
}
