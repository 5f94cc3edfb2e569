package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.io.nativeio.NativeIO

/** The processes this JVM starts, from a JFR `jdk.ProcessStart`
  * recording: how the specs see a fork that leaves no other trace.
  */
object ProcessStarts {

  /** `body`'s value and the command lines of the processes started
    * while it ran.
    */
  def during[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val a = try body finally rec.stop()
      val f = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(f)
        (a, RecordingFile.readAllEvents(f).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command")))
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** The `chmod` commands among `commands`. */
  def chmods(commands: Seq[String]): Seq[String] =
    commands.filter(_.startsWith("chmod "))

  /** The `chmod` processes Hadoop's stock `RawLocalFileSystem` starts
    * per `setPermission`: none with Hadoop's native library, one without.
    */
  val StockChmods: Int = if (NativeIO.isAvailable) 0 else 1
}
