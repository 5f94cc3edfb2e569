package graft.wat

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Test-only Hadoop filesystem: `faulty:///abs/path` is the local file
  * `/abs/path`, except that `open` first throws a plain `IOException`
  * (not a `FileNotFoundException`) as many times as [[FaultyFileSystem.failOpens]]
  * armed for that file, and that it counts the handles it holds open
  * per file. Reached through [[FaultyFileSystem.conf]].
  */
class FaultyFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val file = f.toUri.getPath
    if (FaultyFileSystem.failuresLeft(file).getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new IOException(s"injected open failure: $f")
    val live = FaultyFileSystem.liveHandles(file)
    val in = super.open(f, bufferSize)
    live.incrementAndGet()
    val closed = new AtomicBoolean(false)
    new FSDataInputStream(in) {
      override def close(): Unit = {
        if (closed.compareAndSet(false, true)) live.decrementAndGet()
        super.close()
      }
    }
  }
}

object FaultyFileSystem {
  private val failures = new ConcurrentHashMap[String, AtomicInteger]()
  private val handles = new ConcurrentHashMap[String, AtomicInteger]()
  private def failuresLeft(file: String) =
    failures.computeIfAbsent(file, _ => new AtomicInteger(0))
  private def liveHandles(file: String) =
    handles.computeIfAbsent(file, _ => new AtomicInteger(0))
  private def abs(local: String) = new java.io.File(local).getAbsolutePath

  /** A conf under which `faulty:` paths resolve to this filesystem
    * (uncached, so no instance outlives the test that made it).
    */
  def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    c.setBoolean("fs.faulty.impl.disable.cache", true)
    c
  }

  /** The `faulty:` path of a local file. */
  def path(local: String): String = "faulty://" + abs(local)

  /** The next `n` opens of `local` throw. */
  def failOpens(local: String, n: Int): Unit = failuresLeft(abs(local)).set(n)

  /** Handles of `local` opened and not yet closed. */
  def openHandles(local: String): Int = liveHandles(abs(local)).get
}
