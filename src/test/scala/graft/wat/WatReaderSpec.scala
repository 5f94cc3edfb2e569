package graft.wat

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class WatReaderSpec extends AnyFunSuite {

  private val tmp = Files.createTempDirectory("watreader").toFile
  private val fixturePath =
    WatFixture.write(new File(tmp, "fixture.warc.wat.gz").getAbsolutePath)

  test("reads every record across gzip members") {
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    val recs = WatReader.records(new java.io.ByteArrayInputStream(bytes)).toList
    assert(recs.size == WatFixture.records.size)
    assert(recs.head.warcType == "warcinfo")
  }

  test("metadataPayloads filters by WARC-Type") {
    val payloads = WatReader.metadataPayloads(fixturePath).toList
    assert(payloads.size == WatFixture.records.size - 1)
    assert(payloads.forall(_.nonEmpty))
  }

  test("content-length framing preserves exact payload bytes") {
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    val recs = WatReader.records(new java.io.ByteArrayInputStream(bytes)).toList
    val info = recs.find(_.warcType == "warcinfo").get
    assert(info.payloadString == """{"software": "graft-fixture"}""")
  }

  test("frame desync and truncated trailing member end the file gracefully") {
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    // append a valid gzip member whose content is NOT WARC framing
    val garbage = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write("this is not a WARC record\r\n\r\n".getBytes); gz.close()
      bos.toByteArray
    }
    val recs = WatReader.records(
      new java.io.ByteArrayInputStream(bytes ++ garbage)).toList
    assert(recs.size == WatFixture.records.size) // garbage ends iteration, no throw

    // corrupt Content-Length must end the file, not kill the task
    val hostile = WarcSink.warcRecord("metadata", Nil, "application/json",
      "{}".getBytes("UTF-8"))
    val corrupted = new String(hostile, "ISO-8859-1")
      .replaceFirst("Content-Length: \\d+", "Content-Length: 3000000000")
      .getBytes("ISO-8859-1")
    val recs2 = WatReader.records(
      new java.io.ByteArrayInputStream(corrupted), gzipped = false).toList
    assert(recs2.isEmpty)
  }

  test("truncated payload and gzip corruption keep records read so far") {
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    // chop the archive mid-payload: the cut record's EOFException (or the
    // gzip CRC failure from the severed member) must not escape the
    // iterator — a deterministic throw would fail the task on all 10
    // retries and abort the job for one bad shard
    val cut = bytes.take(bytes.length - 40)
    val recs = WatReader.records(new java.io.ByteArrayInputStream(cut)).toList
    assert(recs.nonEmpty && recs.size < WatFixture.records.size)

    // arbitrary byte garbage after a valid prefix (invalid gzip member)
    val junk = bytes ++ Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    val recs2 = WatReader.records(new java.io.ByteArrayInputStream(junk)).toList
    assert(recs2.size == WatFixture.records.size)
  }

  test("truncation sweep: every cut point yields a clean record PREFIX, never a throw") {
    // the fixed-offset cases above pick two cut points; a production
    // fetch can sever the stream ANYWHERE — sweep seeded random offsets
    // plus the boundary cases and require the strongest property: the
    // surviving records are exactly a prefix of the full read
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    val fullPayloads = WatReader.records(
      new java.io.ByteArrayInputStream(bytes)).toList.map(_.payloadString)
    val rnd = new scala.util.Random(99)
    val cuts = Seq(0, 1, 17, bytes.length - 1) ++
      Seq.fill(60)(rnd.nextInt(bytes.length))
    cuts.foreach { c =>
      val recs = WatReader.records(
        new java.io.ByteArrayInputStream(bytes.take(c))).toList
      assert(recs.size <= fullPayloads.size, s"cut=$c")
      assert(recs.map(_.payloadString) == fullPayloads.take(recs.size),
        s"cut=$c: surviving records are not a prefix of the full read")
    }
  }

  test("single-byte corruption sweep never escapes the iterator") {
    // one flipped byte anywhere (gzip header, deflate stream, CRC,
    // framing) must degrade — fewer/different records — but never throw:
    // a deterministic throw retries 10x and aborts the job for one bad
    // shard
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    val full = WatReader.records(
      new java.io.ByteArrayInputStream(bytes)).toList.size
    val rnd = new scala.util.Random(7)
    (0 until 60).foreach { _ =>
      val pos = rnd.nextInt(bytes.length)
      val mutated = bytes.clone()
      mutated(pos) = (mutated(pos) ^ (1 << rnd.nextInt(8))).toByte
      val n = WatReader.records(
        new java.io.ByteArrayInputStream(mutated)).toList.size
      // corruption can only LOSE records (a desynced frame or broken
      // member ends the file) — fabricating one would mean garbage
      // parsed as WARC framing
      assert(n <= full, s"flip at $pos fabricated records ($n > $full)")
    }
  }

  test("codec sniffing: zstd members and plain bytes decode like gzip") {
    val gzBytes = Files.readAllBytes(new File(fixturePath).toPath)
    val want = WatReader.records(
      new java.io.ByteArrayInputStream(gzBytes)).toList.map(_.payloadString)

    // re-frame the same records as TWO concatenated zstd frames (WARC
    // archives concatenate one member per record)
    def plain(bytes: Array[Byte]): Array[Byte] = {
      val all = new java.io.ByteArrayOutputStream()
      val in = WatReader.decompressed(new java.io.ByteArrayInputStream(bytes))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { all.write(buf, 0, n); n = in.read(buf) }
      all.toByteArray
    }
    val raw = plain(gzBytes)
    val half = raw.length / 2
    val zstd = com.github.luben.zstd.Zstd.compress(raw.take(half)) ++
      com.github.luben.zstd.Zstd.compress(raw.drop(half))
    val gotZstd = WatReader.records(
      new java.io.ByteArrayInputStream(zstd)).toList.map(_.payloadString)
    assert(gotZstd == want)

    // uncompressed WARC bytes pass straight through the sniffer
    val gotPlain = WatReader.records(
      new java.io.ByteArrayInputStream(raw)).toList.map(_.payloadString)
    assert(gotPlain == want)
  }

  // the reader's test seam: archives longer than `limit` take the
  // streaming branch, the rest are fetched whole
  private def metadataWithin(path: String, limit: Long,
      conf: org.apache.hadoop.conf.Configuration = new org.apache.hadoop.conf.Configuration(),
      onCorrupt: Exception => Unit = _ => ()): ClosingIterator[WarcRecord] = {
    val recs = WatReader.archiveRecords(path, conf, onCorrupt, wholeFileLimit = limit)
    new ClosingIterator(recs.filter(_.warcType.equalsIgnoreCase("metadata")),
      () => recs.close())
  }

  test("oversized archives stream-decode under a capped buffer") {
    // a synthetic archive well above a 1 KiB whole-file limit: the
    // streaming path must decode it record-for-record identically to
    // whole-file mode, holding only one record's payload at a time
    val big = WatFixture.syntheticWat(
      new File(tmp, "big.warc.wat.gz").getAbsolutePath, 200, 10, seed = 9L)
    assert(new File(big).length() > 1024)
    val whole = WatReader.metadataRecords(big).toList
    val streamed = metadataWithin(big, 1024L).toList
    assert(streamed.size == whole.size && whole.size == 200)
    assert(streamed.map(_.payloadString) == whole.map(_.payloadString))
    assert(streamed.map(_.headers) == whole.map(_.headers))
    // a cut archive on the streaming branch: onCorrupt fires exactly
    // once and the records before the cut are kept, as a prefix
    val bytes = Files.readAllBytes(new File(big).toPath)
    val cut = new File(tmp, "big_cut.warc.wat.gz")
    Files.write(cut.toPath, bytes.take(bytes.length / 2))
    var corrupt = 0
    val kept = metadataWithin(cut.getAbsolutePath, 1024L,
      onCorrupt = _ => corrupt += 1).toList
    assert(corrupt == 1)
    assert(kept.nonEmpty && kept.size < whole.size)
    assert(kept.map(_.payloadString) == whole.take(kept.size).map(_.payloadString))
  }

  test("the archive's length picks the decode: longer than the limit " +
      "streams, within it fetches whole") {
    // a whole-file fetch has closed its handle before the first record;
    // the streaming decode holds it until the archive is exhausted
    val conf = FaultyFileSystem.conf()
    val path = FaultyFileSystem.path(fixturePath)
    val len = new File(fixturePath).length()
    val want = WatReader.metadataRecords(fixturePath).toList.map(_.payloadString)
    Seq(len - 1 -> 1, len -> 0).foreach { case (limit, held) =>
      val it = metadataWithin(path, limit, conf)
      assert(it.hasNext)
      assert(FaultyFileSystem.openHandles(fixturePath) == held, s"limit=$limit")
      assert(it.toList.map(_.payloadString) == want, s"limit=$limit")
      assert(FaultyFileSystem.openHandles(fixturePath) == 0, s"limit=$limit")
    }
    assert(WatReader.MaxArrayBytes == Int.MaxValue - 8)
  }

  test("close() releases the source of a partially-consumed iterator") {
    // the early-termination shape (limit pushdown, take, task kill): a
    // reader that stops before exhaustion must release the underlying
    // handle via close(), not wait for an exhaustion that never comes
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    var closed = 0
    val raw = new java.io.ByteArrayInputStream(bytes) {
      override def close(): Unit = { closed += 1; super.close() }
    }
    val it = WatReader.records(raw)
    assert(it.hasNext)
    it.next() // consume ONE record of several, then stop
    assert(closed == 0)
    it.close()
    assert(closed == 1)
    it.close() // idempotent
    assert(closed == 1)

    // exhaustion alone still closes (the pre-existing contract)
    var closed2 = 0
    val raw2 = new java.io.ByteArrayInputStream(bytes) {
      override def close(): Unit = { closed2 += 1; super.close() }
    }
    val all = WatReader.records(raw2).toList
    assert(all.nonEmpty && closed2 >= 1)

    // the path-level iterator delegates close through filter/map wrappers
    val mp = WatReader.metadataPayloads(fixturePath)
    assert(mp.hasNext)
    mp.next()
    mp.close() // must not throw; releases the byte-array source
    // the streaming decode holds a REAL file handle — close must release
    // it mid-iteration (the descriptor-exhaustion hazard this guards)
    val ms = metadataWithin(FaultyFileSystem.path(fixturePath), 1L,
      FaultyFileSystem.conf())
    assert(ms.hasNext)
    ms.next()
    assert(FaultyFileSystem.openHandles(fixturePath) == 1)
    ms.close()
    assert(FaultyFileSystem.openHandles(fixturePath) == 0)
  }

  test("a missing path yields empty at once, without retrying") {
    // no later attempt can find a missing file: the 10 attempts and
    // their 1 s sleeps would only hold the task
    val missing = s"$tmp/nope.warc.wat.gz"
    val t0 = System.nanoTime()
    assert(WatReader.fetchAllBytes(missing).isEmpty)
    assert(WatReader.openStream(missing).isEmpty)
    assert(CcIndex.fetchRange(missing, 0L, 16).isEmpty)
    var corrupt = 0
    assert(WatReader.metadataRecords(missing, onCorrupt = _ => corrupt += 1).isEmpty)
    assert(corrupt == 1)
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(ms < 900, s"took $ms ms: a missing file was retried")
  }

  test("a failed open is retried, and the read succeeds once it opens") {
    val conf = FaultyFileSystem.conf()
    val path = FaultyFileSystem.path(fixturePath)
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    FaultyFileSystem.failOpens(fixturePath, 2)
    val t0 = System.nanoTime()
    val got = WatReader.fetchAllBytes(path, conf, attempts = 3, sleepMs = 10)
    assert(got.exists(_.sameElements(bytes)))
    assert((System.nanoTime() - t0) / 1e6 >= 20) // slept between attempts
    // the ranged read and the stream open run the same loop
    FaultyFileSystem.failOpens(fixturePath, 2)
    assert(CcIndex.fetchRange(path, 0L, 16, conf, attempts = 3, sleepMs = 10)
      .exists(_.sameElements(bytes.take(16))))
    FaultyFileSystem.failOpens(fixturePath, 2)
    val in = WatReader.openStream(path, conf, attempts = 3, sleepMs = 10)
    assert(in.isDefined)
    in.get.close()
    // one failure more than the attempts: empty, after every attempt
    FaultyFileSystem.failOpens(fixturePath, 3)
    assert(WatReader.fetchAllBytes(path, conf, attempts = 3, sleepMs = 10).isEmpty)
    assert(FaultyFileSystem.openHandles(fixturePath) == 0)
  }

  test("fetch retry is interrupt-transparent: a task kill propagates " +
      "immediately instead of sleeping through the remaining attempts") {
    // every open fails; with 1 s sleeps x 10 attempts, a swallowed
    // interrupt would hold the thread ~9 s
    val local = s"$tmp/interrupt.warc.wat.gz"
    FaultyFileSystem.failOpens(local, Int.MaxValue)
    @volatile var ended: Option[Throwable] = None
    val t = new Thread(() => {
      try {
        WatReader.fetchAllBytes(FaultyFileSystem.path(local),
          FaultyFileSystem.conf(), attempts = 10, sleepMs = 1000L)
        ()
      } catch { case e: Throwable => ended = Some(e) }
    })
    val start = System.nanoTime()
    t.start()
    Thread.sleep(150) // let the first attempt fail and enter the sleep
    t.interrupt()
    t.join(3000)
    val elapsedMs = (System.nanoTime() - start) / 1000000L
    assert(!t.isAlive, "thread still retrying after interrupt")
    assert(elapsedMs < 3000, s"took ${elapsedMs} ms - interrupt swallowed?")
    assert(ended.exists(_.isInstanceOf[InterruptedException]),
      s"expected InterruptedException, got $ended")
  }
}
