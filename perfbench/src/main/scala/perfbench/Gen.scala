package perfbench

import java.io.File
import java.nio.file.Files

import graft.wat.{ProcessWat, WatFixture, WatReader}

/** The fleet's archive pool, generated in its own JVM before the measured
  * one, so it can never fall inside a timed region:
  *
  *   Gen --out DIR
  *
  * The pool is the repo's pinned 64-archive bench fleet: archive i is
  * `WatFixture.syntheticWat` with the `BenchFleet` shape and seed
  * 1000 + i, and `trunc-i` is the same archive cut at a point seeded by i
  * (30-70% of its bytes). For every archive the no-Spark `ProcessWat`
  * reference is written as `ref-i.txt`: the metadata-record count, then
  * the extracted uids (with repeats, in extraction order), one per line.
  * A run selects its inputs from the pool by its seed and derives the
  * expected output from these files. The full archives' extraction is
  * checked against `WatFixture.goldenFleet64Hash` (`golden.txt`: ok or
  * mismatch). DIR is replaced; `run.py` caches the pool per build.
  */
object Gen {

  val Archives = 64
  val DocType = "image_only"

  def main(args: Array[String]): Unit = {
    val dir = new File(Harness.parseFlags(args)("out"))
    Workloads.rmr(dir)
    dir.mkdirs()

    val (_, records, links) = WatFixture.BenchFleet
    val rows = Workloads.parallel(0 until Archives) { i =>
      val full = new File(dir, f"pool-$i%03d.warc.wat.gz")
      WatFixture.syntheticWat(full.getAbsolutePath, records, links, 1000L + i)
      val bytes = Files.readAllBytes(full.toPath)
      val keep = (bytes.length * (0.3 + 0.4 * new scala.util.Random(i).nextDouble())).toInt
      val cut = new File(dir, f"trunc-$i%03d.warc.wat.gz")
      Files.write(cut.toPath, java.util.Arrays.copyOf(bytes, keep))
      Seq(full -> f"ref-$i%03d.txt", cut -> f"ref-trunc-$i%03d.txt").map {
        case (f, ref) =>
          val recs = WatReader.metadataRecords(f.getAbsolutePath, onCorrupt = _ => ()).size
          val out = ProcessWat(f.getAbsolutePath, DocType).toVector
          Workloads.writeString(new File(dir, ref),
            (recs.toString +: out.map(_.uid)).mkString("", "\n", "\n"))
          out
      }.head.map(l => (l.uid, l.url, String.valueOf(l.alt), l.cc_filename, l.page_url))
    }.flatten

    Workloads.writeString(new File(dir, "golden.txt"),
      if (WatFixture.contentHash(rows) == WatFixture.goldenFleet64Hash) "ok" else "mismatch")
  }
}
