package graft.tools

import org.apache.spark.sql.functions._

/** Document-format throughput at fleet shape (companion to
  * [[MediaScaleProbe]] for the round-16 formats): how many ZIP shards
  * / PDFs / HTML pages per second does one 32-core worker process?
  * All three stages are mapPartitions over per-row payloads — zero
  * shuffle — so fleet throughput is workers × this number.
  *
  * Generation is fused with parsing in one chain (same caveat as
  * MediaScaleProbe: the numbers are a LOWER bound on pure parse
  * throughput, since each pass also pays Deflater/PDF-writer work).
  * The text payload is a deterministic ~300-char pseudo-document so
  * the probe needs no fixture tables.
  *
  * Run: sbt "runMain graft.tools.DocScaleProbe 10"
  */
object DocScaleProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.lift(0).map(_.toInt).getOrElse(10)
    val base = 50000L // ≈ sf0.1 documents
    val n = base * factor
    val spark = graft.SessionBuilder.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def ids = spark.range(n).select(col("id").cast("long"))
      .as[java.lang.Long].repartition(64)
    def docs = ids.map { id =>
      val words = Array("data", "scale", "spark", "shard", "token",
        "merge", "filter", "batch")
      val sb = new StringBuilder
      var k = 0L
      while (sb.length < 300) {
        sb.append(words(((id + k) % words.length).toInt)).append(' ')
        k += 1
      }
      (id, sb.toString.trim)
    }

    def time(label: String)(body: => Long): String = {
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      f"""{"pass":"$label","files":$n,"out_rows":$rows,""" +
        f""""wall_sec":$wall%.1f,"files_per_sec":${n / wall}%.0f}"""
    }

    val zip = time("zip_member_walk") {
      graft.ext.Zip.zipArchiveMembers(
        graft.ext.Zip.syntheticZipMedia(ids)).count()
    }
    val zipText = time("zip_text_roundtrip") {
      graft.ext.Zip.zipTexts(
        graft.ext.Zip.syntheticZipTextMedia(docs)).count()
    }
    val pdf = time("pdf_text_extract") {
      graft.ext.Pdf.pdfTexts(
        graft.ext.Pdf.syntheticPdfMedia(docs)).count()
    }
    val mdown = time("html_markdown") {
      graft.ext.HtmlMarkdown.htmlToMarkdown(
        graft.ext.HtmlMarkdown.syntheticHtmlDocs(docs)).count()
    }
    val triage = time("mixed_triage") {
      graft.ext.Multimodal.mediaTriage(
        graft.ext.Multimodal.syntheticMixedCorpus(ids)).count()
    }
    println(s"""{"metric":"doc_scale","factor":$factor,""" +
      s""""passes":[$zip,$zipText,$pdf,$mdown,$triage]}""")
    spark.stop()
  }
}
