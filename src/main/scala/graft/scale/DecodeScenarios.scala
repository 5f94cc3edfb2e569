package graft.scale

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.ScaleProbe.Harness
import graft.ext.{HtmlMarkdown, Multimodal, Pdf, Zip}

/** Per-row decode throughput at fleet shape: how many files per second
  * does one worker parse? Every stage here is a mapPartitions over
  * per-row payloads — zero shuffle — so fleet throughput is workers ×
  * this number. Generation is fused with parsing in one chain, so the
  * numbers are a LOWER bound on pure parse throughput (each pass also
  * pays its generator's work). n = 50000 × factor files per pass
  * (50000 ≈ the sf0.1 documents); one JSON line per run.
  */
object DecodeScenarios {

  private final class Passes(h: Harness, factor: Int) {
    import h.spark.implicits._
    val n: Long = 50000L * factor

    def ids: Dataset[java.lang.Long] = h.spark.range(n)
      .select(col("id").cast("long")).as[java.lang.Long].repartition(64)

    /** A deterministic ~300-char pseudo-document per id. */
    def docs: Dataset[(java.lang.Long, String)] = ids.map { id =>
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
      val (wall, rows) = h.best()(body)
      f"""{"pass":"$label","files":$n,"out_rows":$rows,""" +
        f""""wall_sec":$wall%.1f,"files_per_sec":${n / wall}%.0f}"""
    }

    def report(metric: String, passes: Seq[String]): Unit =
      println(s"""{"metric":"$metric","factor":$factor,""" +
        s""""passes":[${passes.mkString(",")}]}""")
  }

  /** `doc [factor]` (default 10): ZIP shards, PDFs, HTML pages and a
    * mixed-media triage through their decoders.
    */
  def doc(h: Harness, args: Seq[String]): Unit = {
    val p = new Passes(h, args.lift(0).map(_.toInt).getOrElse(10))
    p.report("doc_scale", Seq(
      p.time("zip_member_walk")(
        Zip.zipArchiveMembers(Zip.syntheticZipMedia(p.ids)).count()),
      p.time("zip_text_roundtrip")(
        Zip.zipTexts(Zip.syntheticZipTextMedia(p.docs)).count()),
      p.time("pdf_text_extract")(
        Pdf.pdfTexts(Pdf.syntheticPdfMedia(p.docs)).count()),
      p.time("html_markdown")(HtmlMarkdown.htmlToMarkdown(
        HtmlMarkdown.syntheticHtmlDocs(p.docs)).count()),
      p.time("mixed_triage")(Multimodal.mediaTriage(
        Multimodal.syntheticMixedCorpus(p.ids)).count())))
  }

  /** `media [factor]` (default 10): container metadata parse — the
    * mixed progressive/fragmented MP4 corpus through videoMeta (box
    * walk incl. moof runs), the 5-format audio corpus
    * (mp3/wav/flac/ogg/m4a) through audioMeta, and WebDataset tars
    * through webdatasetMembers (checksum walk + member windows).
    */
  def media(h: Harness, args: Seq[String]): Unit = {
    val p = new Passes(h, args.lift(0).map(_.toInt).getOrElse(10))
    p.report("media_scale", Seq(
      p.time("video_mixed_mp4")(Multimodal.videoMeta(
        Multimodal.syntheticMixedVideoMedia(p.ids)).count()),
      p.time("audio_5_formats")(Multimodal.audioMeta(
        Multimodal.syntheticAudioMedia(p.ids)).count()),
      p.time("webdataset_tar")(Multimodal.webdatasetMembers(
        Multimodal.syntheticWebdatasetMedia(p.ids)).count())))
  }
}
