package graft.tools

import org.apache.spark.sql.functions._

/** Container-parse throughput at fleet shape: how many media files per
  * second does one 32-core worker metadata-parse? The multimodal
  * stages are mapPartitions over binary payloads — zero shuffle, so
  * fleet throughput is workers × this number; the probe prices the
  * per-worker term at ×N the sf0.1 corpus (default ×10 ≈ 500k files
  * per modality family).
  *
  * Three passes over synthetic ids (generate + parse fused in one
  * mapPartitions chain — generation is measured alongside, so the
  * numbers are a LOWER bound on pure parse throughput):
  *  - video: the mixed progressive/fragmented MP4 corpus through
  *    videoMeta (box walk incl. moof runs);
  *  - audio: the 5-format corpus (mp3/wav/flac/ogg/m4a) through
  *    audioMeta;
  *  - shards: WebDataset tars through webdatasetMembers (checksum
  *    walk + member windows).
  *
  * Run: sbt "runMain graft.tools.MediaScaleProbe 10"
  */
object MediaScaleProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.lift(0).map(_.toInt).getOrElse(10)
    val base = 50000L // ≈ sf0.1 documents
    val n = base * factor
    val spark = graft.SessionBuilder.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def ids = spark.range(n).select(col("id").cast("long"))
      .as[java.lang.Long].repartition(64)

    def time(label: String)(body: => Long): String = {
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      f"""{"pass":"$label","files":$n,"out_rows":$rows,""" +
        f""""wall_sec":$wall%.1f,"files_per_sec":${n / wall}%.0f}"""
    }

    val video = time("video_mixed_mp4") {
      graft.ext.Multimodal.videoMeta(
        graft.ext.Multimodal.syntheticMixedVideoMedia(ids)).count()
    }
    val audio = time("audio_5_formats") {
      graft.ext.Multimodal.audioMeta(
        graft.ext.Multimodal.syntheticAudioMedia(ids)).count()
    }
    val shards = time("webdataset_tar") {
      graft.ext.Multimodal.webdatasetMembers(
        graft.ext.Multimodal.syntheticWebdatasetMedia(ids)).count()
    }
    println(s"""{"metric":"media_scale","factor":$factor,""" +
      s""""passes":[$video,$audio,$shards]}""")
    spark.stop()
  }
}
