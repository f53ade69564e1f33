package graft.operators.media

import graft.core.Operator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Video as an opaque binary column with typed metadata — the third leg
  * of the multimodal pattern (image: graft.operators.image, audio:
  * [[AudioOps]]). ISO base-media (MP4/MOV) container structure is parsed
  * for real — box walk to `ftyp` (major brand) and `moov/mvhd`
  * (timescale, duration, version 0 and 1 layouts) with `trak` counting —
  * because the container format is pure framing, no codec needed.
  * Frame decode needs a codec library and is not done here.
  */
object VideoOps {

  final case class VideoMeta(
      format: String, majorBrand: String, timescale: Long,
      durationSec: Double, trackCount: Int)

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) | ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** Walk the boxes in [from, to); invoke f(type, payloadStart, payloadEnd). */
  private def walkBoxes(b: Array[Byte], from: Int, to: Int)(
      f: (String, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos + 8 <= to) {
      var size = be32(b, pos)
      val tpe = new String(b, pos + 4, 4, "US-ASCII")
      var header = 8
      if (size == 1L && pos + 16 <= to) { size = be64(b, pos + 8); header = 16 }
      else if (size == 0L) size = (to - pos).toLong // box extends to end
      if (size < header || pos + size > to) return // malformed: stop, total
      f(tpe, pos + header, pos + size.toInt)
      pos += size.toInt
    }
  }

  /** Total parse: None for null/garbage/truncated input. */
  def parse(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes == null || bytes.length < 12) return None
    try {
      // an ISO-BMFF file starts with a box whose type is ftyp (mp4/mov/3gp)
      val firstType = new String(bytes, 4, 4, "US-ASCII")
      if (firstType != "ftyp") return None
      var brand = ""
      var timescale = 0L
      var duration = -1L
      var tracks = 0
      walkBoxes(bytes, 0, bytes.length) {
        case ("ftyp", s, e) if e - s >= 4 =>
          brand = new String(bytes, s, 4, "US-ASCII").trim
        case ("moov", s, e) =>
          walkBoxes(bytes, s, e) {
            case ("mvhd", ms, me) if me - ms >= 4 =>
              val version = bytes(ms) & 0xFF
              if (version == 1 && me - ms >= 28) {
                timescale = be32(bytes, ms + 20)
                duration = be64(bytes, ms + 24)
              } else if (version == 0 && me - ms >= 20) {
                timescale = be32(bytes, ms + 12)
                duration = be32(bytes, ms + 16)
              }
            case ("trak", _, _) => tracks += 1
            case _ => ()
          }
        case _ => ()
      }
      if (brand.isEmpty || timescale <= 0 || duration < 0) None
      else Some(VideoMeta("MP4", brand, timescale,
        duration.toDouble / timescale, tracks))
    } catch { case _: Throwable => None }
  }

  /** (format, brand, timescale, duration, tracks) or nulls via Option. */
  val metadataUdf = udf((bytes: Array[Byte]) =>
    parse(bytes).map(m => (m.format, m.majorBrand, m.timescale, m.durationSec, m.trackCount)))
}

/** Adds `video_format/_brand/_timescale/_duration_sec/_track_count`
  * from the container headers; undecodable input → nulls (total).
  */
final class VideoMetadataRefiner(videoCol: String = "video") extends Operator {
  val name = "video_metadata"

  def apply(df: DataFrame): DataFrame = build(df, lit(true))

  override def applyGated(df: DataFrame, alive: Column): DataFrame = build(df, alive)

  private def build(df: DataFrame, alive: Column): DataFrame =
    df.withColumn("_vm", when(alive, VideoOps.metadataUdf(col(s"$videoCol.bytes"))))
      .withColumn("video_format", col("_vm._1"))
      .withColumn("video_brand", col("_vm._2"))
      .withColumn("video_timescale", col("_vm._3"))
      .withColumn("video_duration_sec", col("_vm._4"))
      .withColumn("video_track_count", col("_vm._5"))
      .drop("_vm")
}
