package graft

import graft.operators.media.{AudioMetadataRefiner, AudioOps, VideoMetadataRefiner, VideoOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Audio binary-column metadata: real RIFF/WAV parsing, magic-number
  * codec detection, total-function failure behavior, refiner plumbing.
  */
class MediaSpec extends ScopedSuite {
  import TestSpark._

  test("wav header round trip: synth → parse recovers the exact parameters") {
    val m = AudioOps.parse(AudioOps.synthWav(seed = 7L, channels = 2,
      sampleRate = 16000, nSamples = 8000)).get
    assert(m == AudioOps.AudioMeta("WAV", 2, 16000, 16, 8000L, 0.5))
  }

  test("parse is total: garbage/null/truncated yield None; codec magics detected") {
    assert(AudioOps.parse(null).isEmpty)
    assert(AudioOps.parse(Array.fill(64)(0x13.toByte)).isEmpty)
    assert(AudioOps.parse(AudioOps.synthWav(1L, 1, 8000, 100).take(10)).isEmpty)
    assert(AudioOps.parse("ID3xxxxxxx".getBytes).get.format == "MP3")
    assert(AudioOps.parse("fLaCxxxxxx".getBytes).get.format == "FLAC")
  }

  test("mp3 frame header and flac streaminfo round-trip through parse") {
    val mp3 = AudioOps.parse(AudioOps.synthMp3(48000, mono = true)).get
    assert(mp3.format == "MP3" && mp3.channels == 1 && mp3.sampleRate == 48000)
    val stereo = AudioOps.parse(AudioOps.synthMp3(32000, mono = false)).get
    assert(stereo.channels == 2 && stereo.sampleRate == 32000)
    val flac = AudioOps.parse(AudioOps.synthFlac(96000, 2, 24, 960000L)).get
    assert(flac.format == "FLAC" && flac.channels == 2 && flac.sampleRate == 96000)
    assert(flac.bitsPerSample == 24 && flac.nSamples == 960000L)
    assert(math.abs(flac.durationSec - 10.0) < 1e-12)
    // magic-only inputs (no parseable header) keep the zero-field row
    assert(AudioOps.parse("ID3xxxxxxx".getBytes).get.sampleRate == 0)
    assert(AudioOps.parse("fLaCxxxxxx".getBytes).get.sampleRate == 0)
  }

  test("image resize refiner normalizes dims, keeps solids solid, nulls undecodable") {
    import graft.operators.image.{ImageOps, ImageResizeRefiner}
    import graft.sources.SyntheticImages
    val df = SyntheticImages.df(spark).filter(col("id").isin(0L, 3L, 54L, 56L))
    val out = new ImageResizeRefiner("image", 32, 32)(df)
      .select(col("id"), col("image_resized.bytes")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))).toMap
    // decodable rows come back as 32x32 PNG
    for (id <- Seq(0L, 3L)) {
      val d = ImageOps.decode(out(id)).get
      assert(d.width == 32 && d.height == 32 && d.format == "PNG")
    }
    // solid image stays a single color after box resize
    val solid = ImageOps.decode(out(0L)).get
    assert(solid.rgb.distinct.length == 1)
    // garbage and null-image rows → null
    assert(out(54L) == null && out(56L) == null)
  }

  test("pcm stats: silence, clipping, and uniform-noise RMS behave as constructed") {
    val silent = AudioOps.synthWavSamples(1, 8000, Array.fill[Short](1000)(0))
    val sS = AudioOps.pcmStats(silent).get
    assert(sS.rms == 0.0 && sS.silenceRatio == 1.0 && sS.clippingRatio == 0.0)

    val clipped = AudioOps.synthWavSamples(1, 8000, Array.fill[Short](1000)(32767))
    val sC = AudioOps.pcmStats(clipped).get
    assert(sC.clippingRatio == 1.0 && sC.silenceRatio == 0.0)
    assert(math.abs(sC.rms - 32767.0 / 32768.0) < 1e-9)

    // uniform full-range noise: RMS ~= 1/sqrt(3), ~1% silent, ~0.1% clipped
    val noise = AudioOps.pcmStats(AudioOps.synthWav(3L, 1, 8000, 50000)).get
    assert(math.abs(noise.rms - 1.0 / math.sqrt(3.0)) < 0.01, noise.toString)
    assert(noise.silenceRatio > 0.005 && noise.silenceRatio < 0.02)
    assert(noise.clippingRatio < 0.01)

    assert(AudioOps.pcmStats("ID3xxxxxxx".getBytes).isEmpty) // non-WAV
  }

  test("refiner adds typed metadata columns over the audio struct") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("audio", StructType(Seq(StructField("bytes", BinaryType))))))
    val rows = Seq(
      Row(0L, Row(AudioOps.synthWav(0L, 1, 44100, 44100))),
      Row(1L, Row(AudioOps.synthWav(1L, 2, 8000, 4000))),
      Row(2L, Row(Array.fill[Byte](16)(0))),
      Row(3L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = new AudioMetadataRefiner("audio")(df)
      .select(col("id"), col("audio_format"), col("audio_sample_rate"),
        col("audio_duration_sec"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getDouble(3))).toMap
    assert(out(0L) == (("WAV", 44100, 1.0)))
    assert(out(1L) == (("WAV", 8000, 0.5)))
    assert(out(2L) == (("ERROR", 0, 0.0)))
    assert(out(3L) == (("ERROR", 0, 0.0)))
  }

  // ---- video: hand-built ISO-BMFF fixture ----

  private def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
    val size = payload.length + 8
    val out = new Array[Byte](size)
    out(0) = ((size >> 24) & 0xFF).toByte; out(1) = ((size >> 16) & 0xFF).toByte
    out(2) = ((size >> 8) & 0xFF).toByte; out(3) = (size & 0xFF).toByte
    tpe.getBytes("US-ASCII").copyToArray(out, 4)
    payload.copyToArray(out, 8)
    out
  }
  private def be32b(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64b(v: Long): Array[Byte] = be32b(v >>> 32) ++ be32b(v & 0xFFFFFFFFL)

  private def mp4(version: Int, timescale: Long, duration: Long, tracks: Int): Array[Byte] = {
    val mvhdPayload =
      if (version == 0)
        Array[Byte](0, 0, 0, 0) ++ be32b(0) ++ be32b(0) ++ be32b(timescale) ++ be32b(duration)
      else
        Array[Byte](1, 0, 0, 0) ++ be64b(0) ++ be64b(0) ++ be32b(timescale) ++ be64b(duration)
    val moov = box("moov",
      box("mvhd", mvhdPayload) ++
        Array.fill(tracks)(box("trak", Array.empty[Byte])).flatten)
    box("ftyp", "isom".getBytes ++ be32b(0)) ++ moov
  }

  test("mp4 box walk recovers brand, duration, and track count (v0 and v1 mvhd)") {
    val v0 = VideoOps.parse(mp4(0, 600, 3000, 2)).get
    assert(v0.majorBrand == "isom" && v0.timescale == 600 &&
      v0.durationSec == 5.0 && v0.trackCount == 2)
    val v1 = VideoOps.parse(mp4(1, 90000, 90000L * 7, 1)).get
    assert(v1.durationSec == 7.0 && v1.trackCount == 1)
  }

  test("video parse is total: garbage, truncation, and lying sizes yield None") {
    assert(VideoOps.parse(null).isEmpty)
    assert(VideoOps.parse(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(VideoOps.parse(mp4(0, 600, 3000, 1).take(20)).isEmpty) // truncated moov
    val lying = mp4(0, 600, 3000, 1)
    lying(0) = 0x7F // first box claims a size beyond the buffer
    assert(VideoOps.parse(lying).isEmpty)
  }

  test("video refiner plumbing over the video struct") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("video", StructType(Seq(StructField("bytes", BinaryType))))))
    val rows = Seq(
      Row(0L, Row(mp4(0, 600, 1200, 2))),
      Row(1L, Row("not a video at all".getBytes)),
      Row(2L, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val meta = new VideoMetadataRefiner("video")(df)
      .select(col("id"), col("video_brand"), col("video_duration_sec"), col("video_track_count"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(meta(0L) == "isom" && meta(1L) == null && meta(2L) == null)
  }

}
