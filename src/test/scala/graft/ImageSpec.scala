package graft

import graft.operators.image.{ImageMetadataRefiner, ImageOps, ImagePhashDedup, ImagePhashNearDedup, ImageQualityFilter, ImageTechnicalQualityRefiner}
import graft.sources.SyntheticImages
import org.apache.spark.sql.functions._

/** Image kernel + operator behavior the oracle gate can't see: lossless
  * decode roundtrip (the premise of the numpy-parity oracle), file-size
  * semantics, total-function failure behavior, and the perceptual-hash
  * robustness/discrimination properties that justify exact-match dedup.
  */
class ImageSpec extends ScopedSuite {
  import TestSpark._

  // bit distance between two equal-length hex hashes
  private def hamming(hexA: String, hexB: String): Int =
    hexA.zip(hexB).map { case (a, b) =>
      Integer.bitCount(Integer.parseInt(a.toString, 16) ^ Integer.parseInt(b.toString, 16))
    }.sum

  test("PNG roundtrip is lossless: decoded pixels equal the generator spec") {
    for (id <- Seq(1L, 2L, 3L, 7L)) {
      val (w, h, px) = SyntheticImages.pixels(id)
      val d = ImageOps.decode(SyntheticImages.encode(id)).get
      assert(d.width == w && d.height == h && d.format == "PNG")
      assert(d.rgb.sameElements(px), s"pixel drift for id=$id")
    }
  }

  test("decode is total: garbage and empty input yield None, never throw") {
    assert(ImageOps.decode(SyntheticImages.encode(54L)).isEmpty)
    assert(ImageOps.decode(Array.empty[Byte]).isEmpty)
    assert(ImageOps.decode(null).isEmpty)
    assert(ImageOps.decode(Array.fill(256)(0x42.toByte)).isEmpty)
  }

  test("JPEG decodes with correct dims and format (pixels lossy, not asserted)") {
    val d = ImageOps.decode(SyntheticImages.encode(58L)).get
    assert(d.width == 138 && d.height == 104 && d.format == "JPEG")
  }

  test("image_file_size_bytes is the byte length; 0 for missing image") {
    val out = new ImageMetadataRefiner("image")(SyntheticImages.df(spark))
      .select(col("id"), col("image_file_size_bytes"), octet_length(col("image.bytes")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
    out.foreach { case (id, size, len) =>
      if (SyntheticImages.NullIds(id)) assert(size == 0L)
      else assert(size == len && size > 0L, s"id=$id")
    }
  }

  test("compression artifacts = clamp(blockiness*0.6 + compression*0.4) consistency") {
    for (id <- Seq(1L, 3L, 2L, 0L)) {
      val bytes = SyntheticImages.encode(id)
      val d = ImageOps.decode(bytes).get
      val ratio = bytes.length.toDouble / (d.width.toLong * d.height * 3)
      val expected = math.min(1.0, math.max(0.0,
        ImageOps.blockiness(d) * 0.6 + (1.0 - math.min(1.0, ratio * 2.0)) * 0.4))
      assert(ImageOps.compressionArtifacts(d, bytes.length) == expected)
    }
  }

  test("phash: identical pixels → identical hash; dups drop with provenance") {
    val op = new ImagePhashDedup("image", idCol = "id", orderCol = "id")
    val fix = SyntheticImages.df(spark).filter(col("id") <= 57)
    val rejected = op.rejected(fix)
      .select(col("id"), col("_rejection_details.representative_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rejected == Map(50L -> 1L, 51L -> 2L, 52L -> 3L, 53L -> 6L))
  }

  test("phash is perturbation-robust: lightly noised image stays near, other images far") {
    // robustness is meaningful on broad-spectrum content (id 3, noise
    // pattern): a smooth gradient's low-freq block is mostly ±ε floats
    // whose signs are chaotic under perturbation — degenerate for ANY
    // DCT hash (the reference's exact-match phash shares this), so the
    // smooth case is covered by exact-duplicate tests only.
    val (w, h, px) = SyntheticImages.pixels(3L)
    // nudge ~2% of pixels by +4 per channel — visually identical image
    val perturbed = px.zipWithIndex.map { case (p, i) =>
      if (i % 53 == 0) {
        val r = math.min(((p >> 16) & 0xFF) + 4, 255)
        val g = math.min(((p >> 8) & 0xFF) + 4, 255)
        val b = math.min((p & 0xFF) + 4, 255)
        (r << 16) | (g << 8) | b
      } else p
    }
    val near = hamming(
      ImageOps.phash(SyntheticImages.encode(3L)).get,
      ImageOps.phash(SyntheticImages.encodeAs(w, h, perturbed, "png")).get)
    val far = hamming(
      ImageOps.phash(SyntheticImages.encode(3L)).get,
      ImageOps.phash(SyntheticImages.encode(7L)).get)
    assert(near < 48 && far > 64, s"near=$near far=$far")
  }

  test("phash near-dedup drops perturbed copies that exact dedup keeps") {
    import org.apache.spark.sql.Row
    val extra = Seq(
      Row(100L, Row(SyntheticImages.perturbed(3L, 53, 4))),   // hamming 2
      Row(101L, Row(SyntheticImages.perturbed(3L, 23, 12))))  // hamming 8
    val input = SyntheticImages.df(spark).filter(col("id") <= 57).unionByName(
      spark.createDataFrame(spark.sparkContext.parallelize(extra, 1), SyntheticImages.schema))
    val exactKept = new ImagePhashDedup("image", idCol = "id", orderCol = "id")(input)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(exactKept.contains(100L) && exactKept.contains(101L),
      "perturbed copies hash to different exact phash values")
    val near = new ImagePhashNearDedup("image", idCol = "id", k = 8)
    val nearKept = near(input).select("id").collect().map(_.getLong(0)).toSet
    assert(!nearKept.contains(100L) && !nearKept.contains(101L))
    assert(nearKept.contains(3L) && nearKept.contains(54L) && nearKept.contains(56L))
    val reps = near.rejected(input)
      .select(col("id"), col("_rejection_details.representative_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reps(100L) == "3" && reps(101L) == "3")
  }

  test("phash near-dedup maxBucketSize drops pathological buckets whole") {
    import org.apache.spark.sql.Row
    // an exact-duplicate mass: 6 byte-identical copies of id 7 — every
    // block bucket for the group has 6 members, so cap=4 must skip them
    // all (the documented LSH-style semantics: run exact dedup first)
    val copies = (100L to 105L).map(i => Row(i, Row(SyntheticImages.encode(7L))))
    val input = SyntheticImages.df(spark).filter(col("id") === 7L).unionByName(
      spark.createDataFrame(spark.sparkContext.parallelize(copies, 1), SyntheticImages.schema))
    val capped = new ImagePhashNearDedup("image", idCol = "id", k = 8,
      maxBucketSize = Some(4))(input).count()
    assert(capped == input.count(), "capped run must skip the oversized buckets")
    val uncapped = new ImagePhashNearDedup("image", idCol = "id", k = 8)(input).count()
    assert(uncapped == 1, "uncapped run dedups the mass to its representative")
  }

  test("double-gradient hash: exact dups collide, distinct images differ, dedup agrees") {
    def dg(id: Long) = ImageOps.doubleGradientHash(SyntheticImages.encode(id)).get
    assert(dg(50L) == dg(1L) && dg(51L) == dg(2L)) // planted pixel dups
    assert(dg(1L) != dg(2L) && dg(3L) != dg(7L))
    assert(dg(1L).length == 32 && dg(1L).forall("0123456789abcdef".contains(_)))
    assert(ImageOps.doubleGradientHash(SyntheticImages.encode(54L)).isEmpty) // garbage
    val op = new ImagePhashDedup("image", idCol = "id", orderCol = "id",
      algorithm = "double_gradient")
    val rejected = op.rejected(SyntheticImages.df(spark).filter(col("id") <= 57))
      .select(col("id"), col("_rejection_details.representative_id").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rejected.toSet.intersect(Set(50L -> 1L, 51L -> 2L, 52L -> 3L, 53L -> 6L)).size == 4)
  }

  test("phash discriminates: distinct noise images have distant hashes") {
    def ph(id: Long) = ImageOps.phash(SyntheticImages.encode(id)).get
    val d = hamming(ph(3L), ph(7L))
    assert(d > 64, s"noise-vs-noise hamming $d — hash is degenerate")
  }

  test("rejection envelope produced by operators matches the declared Records schema") {
    val op = new ImagePhashDedup("image", idCol = "id", orderCol = "id")
    val rej = op.rejected(SyntheticImages.df(spark).filter(col("id") <= 57))
    val produced = rej.schema("_rejection_details").dataType
    assert(produced.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      graft.core.Rejection.DetailsType.fieldNames.toSeq)
  }

  test("quality filter keeps/rejects partition the fixture; ERROR rows rejected") {
    val f = new ImageQualityFilter(64, 64, 0.8, 3.0)
    val enriched = new ImageTechnicalQualityRefiner("image")(
      new ImageMetadataRefiner("image")(SyntheticImages.df(spark).filter(col("id") <= 57)))
    val kept = f(enriched).select(col("id")).collect().map(_.getLong(0)).toSet
    val rej = f.rejected(enriched).select(col("id")).collect().map(_.getLong(0)).toSet
    assert((kept & rej).isEmpty && (kept ++ rej).size == 58)
    assert((SyntheticImages.GarbageIds ++ SyntheticImages.NullIds).forall(rej))
  }

  test("large images hash via subsampled decode: deterministic, near the full-decode hash, fixtures unaffected") {
    // 512x512 checkerboard+gradient mix — exactly at the min-dim >= 512
    // subsampling threshold (k = min(w,h) / (4·64) = 512/256 = 2)
    val w = 512; val h = 512
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val v = ((x * 255) / (w - 1) + (if (((x / 16) + (y / 16)) % 2 == 0) 64 else 0)) % 256
      (v << 16) | (((v + y) % 256) << 8) | (255 - v)
    }
    val bytes = SyntheticImages.encodeAs(w, h, px, "png")
    val sub = ImageOps.decodeSubsampled(bytes).get
    assert(sub.width == 256 && sub.height == 256, s"expected 2x subsample, got ${sub.width}x${sub.height}")
    assert(ImageOps.decode(bytes).map(d => (d.width, d.height)).contains((512, 512)))
    // deterministic in the bytes
    assert(ImageOps.phash(bytes).get == ImageOps.phash(bytes).get)
    // The dedup-relevant property is WITHIN-pipeline robustness: both
    // members of a near-dup pair hash through the same deterministic
    // subsampled path (k is a function of dims alone), so a lightly
    // perturbed copy must stay inside the near-dup band while distinct
    // content stays far. (Cross-pipeline equality with the full-decode
    // hash is NOT promised: on smooth content most low-freq DCT
    // coefficients are ±ε and their signs are chaotic under ANY decode
    // change — measured 84/256 bits on a gradient — which is why k
    // never depends on anything but the image itself.)
    var s = 987654321L
    val px2 = Array.tabulate(768 * 768) { i =>
      val x = i % 768; val y = i / 768
      s = (1103515245L * s + 12345L) & 0x7FFFFFFFL
      val n = ((s >> 10) % 256).toInt
      val v = (x / 48 + y / 48) % 2 match {
        case 0 => n
        case _ => ((x * 200) / 767 + n / 3) % 256
      }
      (v << 16) | (((v + 37) % 256) << 8) | (255 - v)
    }
    val bytes2 = SyntheticImages.encodeAs(768, 768, px2, "png")
    assert(ImageOps.decodeSubsampled(bytes2).get.width == 256, "expected 3x subsample")
    // perturbed copy: nudge every 5th pixel by +2 per channel
    val px2b = px2.zipWithIndex.map { case (p, i) =>
      if (i % 5 == 0) {
        val r = math.min(255, ((p >> 16) & 0xFF) + 2)
        val g = math.min(255, ((p >> 8) & 0xFF) + 2)
        val b = math.min(255, (p & 0xFF) + 2)
        (r << 16) | (g << 8) | b
      } else p
    }
    val near = hamming(
      ImageOps.phash(bytes2).get,
      ImageOps.phash(SyntheticImages.encodeAs(768, 768, px2b, "png")).get)
    assert(near <= 8, s"perturbed large image drifted $near/256 bits under subsampled hashing")
    val far = hamming(ImageOps.phash(bytes2).get, ImageOps.phash(bytes).get)
    assert(far > 40, s"distinct large images only $far/256 bits apart")
    // every committed fixture id is below the threshold: hash identical
    // to the exact path (the oracle VALUES blocks pin this forever)
    for (id <- 0L until 10L) {
      val b = SyntheticImages.encode(id)
      assert(ImageOps.phash(b).get == ImageOps.phashOf(ImageOps.decode(b).get))
    }
  }
}
