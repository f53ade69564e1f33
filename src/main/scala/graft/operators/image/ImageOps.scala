package graft.operators.image

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** CPU image kernels: decode, metadata, technical quality (blockiness /
  * compression / Shannon entropy), and a DCT perceptual hash.
  *
  * Ports the semantics of the reference's accelerated image kernels
  * (reference: src/image_ops.rs:13-146 — the canonical batch
  * implementation its Python operators delegate to): integer (r+g+b)/3
  * gray, u16/u32 integer accumulation with the same truncating divisions,
  * 8-px block boundaries capped at 64 samples per axis, per-channel
  * 256-bin Shannon entropy averaged over RGB, decode failure → zero
  * scores, never throws (image_metadata.py:49-53 total-function contract).
  *
  * The perceptual hash is OUR canonical algorithm (classic DCT phash:
  * gray → 64×64 box resize → DCT-II → 16×16 low-frequency block > median
  * → 256-bit hex). The reference's primary alg is the `image_hasher`
  * crate's DoubleGradient (image_ops.rs:152-156) whose bit layout is
  * crate-internal; SURVEY.md §7.4 records the decision to declare ours
  * canonical and parity-test self-consistency + dedup behavior instead
  * (its Python fallback is the same DCT construction we implement).
  *
  * Everything here is a plain JVM function wrapped in a UDF — decode cost
  * dominates, so expression codegen buys nothing; the operators keep image
  * bytes out of downstream stages (column pruning) which is the actual
  * 100 TB concern (SURVEY.md §7.2 M4).
  */
object ImageOps {

  final case class Decoded(width: Int, height: Int, format: String, rgb: Array[Int])

  /** Total decode: None for null/garbage/truncated input. `rgb` is
    * row-major packed 0xRRGGBB.
    */
  def decode(bytes: Array[Byte]): Option[Decoded] = decodeWith(bytes, 1)

  /** Decode for RESOLUTION-INSENSITIVE consumers (the perceptual
    * hashes): an image whose min dimension is at least `2 * 4 *
    * targetGrid` (512 px for the 64-grid) decodes at 1/k resolution via
    * ImageReadParam source subsampling, keeping >= 4x oversampling of
    * the target grid (>= 16 source samples per box-resize cell — point
    * subsampling aliases high-frequency content, so don't cut closer).
    * A 4000 px photo decodes ~7x cheaper.
    *
    * Contract: k is a deterministic function of the image dims ALONE,
    * so identical bytes always hash identically and near-dup pairs
    * (same dims, tiny pixel deltas) ride the same path — the property
    * dedup actually needs (pinned in ImageSpec). Equality with the
    * full-resolution hash is NOT promised: on smooth content most
    * low-freq DCT coefficients are ±ε with chaotic signs under any
    * decode change, so hash corpora from different pipeline versions
    * must not be mixed. Images below the threshold — including the
    * whole committed fixture corpus, which pins the hash oracles — take
    * the exact full-resolution path.
    */
  def decodeSubsampled(bytes: Array[Byte], targetGrid: Int = 64): Option[Decoded] =
    decodeWith(bytes, 1, adaptiveDenom = 4 * targetGrid)

  // Reader reuse: ImageIO.getImageReaders walks the service registry per
  // call (~50 us/img measured); PNG/JPEG magic bytes select a cached
  // per-thread reader instead. Unknown magics fall back to the registry
  // (reader disposed after use). ImageReader instances are reusable by
  // design (setInput replaces the source) but not thread-safe — hence
  // ThreadLocal.
  private val cachedReaders =
    new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() = new java.util.HashMap
    }

  private def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes.length >= 8 && (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G') "png"
    else if (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xFF &&
      (bytes(1) & 0xFF) == 0xD8) "jpeg"
    else null
  }

  /** Cached reader with input set, or a fresh registry reader (caller
    * disposes via [[releaseReader]]); null when no reader exists.
    */
  private def readerFor(iis: javax.imageio.stream.ImageInputStream): javax.imageio.ImageReader = {
    val readers = ImageIO.getImageReaders(iis)
    if (!readers.hasNext) return null
    val r = readers.next()
    r.setInput(iis)
    r
  }

  private def cachedReaderFor(bytes: Array[Byte],
      iis: javax.imageio.stream.ImageInputStream): (javax.imageio.ImageReader, Boolean) = {
    val fmt = sniffFormat(bytes)
    if (fmt == null) return (readerFor(iis), false)
    val cache = cachedReaders.get()
    var r = cache.get(fmt)
    if (r == null) {
      val it = ImageIO.getImageReadersByFormatName(fmt)
      if (!it.hasNext) return (readerFor(iis), false)
      r = it.next()
      cache.put(fmt, r)
    }
    try {
      r.setInput(iis)
      (r, true)
    } catch {
      case _: Throwable =>
        // a poisoned cached reader is dropped, not reused
        cache.remove(fmt)
        try r.dispose() catch { case _: Throwable => () }
        (readerFor(iis), false)
    }
  }

  /** `adaptiveDenom > 0` derives the subsample factor from the header
    * dims inside the SAME reader session (k = min(w,h)/denom) — a
    * separate header read would double the stream+reader setup, which
    * dominates for small images.
    */
  private def decodeWith(bytes: Array[Byte], subsample: Int,
      adaptiveDenom: Int = 0): Option[Decoded] = {
    if (bytes == null || bytes.isEmpty) return None
    var iis: javax.imageio.stream.ImageInputStream = null
    var reader: javax.imageio.ImageReader = null
    var cached = false
    try {
      iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      val (r, c) = cachedReaderFor(bytes, iis)
      reader = r
      cached = c
      if (reader == null) return None
      val format = reader.getFormatName.toUpperCase match {
        case "JPG" => "JPEG"
        case f     => f
      }
      val k =
        if (adaptiveDenom > 0)
          math.max(1, math.min(reader.getWidth(0), reader.getHeight(0)) / adaptiveDenom)
        else subsample
      val img =
        if (k > 1) {
          val p = reader.getDefaultReadParam
          p.setSourceSubsampling(k, k, 0, 0)
          reader.read(0, p)
        } else reader.read(0)
      Some(Decoded(img.getWidth, img.getHeight, format, rgbOf(img)))
    } catch {
      case _: Throwable => None
    } finally {
      if (reader != null && !cached) try reader.dispose() catch { case _: Throwable => () }
      if (iis != null) try iis.close() catch { case _: Throwable => () }
    }
  }

  /** Packed 0xRRGGBB pixels, value-identical to getRGB but via direct
    * raster access for the two layouts the PNG/JPEG readers actually
    * produce (getRGB's generic per-pixel ColorModel path measured
    * 187 us on a 100x130 image — the single largest decode cost):
    *  - TYPE_3BYTE_BGR: interleaved sRGB component bytes — getRGB
    *    returns exactly those bytes, no conversion;
    *  - TYPE_INT_RGB: packed ints, mask alpha.
    * Anything else (palette, gray — gray's getRGB applies a real
    * CS_GRAY->sRGB conversion) keeps the exact generic path.
    */
  private def rgbOf(img: java.awt.image.BufferedImage): Array[Int] = {
    import java.awt.image.{BufferedImage, DataBufferByte, DataBufferInt, PixelInterleavedSampleModel}
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR
        if raster.getSampleModelTranslateX == 0 &&
          raster.getSampleModelTranslateY == 0 &&
          raster.getSampleModel.isInstanceOf[PixelInterleavedSampleModel] &&
          raster.getDataBuffer.isInstanceOf[DataBufferByte] &&
          raster.getDataBuffer.getNumBanks == 1 =>
        val sm = raster.getSampleModel.asInstanceOf[PixelInterleavedSampleModel]
        val db = raster.getDataBuffer.asInstanceOf[DataBufferByte]
        val data = db.getData
        val off = db.getOffset
        val ps = sm.getPixelStride
        val ss = sm.getScanlineStride
        val bo = sm.getBandOffsets // bands are R,G,B
        val (ro, go, bo2) = (bo(0), bo(1), bo(2))
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var p = off + y * ss
          var i = y * w
          val end = i + w
          while (i < end) {
            out(i) = ((data(p + ro) & 0xFF) << 16) |
              ((data(p + go) & 0xFF) << 8) | (data(p + bo2) & 0xFF)
            p += ps
            i += 1
          }
          y += 1
        }
        out
      case BufferedImage.TYPE_INT_RGB
        if raster.getSampleModelTranslateX == 0 &&
          raster.getSampleModelTranslateY == 0 &&
          raster.getDataBuffer.isInstanceOf[DataBufferInt] &&
          raster.getDataBuffer.getNumBanks == 1 &&
          raster.getSampleModel.isInstanceOf[java.awt.image.SinglePixelPackedSampleModel] =>
        val db = raster.getDataBuffer.asInstanceOf[DataBufferInt]
        val data = db.getData
        val off = db.getOffset
        val sm = raster.getSampleModel
          .asInstanceOf[java.awt.image.SinglePixelPackedSampleModel]
        val ss = sm.getScanlineStride
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var p = off + y * ss
          var i = y * w
          val end = i + w
          while (i < end) { out(i) = data(p) & 0xFFFFFF; p += 1; i += 1 }
          y += 1
        }
        out
      case _ =>
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < rgb.length) { rgb(i) = rgb(i) & 0xFFFFFF; i += 1 }
        rgb
    }
  }

  @inline private def gray(p: Int): Int =
    (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3

  /** Blockiness of the 8-px JPEG block grid — exact integer semantics of
    * detect_compression_artifacts_from_rgb (image_ops.rs:51-108): u16 gray
    * thirds, per-boundary `sum / width` truncating division, ≤64 sampled
    * boundaries per axis, mean of the two axis means / 255.
    */
  def blockiness(d: Decoded): Double = {
    val blockSize = 8
    val maxSamples = 64
    val w = d.width; val h = d.height
    val hBlocks = math.min(math.max(h - 1, 0) / blockSize, maxSamples)
    val wBlocks = math.min(math.max(w - 1, 0) / blockSize, maxSamples)
    var vSum = 0L; var vCount = 0
    var i = 0
    while (i < hBlocks) {
      val y = i * blockSize
      if (y + 1 < h) {
        var sum = 0L
        var x = 0
        while (x < w) {
          val g1 = gray(d.rgb(y * w + x))
          val g2 = gray(d.rgb((y + 1) * w + x))
          sum += math.abs(g1 - g2)
          x += 1
        }
        vSum += sum / w
        vCount += 1
      }
      i += 1
    }
    var hSum = 0L; var hCount = 0
    var j = 0
    while (j < wBlocks) {
      val x = j * blockSize
      if (x + 1 < w) {
        var sum = 0L
        var y = 0
        while (y < h) {
          val g1 = gray(d.rgb(y * w + x))
          val g2 = gray(d.rgb(y * w + x + 1))
          sum += math.abs(g1 - g2)
          y += 1
        }
        hSum += sum / h
        hCount += 1
      }
      j += 1
    }
    if (vCount > 0 && hCount > 0) {
      val vAvg = vSum.toDouble / vCount / 255.0
      val hAvg = hSum.toDouble / hCount / 255.0
      (vAvg + hAvg) / 2.0
    } else 0.0
  }

  /** `clamp(blockiness*0.6 + (1 - min(1, bytes/(3wh) * 2))*0.4, 0, 1)` —
    * image_ops.rs:110-122. */
  def compressionArtifacts(d: Decoded, byteLen: Int): Double = {
    val uncompressed = d.width.toLong * d.height * 3
    val ratio = if (uncompressed > 0) byteLen.toDouble / uncompressed else 1.0
    val compressionScore = 1.0 - math.min(1.0, ratio * 2.0)
    val artifact = blockiness(d) * 0.6 + compressionScore * 0.4
    math.min(1.0, math.max(0.0, artifact))
  }

  /** Mean per-channel Shannon entropy over 256-bin histograms —
    * calculate_entropy_from_rgb (image_ops.rs:13-48), ascending-bin
    * accumulation order so doubles match the numpy twin bit-for-bit.
    */
  def entropy(d: Decoded): Double = {
    val r = new Array[Long](256); val g = new Array[Long](256); val b = new Array[Long](256)
    var i = 0
    while (i < d.rgb.length) {
      val p = d.rgb(i)
      r((p >> 16) & 0xFF) += 1
      g((p >> 8) & 0xFF) += 1
      b(p & 0xFF) += 1
      i += 1
    }
    val total = d.rgb.length
    if (total == 0) return 0.0
    val invTotal = 1.0 / total
    def channel(counts: Array[Long]): Double = {
      var e = 0.0
      var k = 0
      while (k < 256) {
        val c = counts(k)
        if (c > 0) {
          val p = c * invTotal
          e -= p * (math.log(p) / math.log(2.0))
        }
        k += 1
      }
      e
    }
    (channel(r) + channel(g) + channel(b)) / 3.0
  }

  // ---- perceptual hash (canonical DCT construction) ----

  private val PhashResize = 64
  private val PhashBits = 16 // 16×16 low-freq block → 256-bit hash

  // flat [u * n + x] layout — the 2D tabulate's row indirection cost
  // ~15% of the DCT loop
  private lazy val dctCos: Array[Double] = {
    val n = PhashResize
    val a = new Array[Double](n * n)
    var u = 0
    while (u < n) {
      var x = 0
      while (x < n) {
        a(u * n + x) = math.cos(math.Pi * (2 * x + 1) * u / (2.0 * n))
        x += 1
      }
      u += 1
    }
    a
  }

  /** 256-bit DCT phash as a 64-char hex string; None for undecodable
    * input. Large images (min dim >= 512 = 2·4·targetGrid) decode
    * subsampled — see
    * [[decodeSubsampled]]; the hash only consumes a 64x64 box resize,
    * so >= 2x oversampling is retained.
    */
  def phash(bytes: Array[Byte]): Option[String] = decodeSubsampled(bytes).map(phashOf)

  def phashOf(d: Decoded): String = {
    val n = PhashResize
    // integer gray, box-resize to n×n (mean over the source box, double)
    val small = new Array[Double](n * n)
    var by = 0
    while (by < n) {
      val y0 = by * d.height / n
      val y1 = math.max((by + 1) * d.height / n, y0 + 1)
      val yMax = math.min(y1, d.height)
      var bx = 0
      while (bx < n) {
        val x0 = bx * d.width / n
        val x1 = math.max((bx + 1) * d.width / n, x0 + 1)
        val xMax = math.min(x1, d.width)
        var sum = 0L; var cnt = 0
        var y = y0
        while (y < yMax) {
          val rowBase = y * d.width
          var x = x0
          while (x < xMax) {
            sum += gray(d.rgb(rowBase + x)); cnt += 1
            x += 1
          }
          y += 1
        }
        small(by * n + bx) = if (cnt > 0) sum.toDouble / cnt else 0.0
        bx += 1
      }
      by += 1
    }
    // separable DCT-II, rows then columns, only the low PhashBits
    // outputs. Intermediate stored TRANSPOSED (rowsT[v][y]) so both
    // passes stream unit-stride; per-output accumulation order (x asc,
    // then y asc) is unchanged, so hashes are bit-identical to the
    // original nested-array form (pinned by the committed oracles).
    val rowsT = new Array[Double](PhashBits * n) // rowsT[v][y]
    var y = 0
    while (y < n) {
      val rowBase = y * n
      var v = 0
      while (v < PhashBits) {
        val cosBase = v * n
        var acc = 0.0
        var x = 0
        while (x < n) { acc += small(rowBase + x) * dctCos(cosBase + x); x += 1 }
        rowsT(v * n + y) = acc
        v += 1
      }
      y += 1
    }
    val freq = new Array[Double](PhashBits * PhashBits) // freq[u][v]
    var u = 0
    while (u < PhashBits) {
      val cosBase = u * n
      var v = 0
      while (v < PhashBits) {
        val rBase = v * n
        var acc = 0.0
        var yy = 0
        while (yy < n) { acc += rowsT(rBase + yy) * dctCos(cosBase + yy); yy += 1 }
        freq(u * PhashBits + v) = acc
        v += 1
      }
      u += 1
    }
    // primitive sort (Array[Double].sorted boxes through Ordering)
    val sorted = freq.clone()
    java.util.Arrays.sort(sorted)
    val median = (sorted(freq.length / 2 - 1) + sorted(freq.length / 2)) / 2.0
    val sb = new StringBuilder(PhashBits * PhashBits / 4)
    var nibble = 0; var bitsIn = 0
    var k = 0
    while (k < freq.length) {
      nibble = (nibble << 1) | (if (freq(k) > median) 1 else 0)
      bitsIn += 1
      if (bitsIn == 4) { sb.append("0123456789abcdef".charAt(nibble)); nibble = 0; bitsIn = 0 }
      k += 1
    }
    sb.toString
  }

  /** Double-gradient hash — the reference's PRIMARY phash algorithm
    * class (image_hasher DoubleGradient, src/image_ops.rs:149-174):
    * horizontal dHash over a 9×8 gray resize plus vertical dHash over
    * 8×9, 64+64 = 128 bits as a 32-hex-char string. Same algorithm
    * FAMILY as the crate; exact bit parity with its output is out of
    * scope because the crate's resize interpolation differs from our
    * deterministic integer box resize (documented deviation, SURVEY
    * §7.4 — use one system's hashes consistently).
    */
  def doubleGradientHash(bytes: Array[Byte]): Option[String] =
    decode(bytes).map { d =>
      def grayResize(ow: Int, oh: Int): Array[Int] = {
        val r = boxResize(d, ow, oh)
        r.rgb.map(gray)
      }
      val sb = new StringBuilder(32)
      var nibble = 0; var bitsIn = 0
      @inline def push(bit: Boolean): Unit = {
        nibble = (nibble << 1) | (if (bit) 1 else 0)
        bitsIn += 1
        if (bitsIn == 4) { sb.append("0123456789abcdef".charAt(nibble)); nibble = 0; bitsIn = 0 }
      }
      val hz = grayResize(9, 8) // horizontal gradients: 8 bits per row
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) { push(hz(y * 9 + x) < hz(y * 9 + x + 1)); x += 1 }
        y += 1
      }
      val vt = grayResize(8, 9) // vertical gradients: 8 bits per column
      var x = 0
      while (x < 8) {
        var yy = 0
        while (yy < 8) { push(vt(yy * 8 + x) < vt((yy + 1) * 8 + x)); yy += 1 }
        x += 1
      }
      sb.toString
    }

  /** RGB box resize (per-channel mean over the source box — the color
    * version of the phash gray resize; deterministic integer boxes).
    */
  def boxResize(d: Decoded, ow: Int, oh: Int): Decoded = {
    val out = new Array[Int](ow * oh)
    var by = 0
    while (by < oh) {
      val y0 = by * d.height / oh
      val y1 = math.max((by + 1) * d.height / oh, y0 + 1)
      var bx = 0
      while (bx < ow) {
        val x0 = bx * d.width / ow
        val x1 = math.max((bx + 1) * d.width / ow, x0 + 1)
        var r = 0L; var g = 0L; var b = 0L; var cnt = 0
        var y = y0
        while (y < math.min(y1, d.height)) {
          var x = x0
          while (x < math.min(x1, d.width)) {
            val p = d.rgb(y * d.width + x)
            r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF; b += p & 0xFF
            cnt += 1
            x += 1
          }
          y += 1
        }
        out(by * ow + bx) =
          if (cnt == 0) 0
          else (((r / cnt).toInt << 16) | ((g / cnt).toInt << 8) | (b / cnt).toInt)
        bx += 1
      }
      by += 1
    }
    Decoded(ow, oh, "PNG", out)
  }

  /** Resize to (w, h) and re-encode as PNG; undecodable input → null. */
  def resizeUdf(w: Int, h: Int) = udf((bytes: Array[Byte]) =>
    decode(bytes).map { d =>
      val r = boxResize(d, w, h)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, r.rgb, 0, w)
      val baos = new java.io.ByteArrayOutputStream()
      ImageIO.write(img, "png", baos)
      baos.toByteArray
    }.orNull)

  // ---- UDF surface ----

  /** (width, height, format) or (0, 0, "ERROR") — file size is handled
    * natively with octet_length, no UDF needed. */
  val metadataUdf = udf((bytes: Array[Byte]) =>
    decode(bytes) match {
      case Some(d) => (d.width, d.height, d.format)
      case None    => (0, 0, "ERROR")
    })

  /** (compression_artifacts, information_entropy); failure → (0.0, 0.0). */
  val qualityUdf = udf((bytes: Array[Byte]) =>
    decode(bytes) match {
      case Some(d) => (compressionArtifacts(d, bytes.length), entropy(d))
      case None    => (0.0, 0.0)
    })

  /** Blockiness alone (pixel-pure — no dependence on encoded size). */
  val blockinessUdf = udf((bytes: Array[Byte]) =>
    decode(bytes).map(blockiness).getOrElse(0.0))

  /** Hex phash or null for undecodable input (callers fall back to id). */
  val phashUdf = udf((bytes: Array[Byte]) => phash(bytes).orNull)

  /** Hex double-gradient hash or null for undecodable input. */
  val doubleGradientUdf = udf((bytes: Array[Byte]) => doubleGradientHash(bytes).orNull)
}
