package graft.operators.image

import graft.core.{Deduplicator, Operator, RowFilter}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Adds `image_width`, `image_height`, `image_file_size_bytes`,
  * `image_format` from the HF-style image struct column (`{bytes}`).
  * Decode failure → (0, 0, len, "ERROR"); missing image → (0, 0, 0,
  * "ERROR") — exact failure semantics of the reference's
  * ImageMetadataRefiner (image_metadata.py:35-58).
  *
  * One decode per row (the metadata tuple comes from a single UDF call —
  * Catalyst keeps non-cheap expressions in their own Project, so the
  * struct is evaluated once and field-extracted); file size is native
  * `octet_length`, no decode at all.
  */
final class ImageMetadataRefiner(imageCol: String = "image") extends Operator {
  val name = "image_metadata"

  def apply(df: DataFrame): DataFrame = build(df, lit(true))

  override def applyGated(df: DataFrame, alive: Column): DataFrame = build(df, alive)

  private def build(df: DataFrame, alive: Column): DataFrame = {
    val bytes = col(s"$imageCol.bytes")
    df.withColumn("_meta", when(alive, ImageOps.metadataUdf(bytes)))
      .withColumn("image_width", col("_meta._1"))
      .withColumn("image_height", col("_meta._2"))
      .withColumn("image_file_size_bytes",
        when(alive, coalesce(octet_length(bytes).cast("long"), lit(0L))))
      .withColumn("image_format", col("_meta._3"))
      .drop("_meta")
  }
}

/** Adds `image_compression_artifacts` and `image_information_entropy`
  * (blockiness/compression formula + mean per-channel Shannon entropy,
  * ported from image_ops.rs:13-146; refiners/image_technical_quality.py
  * declares the same outputs). Failure → (0.0, 0.0). Also exposes
  * `image_blockiness` — the pixel-pure component, oracle-checkable
  * independently of encoder byte sizes.
  */
final class ImageTechnicalQualityRefiner(imageCol: String = "image") extends Operator {
  val name = "image_technical_quality"

  def apply(df: DataFrame): DataFrame = build(df, lit(true))

  override def applyGated(df: DataFrame, alive: Column): DataFrame = build(df, alive)

  private def build(df: DataFrame, alive: Column): DataFrame = {
    val bytes = col(s"$imageCol.bytes")
    df.withColumn("_q", when(alive, ImageOps.qualityUdf(bytes)))
      .withColumn("image_compression_artifacts", col("_q._1"))
      .withColumn("image_information_entropy", col("_q._2"))
      .drop("_q")
  }

  def blockinessCol(df: DataFrame): Column = ImageOps.blockinessUdf(col(s"$imageCol.bytes"))
}

/** Keep if `width ≥ minWidth ∧ height ≥ minHeight ∧ artifacts ≤
  * maxCompressionArtifacts ∧ entropy ≥ minInformationEntropy`; missing
  * columns default to 0 — reference ImageQualityFilter semantics
  * (image_quality_filter.py:19-56; defaults 256/256/0.8/3.0, configs use
  * smaller mins, configs/z_image.yaml:16-20). Consumes the refiners'
  * columns: pure Catalyst conjunction, no decode.
  */
final class ImageQualityFilter(
    minWidth: Int = 256,
    minHeight: Int = 256,
    maxCompressionArtifacts: Double = 0.8,
    minInformationEntropy: Double = 3.0) extends RowFilter {

  val name = "image_quality_filter"

  def keep(df: DataFrame): Column = {
    def c(n: String, default: Double): Column =
      if (df.columns.contains(n)) coalesce(col(n).cast("double"), lit(default)) else lit(default)
    c("image_width", 0) >= minWidth &&
      c("image_height", 0) >= minHeight &&
      c("image_compression_artifacts", 0.0) <= maxCompressionArtifacts &&
      c("image_information_entropy", 0.0) >= minInformationEntropy
  }

  /** DuckDB twin over a table already carrying the four quality columns. */
  def keepSql: String =
    s"(coalesce(image_width, 0) >= $minWidth AND coalesce(image_height, 0) >= $minHeight" +
      s" AND coalesce(image_compression_artifacts, 0.0) <= $maxCompressionArtifacts" +
      s" AND coalesce(image_information_entropy, 0.0) >= $minInformationEntropy)"
}

/** Normalizes images to a fixed (width, height) via deterministic RGB box
  * resize, re-encoded PNG under `image_resized.bytes` — the standard
  * pre-inference resize step (the reference resizes inside its model
  * preprocess, e.g. 224×224 at image_visual_degradations.py; here it is
  * a first-class column op so downstream stages can prune the ORIGINAL
  * bytes, which is the 100 TB win). Undecodable input → null struct.
  */
final class ImageResizeRefiner(
    imageCol: String = "image",
    width: Int = 224,
    height: Int = 224,
    outputCol: String = "image_resized") extends Operator {
  val name = "image_resize"
  def apply(df: DataFrame): DataFrame = build(df, lit(true))

  override def applyGated(df: DataFrame, alive: Column): DataFrame = build(df, alive)

  private def build(df: DataFrame, alive: Column): DataFrame =
    df.withColumn(outputCol,
      when(alive && col(s"$imageCol.bytes").isNotNull,
        struct(ImageOps.resizeUdf(width, height)(col(s"$imageCol.bytes")).as("bytes")))
        .otherwise(lit(null)))
}

/** First-wins dedup on the perceptual hash; undecodable images fall back
  * to the record id as key (kept — reference behavior,
  * image_phash_dedup.py:78-84). Exact-match on the hash string, like the
  * reference (no hamming-distance search — its own NOTE at
  * image_phash_dedup.py:30); near-identical images map to equal hashes
  * through the DCT low-frequency construction (asserted in ImageSpec).
  * A precomputed `phash` column is reused when present
  * (image_phash_dedup.py:47-51).
  */
final class ImagePhashDedup(
    imageCol: String = "image",
    idCol: String = "id",
    orderCol: String = "id",
    algorithm: String = "dct") extends Deduplicator {

  require(algorithm == "dct" || algorithm == "double_gradient",
    s"unknown phash algorithm: $algorithm (dct | double_gradient)")

  override val name = "image_phash_dedup"

  def key(df: DataFrame): Column = {
    val computed =
      if (df.columns.contains("phash")) col("phash")
      else if (algorithm == "double_gradient")
        ImageOps.doubleGradientUdf(col(s"$imageCol.bytes"))
      else ImageOps.phashUdf(col(s"$imageCol.bytes"))
    coalesce(computed, col(idCol).cast("string"))
  }
  def order(df: DataFrame): Column = col(orderCol)
  def representative(df: DataFrame): Column = col(idCol)
}

/** Near-duplicate image dedup at phash hamming distance ≤ k — the
  * hamming-search upgrade the reference's own NOTE wishes for
  * (image_phash_dedup.py:30: exact-match only "due to the complexity of
  * distributed hamming-distance search"). Same pigeonhole
  * block-permutation join as [[graft.operators.dedup.SimHashNearDedup]],
  * over the 256-bit (64-hex-char) DCT phash: the hash splits into k+1
  * contiguous hex substrings (sizes differ by ≤ 1 — any k+1-way
  * partition pigeonholes), candidates agree exactly on ≥ 1 block, and
  * `bit_count(xor)` over eight 32-bit chunks verifies exactly — every
  * expression past the phash UDF is a codegen'd builtin. Undecodable
  * images (null phash) never join and are kept, like the exact operator.
  * A row is DROPPED when an earlier row (smaller `idCol`) verifies
  * within distance k; a precomputed `phash` column is reused when
  * present.
  *
  * Scale shape: one phash kernel pass, then one shuffle on
  * (block-index, block-substring) ≤ 9-byte keys; the verify filter runs
  * inside the join stage. Default k=8 sits under the measured minimum
  * cross-image distance (10) and above the perturbation band (≤ 8) on
  * the fixture corpus.
  */
final class ImagePhashNearDedup(
    imageCol: String = "image",
    val idCol: String = "id",
    k: Int = 8,
    maxBucketSize: Option[Int] = None) extends graft.core.PairwiseDedup {

  require(k >= 0 && k < 64, s"k ($k) must be in [0, 64)")
  val name = "image_phash_near_dedup"

  private val hexLen = 64
  private val numBlocks = k + 1
  /** (1-based start, length) of each contiguous hex block. */
  private val bounds: Seq[(Int, Int)] = {
    val base = hexLen / numBlocks; val rem = hexLen % numBlocks
    var pos = 1
    (0 until numBlocks).map { i =>
      val len = base + (if (i < rem) 1 else 0)
      val r = (pos, len); pos += len; r
    }
  }

  /** Precomputed `phash` column wins: decode+DCT is the expensive step
    * and the lazy self-join computes its input once per join branch —
    * at scale, stage `phash` once (one decode pass) and persist it
    * before near-dedup, as the bench probe does.
    */
  private def phashCol(df: DataFrame): Column =
    if (df.columns.contains("phash")) col("phash")
    else ImageOps.phashUdf(col(s"$imageCol.bytes"))

  /** Exact hamming distance over eight 32-bit hex chunks (builtins only). */
  private def hammingExpr(a: Column, b: Column): Column =
    (0 until 8).map { i =>
      bit_count(conv(substring(a, i * 8 + 1, 8), 16, 10).cast("long")
        .bitwiseXOR(conv(substring(b, i * 8 + 1, 8), 16, 10).cast("long")))
    }.reduce(_ + _)

  /** Verified pairs (d1 < d2, hamming(phash1, phash2) ≤ k).
    *
    * No isNotNull pre-filter on the phash: predicate pushdown would
    * duplicate the decode+DCT UDF into the filter (2× per row —
    * plan-checked in PlanSpec); a null hash yields null block keys,
    * which never match an equi-join, so undecodable rows drop out of
    * candidate generation for free.
    */
  def verifiedPairs(df: DataFrame): DataFrame = {
    val base = df.select(col(idCol).as("_id"), phashCol(df).as("_ph"))
    val blockVals = array(bounds.map { case (p, l) => substring(col("_ph"), p, l) }: _*)
    val bl0 = base.select(col("_id"), col("_ph"), posexplode(blockVals).as(Seq("_b", "_bv")))
    // Pathological-bucket cap, mirroring MinHashLSHDedup.maxBucketSize:
    // a corpus with large EXACT-duplicate masses puts whole groups into
    // identical block values across all k+1 blocks, turning the band
    // join quadratic (measured 100× replication probe: 14 s for 6k
    // images uncapped). Production order runs exact phash dedup first,
    // so surviving buckets are small; the cap bounds the worst case.
    val bl = maxBucketSize match {
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        bl0.withColumn("_bn", count(lit(1)).over(
            Window.partitionBy(col("_b"), col("_bv"))))
          .filter(col("_bn") <= cap).drop("_bn")
      case None => bl0
    }
    val left = bl.select(col("_b"), col("_bv"), col("_id").as("d1"), col("_ph").as("p1"))
    val right = bl.select(col("_b"), col("_bv"), col("_id").as("d2"), col("_ph").as("p2"))
    // verify before dedup (see SimHashNearDedup): the chunked bit_count
    // verify is builtins inside the join stage; only true pairs shuffle.
    // coalesce = null-safety barrier against inferred isnotnull filters
    // that would duplicate the decode+DCT UDF (plan-checked in PlanSpec).
    left.join(right, Seq("_b", "_bv"))
      .filter(col("d1") < col("d2") &&
        coalesce(hammingExpr(col("p1"), col("p2")) <= k, lit(false)))
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"))
  }
}
