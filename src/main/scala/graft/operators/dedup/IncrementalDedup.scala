package graft.operators.dedup

import graft.core.{Marked, Rejection, RejectingOperator}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-snapshot incremental exact dedup: drop rows of the INCREMENT
  * whose content key already exists in a PRIOR corpus snapshot — the
  * "new crawl against last month's corpus" operation. At 100 TB the
  * alternative (union prior + increment, re-dedup everything) rescans
  * the whole corpus per increment; this touches the increment once and
  * the prior's keys once.
  *
  * Key semantics are [[TextExactDedup]]'s (normalize → hash → id
  * fallback), so "already in the prior" agrees exactly with what a full
  * re-dedup would drop.
  *
  * Two membership backends:
  *   - **exact** (default): `left_anti` join of the increment's keys
  *     against the prior's distinct keys. Shuffles fixed-width key
  *     strings; AQE turns it into a broadcast join whenever the prior's
  *     key side fits.
  *   - **bloom**: a Bloom filter built over the prior keys in one
  *     distributed aggregate ([[DataFrame.stat.bloomFilter]]), broadcast
  *     once per executor; the increment is then filtered with zero
  *     shuffle and zero join. False positives (over-dropping) are
  *     bounded by `bloomFpp` — the right trade at 100 TB prior where
  *     even the key table is too big to join cheaply. No false
  *     negatives: every exact drop is a bloom drop (asserted in
  *     DedupSpec).
  */
final class IncrementalExactDedup(
    priorPath: Option[String] = None,
    prior: Option[DataFrame] = None,
    textCol: String = "text",
    idCol: String = "id",
    hashAlgorithm: String = "xxhash64",
    normalizeWhitespace: Boolean = true,
    lowercase: Boolean = true,
    useBloom: Boolean = false,
    bloomExpectedItems: Option[Long] = None,
    bloomFpp: Double = 1e-6) extends RejectingOperator {

  require(priorPath.isDefined || prior.isDefined,
    "incremental dedup needs a prior snapshot (priorPath or prior)")

  val name = "incremental_exact_dedup"

  private def keyOf(df: DataFrame): Column =
    TextExactDedup(textCol = textCol, idCol = idCol, orderCol = idCol,
      hashAlgorithm = hashAlgorithm, normalizeWhitespace = normalizeWhitespace,
      lowercase = lowercase).key(df)

  private def priorDf(df: DataFrame): DataFrame =
    prior.getOrElse(df.sparkSession.read.parquet(priorPath.get))

  private def priorKeys(df: DataFrame): DataFrame =
    priorDf(df).select(keyOf(priorDf(df)).as("_ik")).distinct()

  /** Bloom over the prior's keys: one distributed aggregate, then a
    * broadcast handle the filter kernel probes per row. */
  private def bloomOf(df: DataFrame) = {
    val pk = priorKeys(df)
    val n = bloomExpectedItems.getOrElse(pk.count())
    val bf = pk.stat.bloomFilter("_ik", math.max(n, 1L), bloomFpp)
    df.sparkSession.sparkContext.broadcast(bf)
  }

  /** keep-condition as a pure column (bloom mode only). */
  private def bloomKeep(df: DataFrame): Column =
    !graft.plans.kernels.bloom_might_contain(keyOf(df).cast("string"), bloomOf(df))

  def apply(df: DataFrame): DataFrame =
    if (useBloom) df.filter(bloomKeep(df))
    else df.withColumn("_ik", keyOf(df))
      .join(priorKeys(df), Seq("_ik"), "left_anti").drop("_ik")

  /** Prior-membership is independent of upstream survival, so `alive`
    * does not change who hits — dead rows just keep their earlier
    * rejection (Disposition.step only stamps alive rows). */
  def mark(df: DataFrame, alive: Column, tag: String): Marked =
    if (useBloom)
      Marked(df, bloomKeep(df),
        Rejection.duplicate(name, keyOf(df), lit(null).cast("string")))
    else {
      val kC = s"_ik$tag"; val hC = s"_ihit$tag"
      val d = df.withColumn(kC, keyOf(df))
        .join(priorKeys(df).withColumnRenamed("_ik", kC).withColumn(hC, lit(true)),
          Seq(kC), "left")
      Marked(d, col(hC).isNull,
        Rejection.duplicate(name, col(kC), lit(null).cast("string")), Seq(kC, hC))
    }
}

/** Cross-snapshot incremental NEAR-dedup: drop rows of the INCREMENT
  * whose shingle-set Jaccard against SOME row of a PRIOR corpus
  * snapshot reaches `threshold` through a MinHash-LSH band collision —
  * the fuzzy twin of [[IncrementalExactDedup]] ("new crawl against last
  * month's corpus", reworded re-crawls included). Within-increment
  * near-dups are deliberately NOT dropped here: compose with
  * [[MinHashLSHDedup]] for that, exactly as the exact variant composes
  * with [[TextExactDedup]] — or use [[MinHashLSHDedup.applyAgainst]],
  * which keeps the same rows from one band-key join.
  *
  * Scale shape: the prior side reduces to (id, shingle-hash set, band
  * keys) — at 100 TB you'd materialize that signature table once per
  * snapshot and reuse it across increments; here it is derived on the
  * fly from the prior's text. The only shuffle is the band-key
  * equi-join (increment bands × prior bands), verification runs inside
  * the join stage, and every prior row is "earlier" by construction so
  * no id-order coupling exists between the corpora.
  */
final class IncrementalMinHashDedup(
    priorPath: Option[String] = None,
    prior: Option[DataFrame] = None,
    textCol: String = "text",
    idCol: String = "id",
    shingleWidth: Int = 3,
    numHashes: Int = 16,
    numBands: Int = 4,
    threshold: Double = 0.8,
    portableHashes: Boolean = false,
    priorMaxBucketSize: Option[Int] = None,
    signatureScheme: String = "kmin") extends RejectingOperator {

  require(priorPath.isDefined || prior.isDefined,
    "incremental near-dedup needs a prior snapshot (priorPath or prior)")
  require(priorMaxBucketSize.forall(_ >= 1),
    s"priorMaxBucketSize must be >= 1 when set, got $priorMaxBucketSize")

  val name = "incremental_minhash_dedup"

  private[dedup] val lsh = new MinHashLSHDedup(
    textCol = textCol, idCol = idCol, shingleWidth = shingleWidth,
    numHashes = numHashes, numBands = numBands, threshold = threshold,
    portableHashes = portableHashes, signatureScheme = signatureScheme)

  private def priorDf(df: DataFrame): DataFrame =
    prior.getOrElse(df.sparkSession.read.parquet(priorPath.get))

  /** Increment ids with a verified prior near-dup, with the smallest
    * matching prior id as representative. `priorMaxBucketSize` is the
    * prior-side hot-bucket guard ([[MinHashLSHDedup.pairsAgainst]]) —
    * at 100 TB the accumulated prior's duplicate mass is where a
    * (band, bucket) goes hot.
    */
  private def hits(df: DataFrame): DataFrame =
    lsh.pairsAgainst(df, priorDf(df), priorMaxBucketSize)
      .groupBy(col("d2").as(idCol)).agg(min(col("d1")).as("_rep"))

  def apply(df: DataFrame): DataFrame =
    df.join(hits(df).select(col(idCol)), Seq(idCol), "left_anti")

  /** Prior-membership is independent of upstream survival (the prior is
    * a separate frozen corpus), so `alive` does not change who hits. */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val rC = s"_imr$tag"
    val d = df.join(hits(df).withColumnRenamed("_rep", rC), Seq(idCol), "left")
    Marked(d, col(rC).isNull,
      Rejection.duplicate(name, lit(null).cast("string"), col(rC)), Seq(rC))
  }

  /** Oracle SQL: increment ids kept, ORDER BY id (portable hashes). */
  def keepSql(incTable: String, priorTable: String): String =
    lsh.keepAgainstSql(incTable, priorTable, priorMaxBucketSize)
}
