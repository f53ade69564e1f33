package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SimHash near-duplicate dedup at hamming distance ≤ k — the
  * block-permutation extension sketched in [[SimHashDedup]] (Manku et al.
  * WWW'07): split the `bits`-wide fingerprint into k+1 equal blocks; two
  * fingerprints within distance k must agree EXACTLY on at least one
  * block (pigeonhole), so the per-block equality join finds every
  * qualifying pair — no false negatives — and `bit_count(xor) ≤ k`
  * verifies exactly. A row is DROPPED when an earlier row (smaller
  * `idCol`) verifies within distance k; pairwise like [[MinHashLSHDedup]],
  * not transitive closure.
  *
  * Scale shape: one fingerprint kernel pass, then the only shuffle is the
  * (block-index, block-value) join — the same banded-LSH form as MinHash,
  * with 8-byte keys. Exact-equality dedup is the k=0 special case.
  */
final class SimHashNearDedup(
    textCol: String = "text",
    val idCol: String = "id",
    bits: Int = 32,
    k: Int = 3,
    portableHashes: Boolean = true,
    maxBucketSize: Option[Int] = None) extends graft.core.PairwiseDedup {

  require(k >= 0 && bits % (k + 1) == 0,
    s"bits ($bits) must divide into k+1 (${k + 1}) equal blocks")
  require(maxBucketSize.forall(_ >= 1),
    s"maxBucketSize must be >= 1 when set, got $maxBucketSize")
  private val numBlocks = k + 1
  private val blockWidth = bits / numBlocks
  private val mask = (1L << blockWidth) - 1

  val name = "simhash_near_dedup"

  private val fingerprint = new SimHashDedup(textCol, idCol, idCol, bits, portableHashes)

  /** Verified pairs (d1 < d2, hamming(fp1, fp2) ≤ k).
    *
    * `maxBucketSize` (r17) is the hot-bucket guard: duplicates CLUSTER
    * (identical texts → identical fingerprints → every block collides),
    * so without a cap the duplicate mass itself is a within-bucket
    * quadratic — the exact blowup the gate config once dodged by
    * widening blocks (9.2 s at 8-bit blocks, see the gate note).
    * Policy mirrors [[MinHashLSHDedup]]: a (block, value) bucket with
    * more than cap members is DROPPED via a count-only broadcast
    * anti-join — counts on the wire, never a fingerprint-carrying
    * exchange keyed on the hot bucket.
    */
  def verifiedPairs(df: DataFrame): DataFrame = {
    val base = df.select(col(idCol).as("_id"),
      fingerprint.simhash(col(textCol)).as("_fp"))
    val blockVals = array((0 until numBlocks).map(b =>
      shiftright(col("_fp"), b * blockWidth).bitwiseAND(lit(mask))): _*)
    val bl0 = base.select(col("_id"), col("_fp"), posexplode(blockVals).as(Seq("_b", "_bv")))
    val bl = maxBucketSize match {
      case None => bl0
      case Some(cap) =>
        val hot = bl0.select(col("_b"), col("_bv"))
          .groupBy(col("_b"), col("_bv")).agg(count(lit(1)).as("_bn"))
          .filter(col("_bn") > cap).select(col("_b"), col("_bv"))
        bl0.join(broadcast(hot), Seq("_b", "_bv"), "left_anti")
    }
    val left = bl.select(col("_b"), col("_bv"), col("_id").as("d1"), col("_fp").as("f1"))
    val right = bl.select(col("_b"), col("_bv"), col("_id").as("d2"), col("_fp").as("f2"))
    // verify BEFORE dedup: bit_count(xor) is near-free inside the join
    // stage, so only TRUE pairs reach the dropDuplicates shuffle (the
    // candidate multiset from multiple agreeing blocks never moves).
    // The null-safe coalesce keeps constraint inference from pushing an
    // isnotnull(fingerprint) filter below the projection, which would
    // re-evaluate the fingerprint kernel per row (plan-checked).
    left.join(right, Seq("_b", "_bv"))
      .filter(col("d1") < col("d2") &&
        coalesce(bit_count(col("f1").bitwiseXOR(col("f2"))) <= k, lit(false)))
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"))
  }

  // ---- DuckDB twin ----

  def keepSql(table: String): String = {
    require(portableHashes)
    // QUALIFY mirrors the Spark-side maxBucketSize hot-bucket anti-join
    // (same semantics: (block, value) buckets with count > cap drop)
    val cap = maxBucketSize.map(c =>
      s"\n  QUALIFY count(*) OVER (PARTITION BY b, bv) <= $c").getOrElse("")
    s"""WITH f AS (SELECT $idCol AS id, ${fingerprint.simhashSql(textCol)} AS fp FROM $table),
       |bl AS (SELECT id, fp, b, (fp >> (b * $blockWidth)) & $mask AS bv
       |  FROM f CROSS JOIN (SELECT unnest(range(0, $numBlocks)) AS b) bs$cap),
       |cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2, a.fp AS f1, b.fp AS f2
       |  FROM bl a JOIN bl b ON a.b = b.b AND a.bv = b.bv AND a.id < b.id),
       |ver AS (SELECT d1, d2 FROM cand WHERE bit_count(xor(f1, f2)) <= $k)
       |SELECT $idCol FROM $table WHERE $idCol NOT IN (SELECT d2 FROM ver)
       |ORDER BY $idCol""".stripMargin
  }
}
