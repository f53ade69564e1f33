package graft.operators.dedup

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard near-duplicate dedup with AllPairs prefix
  * filtering (Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity
  * Search", WWW 2007).
  *
  * Semantics: Jaccard is computed exactly over the distinct hashed
  * shingle sets; a row is DROPPED when an earlier row (smaller `idCol`)
  * has Jaccard ≥ `threshold`. With `maxDocFreq` set, shingles appearing
  * in more than that many documents are stop-shingles REMOVED FROM THE
  * UNIVERSE first (the standard stop-word treatment), and the exact
  * dedup runs over what remains — sizes and intersections both come
  * from the filtered sets, so the capped tier is simply "exact Jaccard
  * after stop-shingle removal".
  *
  * This is the exact (no-false-negative) counterpart of
  * [[MinHashLSHDedup]]: every MinHash drop is a Jaccard drop, never the
  * reverse — asserted in DedupSpec.
  *
  * Scale shape: candidate pairs come from a self-join of PREFIX
  * postings only — each document indexes just its first
  * `n − ceil(t·n) + 1` shingles in a global (hash-ascending) order.
  * Any pair with Jaccard ≥ t must share a token inside BOTH prefixes
  * (the smallest common token in the global order cannot sit in either
  * suffix: a suffix holds ceil(t·n) − 1 < |A∩B| tokens), so the filter
  * is lossless; at t = 0.8 the index is ~5× smaller and the join
  * ~25× smaller than the full posting self-join this replaces.
  * Candidates are then verified exactly by one [[graft.plans.kernels
  * .ArrayJaccard]] pass over the two hash sets. The prefix length
  * subtracts 1e-9 before the ceil so float error can only LENGTHEN a
  * prefix (extra candidates die in verification; a shortened prefix
  * would silently lose true pairs). Postings carry the 60-bit shingle
  * hash, never the string. For corpora where even the prefix join is
  * too hot, [[MinHashLSHDedup]] remains the sub-quadratic tier.
  */
final class NgramJaccardDedup(
    textCol: String = "text",
    val idCol: String = "id",
    shingleWidth: Int = 3,
    threshold: Double = 0.8,
    val maxDocFreq: Option[Int] = None) extends graft.core.PairwiseDedup {

  require(threshold > 0.0 && threshold <= 1.0,
    s"threshold $threshold must be in (0, 1] (prefix filtering needs t > 0)")

  val name = "ngram_jaccard_dedup"

  /** doc → (id, distinct hashed shingle set, hash-ascending) via the
    * fused kernels.ShingleHashes loop (tokenize+shingle+hash once per
    * row). The sort fixes the global token order the prefix filter
    * needs.
    */
  private def shingled(df: DataFrame): DataFrame =
    df.select(col(idCol).as("_id"),
      array_sort(graft.plans.kernels.shingle_hashes(col(textCol), shingleWidth)).as("_hs"))

  /** Verified duplicate pairs (d1 < d2, exact Jaccard ≥ threshold). */
  def verifiedPairs(df: DataFrame): DataFrame = {
    val base = shingled(df)
    val sets = maxDocFreq match {
      case Some(cap) =>
        // stop-shingle removal: hot tokens leave the universe (counts
        // only through the aggregation; the few hot keys broadcast back).
        // Staging post/sets here was TRIED r19 and REVERTED: isolated
        // A/Bs won (−24…−38 %) but the full-suite runs — the driver's
        // configuration — read +12 % vs unstaged (see
        // NgramContainmentDedup.verifiedPairs for the mechanism).
        val post = base.select(col("_id"), explode(col("_hs")).as("_g"))
        val hot = post.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select(col("_g"))
        post.join(broadcast(hot), Seq("_g"), "left_anti")
          .groupBy(col("_id"))
          .agg(sort_array(collect_list(col("_g"))).as("_hs"))
      case None => base
    }
    val withLen = sets
      .withColumn("_n", size(col("_hs")))
      .withColumn("_p",
        (col("_n") - ceil(col("_n") * lit(threshold) - lit(1e-9)) + 1).cast("int"))
    val prefix = withLen.select(col("_id"),
      explode(slice(col("_hs"), lit(1), col("_p"))).as("_g"))
    val cand = prefix.select(col("_g"), col("_id").as("d1"))
      .join(prefix.select(col("_g"), col("_id").as("d2")), Seq("_g"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    cand
      .join(withLen.select(col("_id").as("d1"), col("_hs").as("_h1")), Seq("d1"))
      .join(withLen.select(col("_id").as("d2"), col("_hs").as("_h2")), Seq("d2"))
      .withColumn("_j", graft.plans.kernels.array_jaccard(col("_h1"), col("_h2")))
      .filter(col("_j") >= threshold)
      .select(col("d1"), col("d2"), col("_j").as("jaccard"))
  }

  // ---- DuckDB twin ----
  // The oracle pins SEMANTICS, not the plan: it verifies every
  // co-occurring pair (DuckDB at fixture scale), so a lossy prefix
  // filter on the Spark side would surface as a hash mismatch.

  def keepSql(table: String): String = {
    val universe = maxDocFreq match {
      case Some(cap) =>
        // filtered universe: sizes AND intersections over surviving
        // shingles (identical to the Spark-side stop-shingle removal)
        s"""fex AS (SELECT id, g FROM ex
           |  WHERE g NOT IN (SELECT g FROM (SELECT g, count(*) AS f FROM ex GROUP BY g) hot WHERE f > $cap)),
           |sz AS (SELECT id, count(*) AS n FROM fex GROUP BY id),
           |p AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
           |  FROM fex a JOIN fex b ON a.g = b.g AND a.id < b.id
           |  GROUP BY 1, 2)""".stripMargin
      case None =>
        s"""sz AS (SELECT id, len(s) AS n FROM sh),
           |p AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
           |  FROM ex a JOIN ex b ON a.g = b.g AND a.id < b.id
           |  GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH sh AS (SELECT $idCol AS id,
       |    list_distinct(list_transform(${TextFunctions.shinglesSql("t", shingleWidth)},
       |      x -> ${HashFunctions.portableHash64Sql("x")})) AS s
       |  FROM (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS t FROM $table)),
       |ex AS (SELECT id, unnest(s) AS g FROM sh),
       |$universe,
       |ver AS (SELECT d1, d2 FROM p
       |  JOIN sz sa ON sa.id = d1 JOIN sz sb ON sb.id = d2
       |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold)
       |SELECT $idCol FROM $table WHERE $idCol NOT IN (SELECT d2 FROM ver)
       |ORDER BY $idCol""".stripMargin
  }
}
