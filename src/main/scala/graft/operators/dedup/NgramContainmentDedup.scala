package graft.operators.dedup

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram CONTAINMENT dedup — the asymmetric companion of
  * [[NgramJaccardDedup]] (Broder's containment coefficient,
  * "On the resemblance and containment of documents", 1997): a later
  * document B is dropped when `|A∩B| / |B| ≥ threshold` for some
  * earlier document A — i.e. B is mostly a SUBSET of A (a quote, an
  * excerpt, a doc-in-doc wrap). Jaccard misses exactly this case: a
  * short excerpt of a long page has tiny Jaccard (the union is huge)
  * but containment ≈ 1.
  *
  * Scale shape: stop-shingle removal at `maxDocFreq` is REQUIRED (the
  * knob that bounds posting-list length, hence the candidate join —
  * same invariant the registry enforces for the Jaccard tier), then
  * candidates come from B-side PREFIX postings against A-side full
  * postings: B's suffix beyond its first `n − ceil(t·n) + 1` tokens
  * (global hash order) holds `ceil(t·n) − 1 < |A∩B|` tokens, so every
  * qualifying pair shares a token in B's prefix — lossless, with the
  * same 1e-9 float guard as the Jaccard prefix (error can only
  * lengthen a prefix). Verification is one exact
  * `size(array_intersect)` over the two hash sets. Only 60-bit hashes
  * ride any exchange.
  */
final class NgramContainmentDedup(
    textCol: String = "text",
    val idCol: String = "id",
    shingleWidth: Int = 3,
    threshold: Double = 0.8,
    maxDocFreq: Int = 5) extends graft.core.PairwiseDedup {

  require(threshold > 0.0 && threshold <= 1.0,
    s"threshold $threshold must be in (0, 1] (prefix filtering needs t > 0)")
  require(maxDocFreq >= 1, s"maxDocFreq $maxDocFreq must be >= 1 — " +
    "the unbounded posting join has no 100 TB story")

  val name = "ngram_containment_dedup"

  private def shingled(df: DataFrame): DataFrame =
    df.select(col(idCol).as("_id"),
      array_sort(graft.plans.kernels.shingle_hashes(col(textCol), shingleWidth)).as("_hs"))

  /** Verified pairs `(d1, d2, containment)`: d1 < d2, `|∩| / |set(d2)|
    * ≥ threshold` over the stop-shingle-filtered universe.
    */
  def verifiedPairs(df: DataFrame): DataFrame = {
    // Staging `post` and `sets` was TRIED r19 (the FuzzyJoin gram-table
    // shape: post's 2 consumers prune differently, sets feeds 4) and
    // REVERTED on measurement: isolated A/Bs read −16 %…+6 % (noise-
    // dominated), but in FULL-SUITE context — the configuration the
    // driver times — the gate read consistently +16 % vs the unstaged
    // baseline (the eager MEMORY_AND_DISK materialization of a 5 M-row
    // posting frame + collect_list arrays competes with neighboring
    // legs' storage; the committed array-cache lesson again).
    val post = shingled(df).select(col("_id"), explode(col("_hs")).as("_g"))
    val hot = post.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFreq).select(col("_g"))
    val sets = post.join(broadcast(hot), Seq("_g"), "left_anti")
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(col("_g"))).as("_hs"))
      .withColumn("_n", size(col("_hs")))
      .where(col("_n") > 0)
    val withPrefix = sets.withColumn("_p",
      (col("_n") - ceil(col("_n") * lit(threshold) - lit(1e-9)) + 1).cast("int"))
    // B (the candidate subset, larger id) indexes only its prefix;
    // A (the candidate container) indexes everything
    val bPrefix = withPrefix.select(col("_id").as("d2"),
      explode(slice(col("_hs"), lit(1), col("_p"))).as("_g"))
    val aFull = sets.select(col("_id").as("d1"), explode(col("_hs")).as("_g"))
    val cand = aFull.join(bPrefix, Seq("_g"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    cand
      .join(sets.select(col("_id").as("d1"), col("_hs").as("_h1")), Seq("d1"))
      .join(sets.select(col("_id").as("d2"), col("_hs").as("_h2"), col("_n").as("_n2")), Seq("d2"))
      .withColumn("_c",
        size(array_intersect(col("_h1"), col("_h2"))).cast("double") / col("_n2"))
      .filter(col("_c") >= threshold)
      .select(col("d1"), col("d2"), col("_c").as("containment"))
  }

  // ---- DuckDB twin (pins semantics: verifies EVERY co-occurring pair) ----
  def keepSql(table: String): String =
    s"""WITH sh AS (SELECT $idCol AS id,
       |    list_distinct(list_transform(${TextFunctions.shinglesSql("t", shingleWidth)},
       |      x -> ${HashFunctions.portableHash64Sql("x")})) AS s
       |  FROM (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS t FROM $table)),
       |ex AS (SELECT id, unnest(s) AS g FROM sh),
       |fex AS (SELECT id, g FROM ex
       |  WHERE g NOT IN (SELECT g FROM (SELECT g, count(*) AS f FROM ex GROUP BY g) hot
       |                  WHERE f > $maxDocFreq)),
       |sz AS (SELECT id, count(*) AS n FROM fex GROUP BY id),
       |p AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
       |  FROM fex a JOIN fex b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2),
       |ver AS (SELECT d1, d2 FROM p JOIN sz sb ON sb.id = d2
       |  WHERE CAST(i AS DOUBLE) / CAST(sb.n AS DOUBLE) >= $threshold)
       |SELECT $idCol FROM $table WHERE $idCol NOT IN (SELECT d2 FROM ver)
       |ORDER BY $idCol""".stripMargin
}
