package graft.operators.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distance-based embedding outlier detection — the "drop mislabeled /
  * noise vectors before training" curation step: each vector's squared-L2
  * distance to its NEAREST fixed centroid is compared against its own
  * cluster's mean distance; rows beyond `ratio ×` the cluster mean are
  * flagged. (SemDeDup-adjacent: where semantic dedup removes the
  * too-SIMILAR, this removes the too-FAR — decode failures, wrong-modality
  * rows, embedding-model regressions all land in the far tail.)
  *
  * Exactness discipline: the per-row distance is one fixed left-to-right
  * double fold (the [[graft.plans.kernels.NearestCentroidDist]] kernel,
  * bit-equal to the DuckDB list_reduce twin); the CLUSTER statistics use
  * `floor(dist·scale)` BIGINTs so the mean is an exact integer sum, and
  * the outlier rule itself is pure integer arithmetic
  * (`scaled·n·ratioDen > ratioNum·Σscaled`, i.e. dist² beyond
  * ratioNum/ratioDen × the cluster mean — rational so sub-2× tails are
  * expressible; in high dimension distances concentrate and the far
  * tail sits ~1.2× the mean) — no floating-point reduction
  * anywhere, so the flagged set is partition-invariant and
  * engine-portable.
  *
  * Overflow headroom (the [[graft.operators.stats.WelchTTest]]
  * discipline): the rule's largest product is `scaled·n·ratioDen` —
  * with the default `scale` 10⁶, unit-norm-ish embeddings (dist² ≤
  * ~10²) and ratioDen ≤ 10 it stays under 2⁶³ to ~10⁹ rows per
  * cluster; bigger clusters drop a scale digit.
  *
  * Scale shape: per-row map (centroids ride the closure) + one
  * partial-aggregated groupBy on cluster id (two longs per cluster per
  * partition on the wire) + one broadcast-sized join back. No windows,
  * no pair joins.
  */
final class EmbeddingOutliers(
    vecCol: String = "embedding",
    idCol: String = "vec_id",
    centroids: Seq[Seq[Double]],
    ratioNum: Long = 11L,
    ratioDen: Long = 10L,
    scale: Double = 1e6) {

  val name = "embedding_outliers"

  /** `(idCol, cluster_id, dist2, is_outlier)` for every row. */
  def apply(df: DataFrame): DataFrame = {
    val assigned = df.select(col(idCol).as("_id"),
      graft.plans.kernels.nearest_centroid(col(vecCol), centroids)
        .cast("long").as("cluster_id"),
      floor(graft.plans.kernels.nearest_centroid_dist(col(vecCol), centroids) * lit(scale))
        .cast("long").as("_ds"))
    val stats = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("_n"), sum(col("_ds")).as("_sum"))
    assigned.join(stats, Seq("cluster_id"))
      .select(col("_id").as(idCol), col("cluster_id"),
        round(col("_ds").cast("double") / lit(scale), 6).as("dist2"),
        (col("_ds") * col("_n") * lit(ratioDen) > lit(ratioNum) * col("_sum"))
          .cast("long").as("is_outlier"))
  }

  // ---- DuckDB twin ----

  private def l2sqSql(a: String, b: String): String =
    graft.functions.VectorFunctions.l2sqSql(a, b)

  /** Full twin. Centroids are derived IN SQL as the first `k` rows by
    * `idCol` (0-based index order — exactly [[graft.operators.ml
    * .KMeansBuckets.firstKCentroids]], which gate callers pass to the
    * Spark side), then the same floor-scaled integer statistics and the
    * same integer outlier rule.
    */
  def sql(table: String): String = {
    val k = centroids.size
    s"""WITH _cent AS (SELECT CAST(row_number() OVER (ORDER BY $idCol) - 1 AS BIGINT) AS _cid,
       |    $vecCol AS _ce
       |  FROM (SELECT $idCol, $vecCol FROM $table ORDER BY $idCol LIMIT $k)),
       |_dists AS (SELECT t.$idCol AS id, c._cid,
       |    ${l2sqSql(s"t.$vecCol", "c._ce")} AS _d,
       |    row_number() OVER (PARTITION BY t.$idCol
       |      ORDER BY ${l2sqSql(s"t.$vecCol", "c._ce")}, c._cid) AS _rn
       |  FROM $table t CROSS JOIN _cent c),
       |_a AS (SELECT id, CAST(_cid AS BIGINT) AS cluster_id,
       |    CAST(floor(_d * $scale) AS BIGINT) AS ds FROM _dists WHERE _rn = 1),
       |_st AS (SELECT cluster_id, count(*) AS n, CAST(sum(ds) AS BIGINT) AS s
       |  FROM _a GROUP BY cluster_id)
       |SELECT a.id AS $idCol, a.cluster_id,
       |  round(CAST(a.ds AS DOUBLE) / $scale, 6) AS dist2,
       |  CAST(a.ds * st.n * $ratioDen > $ratioNum * st.s AS BIGINT) AS is_outlier
       |FROM _a a JOIN _st st ON st.cluster_id = a.cluster_id
       |ORDER BY $idCol""".stripMargin
  }
}

/** YAML-registrable filter: DROPS the flagged outliers. Centroids are
  * derived from the corpus itself (first `k` rows by `idCol`, the
  * deterministic seeded-sample init of [[graft.operators.ml
  * .KMeansBuckets.firstKCentroids]]); under disposition both the
  * centroids and the cluster statistics come from alive rows only.
  */
final class EmbeddingOutlierFilter(
    vecCol: String = "embedding",
    idCol: String = "vec_id",
    k: Int = 8,
    ratioNum: Long = 11L,
    ratioDen: Long = 10L,
    scale: Double = 1e6) extends graft.core.RejectingOperator {

  val name = "embedding_outlier_filter"

  private def outlierIds(corpus: DataFrame): DataFrame = {
    val cents = new graft.operators.ml.KMeansBuckets(vecCol, "_eo_cid", k)
      .firstKCentroids(corpus, idCol)
    if (cents.isEmpty) corpus.select(col(idCol)).limit(0)
    else new EmbeddingOutliers(vecCol, idCol, cents, ratioNum, ratioDen, scale)(corpus)
      .filter(col("is_outlier") === 1L).select(col(idCol))
  }

  def apply(df: DataFrame): DataFrame =
    df.join(outlierIds(df), Seq(idCol), "left_anti")

  def mark(df: DataFrame, alive: Column, tag: String): graft.core.Marked = {
    val flagCol = s"_eo_bad$tag"
    val bad = outlierIds(df.filter(alive)).withColumn(flagCol, lit(true))
    val joined = df.join(bad, Seq(idCol), "left_outer")
    graft.core.Marked(joined, col(flagCol).isNull,
      graft.core.Rejection.filtered(name), Seq(flagCol))
  }
}
