package graft.operators.ml

import graft.functions.VectorFunctions
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-means cluster bucketing over an embedding column — the bucket
  * producer for cluster-bucketed semantic dedup (the reference designed
  * this but never shipped the operator: framework/backend.py:89-93
  * "cluster-id as bucket id"; its 547-line map/reduce Lloyd's trainer at
  * models/kmeans/distributed_trainer.py:453-515 collapses to one
  * `org.apache.spark.ml.clustering.KMeans` fit, SURVEY.md §2.5 A5).
  *
  * Two assignment paths:
  *  - [[fit]]/[[transform]]: trained model (Spark ML, distributed Lloyd's
  *    with k-means|| init). The production path; asserted self-consistent
  *    in KMeansSpec.
  *  - [[assignFixed]]: argmin squared-L2 against caller-supplied fixed
  *    centroids as a single broadcast-style kernel expression — no k-way
  *    row blowup, no shuffle. This is also the inference step for a
  *    previously-trained model ([[centroidsOf]]), and the
  *    engine-portable form the DuckDB oracle reproduces ([[assignCteSql]]).
  *
  * Scale shape: assignment is a pure per-row map (centroids ride the
  * closure, ~k×dim doubles); downstream dedup shuffles on `cluster_id`,
  * which is exactly the reference's bucketed-dedup-state design.
  */
final class KMeansBuckets(
    vecCol: String = "embedding",
    outputCol: String = "cluster_id",
    k: Int = 8,
    seed: Long = 42L,
    maxIter: Int = 20) {

  val name = "kmeans_buckets"

  /** Train a Spark ML k-means model on the embedding column. */
  def fit(df: DataFrame): KMeansModel =
    new KMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_kmeans_features").setPredictionCol(outputCol)
      .fit(df.select(array_to_vector(col(vecCol)).as("_kmeans_features")))

  /** Assign `outputCol` from a trained model. */
  def transform(df: DataFrame, model: KMeansModel): DataFrame =
    model.transform(df.withColumn("_kmeans_features", array_to_vector(col(vecCol))))
      .drop("_kmeans_features")

  /** Centroids of a trained model, ordered by cluster id. */
  def centroidsOf(model: KMeansModel): Seq[Seq[Double]] =
    model.clusterCenters.toSeq.map(_.toArray.toSeq)

  /** Argmin squared-L2 assignment against fixed centroids (ties → lowest
    * index), as one kernel expression.
    */
  def assignFixed(vec: Column, centroids: Seq[Seq[Double]]): Column =
    graft.plans.kernels.nearest_centroid(vec, centroids)

  /** Deterministic data-derived centroids for oracle-checked queries: the
    * embeddings of the first `k` rows by `idCol` (seeded-sample init,
    * like the reference's distributed_trainer.py:335-390, but exactly
    * reproducible in SQL).
    */
  def firstKCentroids(df: DataFrame, idCol: String): Seq[Seq[Double]] =
    df.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq

  /** ONE distributed Lloyd's update step over an already-assigned frame —
    * the map/reduce recompute at the heart of the reference's 547-line
    * distributed trainer (distributed_trainer.py:199-240: per-cluster
    * sum/count partials, driver merge): per cluster, member count and the
    * mean of the first `outDims` embedding components. Components are
    * floor-scaled to integers (`floor(x·scale)`) BEFORE summing so the
    * per-cluster sums are exact BIGINTs — order- and partition-invariant,
    * hence reproducible by any engine; the mean is one fixed-shape double
    * division at the end. Scale shape: one partial-aggregated shuffle of
    * k×outDims longs — the exact wire format of the reference's partials.
    */
  def updateCentroids(df: DataFrame, clusterCol: String, outDims: Int,
      scale: Double = 1e7): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val aggs = (1 to outDims).map(i =>
      sum(floor(element_at(v, i) * lit(scale)).cast("long")).as(s"_s$i"))
    val grouped = df.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n"), aggs: _*)
    grouped.select(col(clusterCol) +: col("n") +: (1 to outDims).map(i =>
      round(col(s"_s$i").cast("double") / (col("n").cast("double") * lit(scale)), 6)
        .as(s"c$i")): _*)
  }

  // ---- DuckDB twin ----

  /** Squared-L2 distance with the kernel's exact left-to-right double fold. */
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a) + 1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))), " +
      s"(acc, x) -> acc + x)"

  /** CTEs assigning each row of `table` to its nearest first-K centroid:
    * exposes `_assigned(id, $outputCol)`. Compose with `WITH`.
    */
  def assignCteSql(table: String, idCol: String): String =
    s"""_cent AS (SELECT $idCol AS _cid, $vecCol AS _ce FROM $table
       |  ORDER BY $idCol LIMIT $k),
       |_dists AS (SELECT t.$idCol AS id, c._cid,
       |    row_number() OVER (PARTITION BY t.$idCol
       |      ORDER BY ${l2sqSql(s"t.$vecCol", "c._ce")}, c._cid) AS _rn
       |  FROM $table t CROSS JOIN _cent c),
       |_assigned AS (SELECT id, CAST(_cid AS BIGINT) AS $outputCol
       |  FROM _dists WHERE _rn = 1)""".stripMargin

  /** Twin of [[updateCentroids]] over `_assigned`-joined rows; compose
    * after [[assignCteSql]] in the same WITH.
    */
  def updateSql(table: String, idCol: String, outDims: Int,
      scale: Double = 1e7): String = {
    val comps = (1 to outDims).map { i =>
      s"""round(CAST(CAST(sum(CAST(floor(CAST($vecCol[$i] AS DOUBLE) * $scale) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * $scale), 6) AS c$i""".stripMargin
    }.mkString(",\n  ")
    s"""SELECT a.$outputCol, count(*) AS n,
       |  $comps
       |FROM $table t JOIN _assigned a ON a.id = t.$idCol
       |GROUP BY a.$outputCol ORDER BY a.$outputCol""".stripMargin
  }
}
