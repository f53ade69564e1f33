package graft

import graft.operators.ml.KMeansBuckets
import org.apache.spark.sql.functions._

/** Trained-model path of KMeansBuckets (the oracle gate covers the
  * fixed-centroid path): the Spark ML model's assignment must agree with
  * our kernel's argmin over the model's own centroids — two independent
  * implementations of the assignment step.
  */
class KMeansSpec extends ScopedSuite {
  import TestSpark._

  test("trained k-means assignment matches kernel argmin over model centroids") {
    val emb = table("embeddings")
    val km = new KMeansBuckets(vecCol = "embedding", outputCol = "cluster_id",
      k = 4, seed = 7L, maxIter = 10)
    val model = km.fit(emb)
    val assigned = km.transform(emb, model)
    val viaKernel = km.assignFixed(col("embedding"), km.centroidsOf(model))
    val disagree = assigned
      .withColumn("_k", viaKernel)
      .filter(col("cluster_id") =!= col("_k")).count()
    assert(disagree == 0)
    val n = emb.count()
    assert(assigned.count() == n)
    val range = assigned.select(col("cluster_id")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(range.subsetOf((0 until 4).toSet) && range.size > 1)
  }

  test("cluster bucketing keeps every row exactly once (refiner, not a filter)") {
    val emb = table("embeddings")
    val km = new KMeansBuckets(vecCol = "embedding", k = 4, seed = 7L, maxIter = 5)
    val out = km.transform(emb, km.fit(emb))
    assert(out.count() == emb.count())
    assert(out.columns.contains("cluster_id"))
  }

  test("cluster top terms: distinctive terms beat shared ones, exact scaled scores") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (0L, "apple apple banana"),
      (1L, "carrot banana")).toDF("cluster_id", "text")
    val out = new graft.operators.ml.ClusterTopTerms("text", "cluster_id")(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(4))).toMap
    // total=5 tokens over k=2 clusters -> A_avg=2.5
    // apple: 2*ln(1+2.5/2)   banana: 1*ln(1+2.5/2)   carrot: 1*ln(1+2.5/1)
    assert(out((0L, 1)) == (("apple", math.floor(2 * math.log(2.25) * 1e6).toLong)))
    assert(out((0L, 2))._1 == "banana")
    assert(out((1L, 1)) == (("carrot", math.floor(math.log(3.5) * 1e6).toLong)))
    assert(out((1L, 2))._1 == "banana")
  }
}
