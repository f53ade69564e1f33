package graft

import graft.operators.ml.NearestCentroidClassifier
import org.apache.spark.sql.functions._

class NearestCentroidSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  /** 4 tight clusters in 8 dims, labeled by cluster: class c sits at
    * 10·e_c with ±0.3 jitter — trivially separable.
    */
  private def clustered(n: Int) = (0 until n).map { i =>
    val c = i % 4
    val vec = (0 until 8).map { d =>
      val base = if (d == c) 10.0f else 0.0f
      base + (((i * 31 + d * 7) % 7) - 3) * 0.1f
    }
    (i.toLong, vec, c)
  }.toDF("vec_id", "embedding", "label")

  private def op(mod: Int = 4) = new NearestCentroidClassifier(
    "embedding", "vec_id", "label", dims = 8, holdoutMod = mod)

  test("separable clusters: held-out accuracy 1.0, confusion diagonal") {
    val df = clustered(400)
    val acc = op().accuracy(df).head()
    assert(acc.getLong(0) > 0)
    assert(acc.getDouble(2) == 1.0, s"accuracy: $acc")
    val conf = op().confusion(df).collect()
    assert(conf.forall(r => r.getLong(0) == r.getLong(1)),
      s"off-diagonal cells on separable data: ${conf.mkString(",")}")
  }

  test("prototypes are partition-invariant (exact scaled-integer fit)") {
    val df = clustered(200)
    val a = op().fitCentroids(df.repartition(1))
    val b = op().fitCentroids(df.repartition(17))
    assert(a == b)
  }

  test("prediction ties break to the lowest label (two identical prototypes)") {
    // classes 0 and 1 are the SAME cloud → identical rounded prototypes;
    // every held-out row of either class must predict 0
    val df = (0 until 200).map { i =>
      val c = i % 2
      val vec = (0 until 8).map(d => if (d == 0) 5.0f else 0.0f)
      (i.toLong, vec, c)
    }.toDF("vec_id", "embedding", "label")
    val preds = op().predictions(df).select("pred_label").as[Long].collect()
    assert(preds.nonEmpty && preds.forall(_ == 0L))
  }

  test("eval covers exactly the held-out slice; train and eval are disjoint") {
    val df = clustered(300)
    val h = graft.functions.HashFunctions.portableHash64(col("vec_id"))
    val heldIds = df.filter(h % 4 === 0L).select("vec_id").as[Long].collect().toSet
    val got = op().predictions(df).select("vec_id").as[Long].collect().toSet
    assert(got == heldIds)
  }

  test("centroid_label refiner: seeds propagate over the space; alive-only disposition fit") {
    // a third of rows keep their label (seeds, mod-3 mask — coprime to
    // the mod-4 class so every class gets seeds); the refiner must
    // label ALL rows correctly on separable clusters
    val df = clustered(400).withColumn("label",
      when(col("vec_id") % 3 === 0, col("label")))
    val built = graft.runner.OperatorRegistry.create("centroid_label",
      graft.runner.Params(Map("embedding_field" -> "embedding",
        "id_field" -> "vec_id", "label_field" -> "label", "dims" -> 8)))
      .asInstanceOf[graft.operators.ml.CentroidLabelRefiner]
    val out = built(df).collect()
    assert(out.length == 400)
    // true class = vec_id % 4 by construction
    assert(out.forall(r => r.getAs[Long]("pred_label") ==
      r.getAs[Long]("vec_id") % 4))
    assert(built.fitCount.get() == 1)
    // disposition: the gated fit sees alive seeds only — equal to a
    // sequential fit on the alive subset
    val alive = col("vec_id") % 5 =!= 0
    val f2 = new graft.operators.ml.CentroidLabelRefiner(
      "embedding", "vec_id", "label", "pred_label", dims = 8)
    val gated = f2.applyGated(df, alive).filter(alive)
      .select("vec_id", "pred_label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val f3 = new graft.operators.ml.CentroidLabelRefiner(
      "embedding", "vec_id", "label", "pred_label", dims = 8)
    val seq = f3(df.filter(alive)).select("vec_id", "pred_label").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gated == seq)
  }

  test("null labels never fit a prototype (no NPE; predictions cover null-labeled rows)") {
    val df = clustered(200).withColumn("label",
      when(col("vec_id") % 3 === 0, col("label")))
    // fit sees only the labeled two-thirds; held-out eval still covers
    // every held-out row (null labels surface as null in the output)
    val preds = op().predictions(df)
    val h = graft.functions.HashFunctions.portableHash64(col("vec_id"))
    assert(preds.count() == df.filter(h % 4 === 0L).count())
    val cents = op().fitCentroids(df)
    assert(cents.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("mode mix-up guard: applyGated after apply refits on the alive frame") {
    val df = clustered(300).withColumn("label",
      when(col("vec_id") % 3 === 0, col("label")))
    val r = new graft.operators.ml.CentroidLabelRefiner(
      "embedding", "vec_id", "label", "pred_label", dims = 8)
    r(df).count()
    assert(r.fitCount.get() == 1)
    r.applyGated(df, col("vec_id") % 5 =!= 0).count()
    // the gated call must NOT reuse the all-rows fit
    assert(r.fitCount.get() == 2)
  }

  test("empty train split fails loudly with the operator's name") {
    val df = clustered(40).filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException] { op().predictions(df).collect() }
    assert(e.getMessage.contains("ncc"))
  }
}
