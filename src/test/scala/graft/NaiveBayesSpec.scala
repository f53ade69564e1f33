package graft

import graft.operators.ml.NaiveBayes
import org.apache.spark.sql.functions._

class NaiveBayesSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def op(buckets: Int = 4096) = new NaiveBayes(
    "text", "doc_id", col("label"), "label", buckets = buckets, alpha = 1.0)

  test("hand-computed two-doc model and score") {
    val df = Seq((1L, "aa aa bb", true), (2L, "bb cc", false))
      .toDF("doc_id", "text", "label")
    val o = op()
    val m = o.modelCounts(df).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // pos doc: aa×2, bb×1; neg doc: bb×1, cc×1 — three distinct buckets
    assert(m.sortBy(-_._1) == Seq((2L, 0L), (1L, 1L), (0L, 1L)))
    // score of doc 1: prior ln(2/2)=0 + 2·term(aa) + term(bb)
    val B = 4096.0
    def t(cp: Long, cn: Long) =
      (math.log(cp + 1.0) - math.log(3.0 + B)) - (math.log(cn + 1.0) - math.log(2.0 + B))
    val want1 = BigDecimal(0.0 + 2 * t(2, 0) + t(1, 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = o.scored(df).orderBy("doc_id").select("score").as[Double].collect()
    assert(math.abs(got(0) - want1) < 2e-6, s"${got(0)} vs $want1")
  }

  test("class-specific vocab separates perfectly; AUC = 1") {
    val docs = (0 until 200).map { i =>
      val pos = i % 2 == 0
      val word = if (pos) s"alpha${i % 5}" else s"beta${i % 5}"
      (i.toLong, s"$word $word common", pos)
    }.toDF("doc_id", "text", "label")
    val o = op()
    val sc = o.scored(docs).collect()
    assert(sc.forall(r => (r.getDouble(1) > 0) == (r.getDouble(2) == 1.0)),
      "log-odds sign must track the class")
    assert(o.auc(docs).head().getDouble(0) == 1.0)
  }

  test("model and scores are partition-invariant (exact-count fit)") {
    val docs = table("documents").withColumn("label", col("lang") === "en")
    val o = op()
    val m1 = o.modelCounts(docs.repartition(1)).collect().toSeq
    val m2 = o.modelCounts(docs.repartition(13)).collect().toSeq
    assert(m1 == m2)
    val s1 = o.score(docs.repartition(1)).collect().toSeq
    val s2 = o.score(docs.repartition(13)).collect().toSeq
    assert(s1 == s2)
  }

  test("tokenless docs score exactly the prior log-odds; single-class corpus stays finite") {
    val df = Seq((1L, "x y", true), (2L, "", false), (3L, null: String, false))
      .toDF("doc_id", "text", "label")
    val got = op().scored(df).orderBy("doc_id").collect()
    val prior = BigDecimal(math.log(2.0) - math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1).getDouble(1) == prior && got(2).getDouble(1) == prior)
    // one class only: add-one prior keeps everything finite
    val onePos = Seq((1L, "x", true), (2L, "y", true)).toDF("doc_id", "text", "label")
    val s = op().scored(onePos).select("score").as[Double].collect()
    assert(s.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("registry refiner: config==API scores; disposition fit sees alive rows only") {
    val docs = table("documents")
    val built = graft.runner.OperatorRegistry.create("nb_quality",
      graft.runner.Params(Map("text_field" -> "text", "id_field" -> "doc_id",
        "label_field" -> "lang", "label_value" -> "en")))
      .asInstanceOf[graft.operators.ml.NbQualityRefiner]
    val viaOp = built(docs).select("doc_id", "nb_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val direct = new graft.operators.ml.NaiveBayes(
        "text", "doc_id", col("lang") === "en", "lang = 'en'")
      .scored(docs).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaOp == direct)
    // disposition: the gated fit must equal a sequential fit on the
    // alive subset (scores compared on the alive rows)
    val alive = col("doc_id") % 3 =!= 0
    val gated = built.applyGated(docs, alive)
      .filter(alive).select("doc_id", "nb_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val seq = built(docs.filter(alive)).select("doc_id", "nb_score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gated == seq)
    // negative control: the all-rows fit differs on this fixture
    assert(gated != viaOp.filter { case (k, _) => k % 3 != 0 })
  }

  test("duplicate ids: one score row per id (merged doc, pos label wins) — no join fan-out") {
    val df = Seq((1L, "aa bb", true), (1L, "cc dd", false), (2L, "aa", false))
      .toDF("doc_id", "text", "label")
    val sc = op().scored(df).collect()
    assert(sc.length == 2, sc.mkString(","))
    assert(sc.find(_.getLong(0) == 1L).get.getDouble(2) == 1.0,
      "conflicting labels merge by max (positive wins)")
    // the refiner preserves the input row count through its join-back
    val r = new graft.operators.ml.NbQualityRefiner(
      "text", "doc_id", "label")
    assert(r(df).count() == 3)
    // and the twin stays legal SQL for quoted label values
    val q = new graft.operators.ml.NbQualityRefiner(
      "text", "doc_id", "lang", labelValue = Some("o'brien"))
    assert(q.trainer.aucSql("documents").contains("lang = 'o''brien'"))
  }

  test("bucket collisions degrade gracefully (tiny bucket count still scores every doc)") {
    val docs = table("documents").withColumn("label", col("lang") === "en")
    val o = op(buckets = 8)
    val n = docs.count()
    val sc = o.scored(docs)
    assert(sc.count() == n)
    assert(o.modelCounts(docs).count() <= 8)
  }
}
