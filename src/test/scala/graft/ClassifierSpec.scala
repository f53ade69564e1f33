package graft

import graft.ml.ClassifierWeights
import graft.operators.ml.{QualityClassifier, QualityClassifierFilter, QualityClassifierRefiner}
import org.apache.spark.sql.functions._

class ClassifierSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val D = 1 << 10
  private val w = ClassifierWeights.deterministic(D)

  private def scoresOf(texts: Seq[String], bigrams: Boolean = true): Seq[Double] = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    new QualityClassifierRefiner("text", "clf_score", D, 0.0, bigrams, w)(df)
      .orderBy("id").select("clf_score").as[Double].collect().toSeq
  }

  test("deterministic weights match their SQL closed form and span [-1, 1)") {
    val arr = w.values
    assert(arr.length == D)
    assert(arr.forall(v => v >= -1.0 && v < 1.0))
    // slot 0 → ((0*40503)%1999)/999 − 1 = −1; slot 1 → (40503%1999)/999 − 1
    assert(arr(0) == -1.0)
    assert(arr(1) == (40503L % 1999L).toDouble / 999.0 - 1.0)
  }

  test("score is sigmoid-bounded; empty and null text score exactly sigmoid(bias)") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, ""), (3L, null: String))
      .toDF("id", "text")
    val out = new QualityClassifierRefiner("text", "clf_score", D, 0.7, true, w)(df)
      .orderBy("id").select("clf_score").as[Double].collect()
    assert(out.forall(v => v > 0.0 && v < 1.0))
    val s0 = 1.0 / (1.0 + math.exp(-0.7))
    assert(out(1) == s0 && out(2) == s0)
  }

  test("bigrams change the feature bag (scores differ from unigram-only)") {
    val texts = Seq("the quick brown fox jumps over the lazy dog")
    assert(scoresOf(texts, bigrams = true) != scoresOf(texts, bigrams = false))
  }

  test("single-token text: bigram and unigram modes agree (no bigram exists)") {
    val texts = Seq("hello")
    assert(scoresOf(texts, bigrams = true) == scoresOf(texts, bigrams = false))
  }

  test("score matches a from-scratch Scala reimplementation on fixture docs") {
    val docs = table("documents").select("doc_id", "text").orderBy("doc_id").limit(50)
    val got = new QualityClassifierRefiner("text", "clf_score", D, 0.0, true, w)(docs)
      .orderBy("doc_id").select("doc_id", "clf_score").as[(Long, Double)].collect()
    val tokOf: String => Seq[String] = t =>
      docs.sparkSession.range(1).select(
        graft.functions.TextFunctions.tokensOf(lit(t)).as("t"))
        .as[Seq[String]].head()
    val texts = docs.as[(Long, String)].collect().toMap
    got.foreach { case (id, score) =>
      val toks = tokOf(texts(id))
      val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      val mean =
        if (feats.isEmpty) 0.0
        else feats.map { f =>
          val h = graft.plans.kernels.portableHashJvm(
            org.apache.spark.unsafe.types.UTF8String.fromString(f))
          w.values((((h % D) + D) % D).toInt)
        }.sum / feats.size
      val want = 1.0 / (1.0 + math.exp(-mean))
      assert(math.abs(score - want) < 1e-9, s"doc $id: $score vs $want")
    }
  }

  test("filter keeps exactly the rows whose score clears the threshold") {
    val df = table("documents").select("doc_id", "text")
    val scored = new QualityClassifierRefiner("text", "s", D, 0.0, true, w)(df)
    val want = scored.filter(col("s") >= 0.55).select("doc_id")
      .as[Long].collect().toSet
    val got = new QualityClassifierFilter("text", 0.55, D, 0.0, true, w)(df)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty && got.size < df.count())
  }

  test("filter disposition: rejected rows carry the filter rejection reason") {
    val df = table("documents").select("doc_id", "text")
    val f = new QualityClassifierFilter("text", 0.55, D, 0.0, true, w)
    val kept = f(df).count()
    val rej = f.rejected(df)
    assert(kept + rej.count() == df.count())
    assert(rej.select(graft.core.Rejection.ColName).distinct().count() == 1)
  }

  test("weight file roundtrip: little-endian float32 load matches in-memory table") {
    val vals = Array.tabulate(64)(i => (i - 32) / 7.5f)
    val path = java.nio.file.Files.createTempFile("clfw", ".bin")
    val bb = java.nio.ByteBuffer.allocate(vals.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putFloat)
    java.nio.file.Files.write(path, bb.array())
    val loaded = ClassifierWeights.fromFile(path.toString)
    assert(loaded.values.toSeq == vals.map(_.toDouble).toSeq)
    java.nio.file.Files.delete(path)
  }

  test("registry builds both operators from YAML-style params") {
    val reg = graft.runner.OperatorRegistry
    val op = reg.create("quality_classifier",
      graft.runner.Params(Map("buckets" -> 256)))
    val fl = reg.create("quality_classifier_filter",
      graft.runner.Params(Map("threshold" -> 0.6)))
    val df = table("documents").select("doc_id", "text").limit(10)
    assert(op(df).columns.contains("clf_score"))
    assert(fl(df).count() <= 10)
  }
}
