package graft

import graft.operators.ml.{LogisticRegression, LogregFeature}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The trained-classifier loop: full-batch GD logistic regression with
  * the 1e-6 model-quantization discipline. The oracle gates pin
  * cross-engine exactness on the fixture; this spec pins LEARNING —
  * descent, signs, accuracy — on constructed separable data, plus the
  * determinism claims the quantization exists for.
  */
class LogisticRegressionSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def xyFeatures = Seq(
    LogregFeature("fx", col("fx"), "fx"),
    LogregFeature("fy", col("fy"), "fy"))

  /** Separable cloud: label = (fx > 0), margin 0.5 around the boundary. */
  private def separable(n: Int): DataFrame =
    (0 until n).map { i =>
      val pos = i % 2 == 0
      val fx = (if (pos) 1.0 else -1.0) * (0.25 + (i % 7) * 0.25)
      val fy = ((i * 31) % 11 - 5) / 5.0 // noise dim, label-independent
      (i.toLong, fx, fy, pos)
    }.toDF("doc_id", "fx", "fy", "label")

  private def op(lr: Double = 1.0, iters: Int = 8,
      sampleMod: Option[Int] = None) =
    new LogisticRegression(xyFeatures, col("label"), "label",
      lr = lr, iters = iters, fitSampleMod = sampleMod)

  private def logLoss(df: DataFrame, o: LogisticRegression, w: Array[Double]): Double = {
    val sc = o.scoredWith(df, w)
    // clamp away the rounded 0/1 endpoints before the log
    val p = least(greatest(col("score"), lit(1e-9)), lit(1.0 - 1e-9))
    sc.agg(avg(when(col("y") === 1.0, -log(p)).otherwise(-log(lit(1.0) - p))))
      .head().getDouble(0)
  }

  test("separable data: loss descends monotonically and the model separates") {
    val df = separable(400)
    val o = op(lr = 2.0, iters = 16)
    val traj = o.fit(df)
    val losses = (Array.fill(3)(0.0) +: traj).map(w => logLoss(df, o, w))
    losses.sliding(2).foreach { case Seq(a, b) => assert(b < a + 1e-12, losses.mkString(",")) }
    val w = traj.last
    assert(w(1) > 1.0, s"fx weight should be strongly positive: ${w.mkString(",")}")
    assert(math.abs(w(2)) < 0.2, s"noise-dim weight should stay small: ${w.mkString(",")}")
    // every row correctly classified at the 0.5 cut
    val acc = o.scoredWith(df, w)
      .agg(avg(when((col("score") > 0.5) === (col("y") === 1.0), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc == 1.0)
  }

  test("trajectory is bit-identical across partitionings (the 1e-6 quantization claim)") {
    val df = separable(300)
    val o = op(lr = 1.0, iters = 8)
    val a = o.fit(df.repartition(1))
    val b = o.fit(df.repartition(17))
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("sampled fit equals a full fit on the manually filtered frame") {
    val df = separable(300)
    val hashed = graft.functions.HashFunctions.portableHash64(col("doc_id"))
    val manual = op(lr = 1.0, iters = 6).fit(df.filter(hashed % 4 === 0L))
    val sampled = op(lr = 1.0, iters = 6, sampleMod = Some(4)).fit(df)
    assert(manual.map(_.toSeq) == sampled.map(_.toSeq))
    // and the sample is a proper subset (the mod actually binds)
    assert(df.filter(hashed % 4 === 0L).count() < df.count())
  }

  test("empty fit input: weights stay at init through every iteration") {
    val df = separable(10).filter(col("doc_id") < 0)
    val traj = op(iters = 4).fit(df)
    assert(traj.forall(_.forall(_ == 0.0)))
  }

  test("zero-variance feature keeps exactly zero weight") {
    val feats = Seq(
      LogregFeature("fx", col("fx"), "fx"),
      LogregFeature("dead", lit(0.0), "0.0"))
    val df = separable(100)
    val o = new LogisticRegression(feats, col("label"), "label", iters = 6)
    assert(o.fit(df).forall(w => w(2) == 0.0))
  }

  test("null labels count as negative (CASE ELSE), matching the twin") {
    val df = separable(100)
      .withColumn("label", when(col("doc_id") % 10 === 0, lit(null)).otherwise(col("label")))
    val asFalse = separable(100)
      .withColumn("label", when(col("doc_id") % 10 === 0, lit(false)).otherwise(col("label")))
    val o = op(iters = 4)
    assert(o.fit(df).map(_.toSeq) == o.fit(asFalse).map(_.toSeq))
  }

  test("train frame carries the trajectory; margin sample sits at the boundary") {
    val df = separable(200)
    val o = op(lr = 2.0, iters = 8)
    val t = o.train(df).collect()
    assert(t.length == 8 && t.map(_.getLong(0)).toSeq == (1L to 8L))
    val m = o.marginSample(df, 10).collect()
    assert(m.length == 10)
    val margins = m.map(_.getDouble(1))
    assert(margins.sameElements(margins.sorted))
    // the selected margins are the global minimum set
    val all = o.score(df).select(abs(col("score") - 0.5)).as[Double].collect().sorted
    assert(margins.last <= all(10) + 1e-9)
  }

  test("pos_weight pulls the boundary toward the minority positives") {
    // 10% positives, cleanly separable: the unweighted model underfits
    // the minority at few iterations; pos_weight=9 balances the classes
    val df = (0 until 300).map { i =>
      val pos = i % 10 == 0
      val fx = (if (pos) 1.0 else -1.0) * (0.3 + (i % 5) * 0.2)
      (i.toLong, fx, 0.0, pos)
    }.toDF("doc_id", "fx", "fy", "label")
    def recallAt(pw: Double): Double = {
      val o = new LogisticRegression(xyFeatures, col("label"), "label",
        lr = 1.0, iters = 6, posWeight = pw)
      val sc = o.scoredWith(df, o.fit(df).last)
      val tp = sc.filter(col("y") === 1.0 && col("score") > 0.5).count().toDouble
      tp / sc.filter(col("y") === 1.0).count()
    }
    val (r1, r9) = (recallAt(1.0), recallAt(9.0))
    assert(r9 > r1, s"recall pw=9 ($r9) must beat pw=1 ($r1)")
    assert(r9 == 1.0, s"balanced weighting must recover the minority: $r9")
  }

  test("l2 shrinks feature weights; the bias stays unregularized") {
    val df = separable(300)
    def wOf(l2: Double) = new LogisticRegression(xyFeatures, col("label"), "label",
      lr = 2.0, iters = 16, l2 = l2).fit(df).last
    val (w0, wReg) = (wOf(0.0), wOf(0.5))
    assert(math.abs(wReg(1)) < math.abs(w0(1)),
      s"l2 must shrink the fx weight: ${wReg(1)} vs ${w0(1)}")
    // strong-but-stable regularization (lr·l2 = 1, decay factor 0:
    // each iteration resets w_j to lr·g/n — GD needs lr·l2 < 2, same
    // as any ridge step): feature weights pinned near zero while the
    // UNregularized bias still drifts toward the base rate
    val wBig = new LogisticRegression(xyFeatures, col("label"), "label",
      lr = 0.1, iters = 16, l2 = 10.0).fit(df).last
    assert(math.abs(wBig(1)) < 0.05 && math.abs(wBig(2)) < 0.05, wBig.mkString(","))
    assert(wBig(0) != 0.0, "bias must stay free under feature-weight decay")
  }

  test("default knobs reproduce the unweighted trajectory bit-for-bit") {
    val df = separable(200)
    val a = op(lr = 1.0, iters = 6).fit(df)
    val b = new LogisticRegression(xyFeatures, col("label"), "label",
      lr = 1.0, iters = 6, posWeight = 1.0, l2 = 0.0).fit(df)
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("holdout eval: scores only the held-out slice with a complement-fitted model") {
    val df = separable(400)
    val o = op(lr = 2.0, iters = 12)
    val h = graft.functions.HashFunctions.portableHash64(col("doc_id"))
    val scored = o.holdoutScored(df, 4)
    val heldIds = df.filter(h % 4 === 0L).select("doc_id").as[Long].collect().toSet
    assert(scored.select("doc_id").as[Long].collect().toSet == heldIds)
    // the complement-fitted weights are exactly a manual fit on != 0
    val manual = o.scoredWith(df.filter(h % 4 === 0L),
      o.fit(df.filter(h % 4 =!= 0L)).last)
    assert(scored.orderBy("doc_id").collect().toSeq ==
      manual.orderBy("doc_id").collect().toSeq)
    // separable data generalizes: held-out AUC is 1
    val auc = o.holdoutAuc(df, 4).head()
    assert(auc.getDouble(0) == 1.0, s"held-out AUC: $auc")
  }

  test("disposition mark fits on alive rows only — kept set matches the sequential chain") {
    val docs = table("documents")
    val alive = col("doc_id") % 3 =!= 0
    def filter() = new graft.operators.ml.LogregQualityFilter(
      textCol = "text", idCol = "doc_id", labelCol = "lang",
      labelValue = Some("en"), threshold = 0.384)
    // sequential: upstream already dropped the dead rows before the fit
    val seq = filter()(docs.filter(alive))
      .select("doc_id").as[Long].collect().toSet
    // disposition: same frame, dead rows ride along under the alive flag
    val m = filter().mark(docs, alive, "t")
    val disp = m.df.filter(alive && m.stillAlive)
      .select("doc_id").as[Long].collect().toSet
    assert(seq == disp, s"sequential (${seq.size}) vs disposition (${disp.size})")
    // negative control: an all-rows fit is a genuinely different model
    // on this fixture (so the equality above is not vacuous)
    val t = filter().refiner.trainer
    assert(t.fit(docs).last.toSeq != t.fit(docs.filter(alive)).last.toSeq,
      "the dead third must move the model for this pin to bite")
  }

  test("trained weights score a stream like the batch under scoreExprWith") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = table("documents")
    val f = new graft.operators.ml.LogregQualityFilter(
      textCol = "text", idCol = "doc_id", labelCol = "lang",
      labelValue = Some("en"), threshold = 0.384)
    val w = f.refiner.trainer.fit(docs).last
    // stream scoring under the trained weights == batch scoring
    val mem = MemoryStream[(Long, String)]
    val scoredStream = mem.toDF().toDF("doc_id", "text")
      .withColumn("score",
        graft.operators.ml.LogregQuality.scoreExprWith("text", w))
    val q = scoredStream.writeStream.format("memory")
      .queryName("lgq_stream").outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(200).toSeq); q.processAllAvailable()
      mem.addData(rows.drop(200).toSeq); q.processAllAvailable()
      val got = spark.table("lgq_stream")
        .select("doc_id", "score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // the batch path: the refiner's trainer scores the same raw frame
      val wantMap = f.refiner.trainer.scoredWith(docs, w)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.size == rows.length && got == wantMap)
    } finally q.stop()
  }

  test("fit runs one aggregate job per iteration over a persisted featurized frame") {
    val df = separable(200)
    val o = op(iters = 3)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    o.fit(df)
    // one aggregate QUERY per iteration; AQE materializes each as <=3
    // jobs (shuffle stage + final stage + persist on the first). The
    // bound catches a per-iteration re-featurize/re-fit explosion, not
    // AQE's bookkeeping.
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after - before <= 9, s"expected <=9 jobs for 3 iterations, got ${after - before}")
  }
}
