package graft

import graft.core.Skew
import org.apache.spark.sql.functions._

/** Salted-join semantics: identical result to the plain join, with the
  * hot key spread across salt values.
  */
class SkewSpec extends ScopedSuite {
  import TestSpark._

  test("salted join equals plain join on a skewed dataset") {
    // 10k rows of one hot key + a tail
    val skewed = spark.range(11000).toDF("i")
      .withColumn("k", when(col("i") < 10000, lit(1L)).otherwise(col("i") % 50))
    val dim = spark.range(50).toDF("k").withColumn("v", col("k") * 10)
    val plain = skewed.join(dim, Seq("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val salted = Skew.saltedJoin(skewed, dim, "k", salts = 8).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("the hot key actually spreads across salts") {
    val skewed = spark.range(8000).toDF("i").withColumn("k", lit(1L))
    val salted = skewed.withColumn("_s",
      pmod(xxhash64(col("k"), monotonically_increasing_id()), lit(8L)))
    val buckets = salted.groupBy(col("_s")).count().collect().map(_.getLong(1))
    assert(buckets.length == 8, s"only ${buckets.length} salt buckets used")
    assert(buckets.max < 8000, "hot key not spread")
  }

  test("ngram_lm hot token: shuffles carry post-combine rows, not token instances") {
    // 400 docs, each 'hot' × 60 + one unique token → 24,400 token
    // instances but only 800 distinct (doc, term) pairs. The r8 window
    // form shuffled per-instance and buffered the hot hash's whole
    // window partition; the groupBy+join form must keep every shuffle at
    // the post-map-side-combine row count.
    val docs = spark.range(400).toDF("id")
      .withColumn("text", concat(
        lit(Seq.fill(60)("hot").mkString(" ")), lit(" uniq"), col("id").cast("string")))
    val op = new graft.operators.text.NgramLmScoreRefiner("text", "id")
    val out = op(docs)
    // stage-level shuffle-write records via listener (AQE wraps exchanges
    // in leaf query stages, so plan traversal can't reach their metrics)
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        recs.add((sc.stageInfo.name,
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      out.write.format("noop").mode("overwrite").save()
      // listener bus is async; wait for the stage events to drain
      val deadline = System.nanoTime() + 10e9.toLong
      var seen = -1
      while (recs.size() != seen && System.nanoTime() < deadline) {
        seen = recs.size(); Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val mine = recs.asScala.filter(_._1.contains("SkewSpec")).toSeq
    assert(mine.nonEmpty, s"no stages captured: ${recs.asScala.toSeq}")
    mine.foreach { case (name, written) =>
      assert(written <= 2000,
        s"stage '$name' shuffled $written rows — instance-level, not post-combine")
    }
    // and the scores themselves are sane: every doc same shape → same score
    val scores = out.select("lm_logprob_avg").distinct().count()
    assert(scores <= 2, s"expected ~uniform scores, got $scores distinct")
  }
}
