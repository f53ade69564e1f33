package graft

import graft.operators.ml.KMeansBuckets
import graft.operators.stats.LinearFit
import graft.operators.text.{MixPlan, NgramNovelty}
import graft.operators.vector.EmbeddingOutliers
import org.apache.spark.sql.functions._

/** Unit semantics for the round-11 statistics/model operators (the
  * DuckDB gates pin engine parity; these pin the MATH on crafted
  * inputs where the right answer is known by construction).
  */
class ModelStatsSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  test("novelty: an exact copy of an earlier doc scores 0, the original 1") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val out = new NgramNovelty("text", "doc_id", 3)(df)
      .orderBy("doc_id").collect()
    assert(out.map(_.getDouble(3)).toSeq == Seq(1.0, 0.0, 1.0))
  }

  test("novelty: a doc half-built from an earlier doc's text scores in (0,1)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta brand new words entirely here")).toDF("doc_id", "text")
    val nov = new NgramNovelty("text", "doc_id", 3)(df)
      .filter($"doc_id" === 2).head().getDouble(3)
    assert(nov > 0.0 && nov < 1.0)
  }

  test("linear fit recovers exact integer-coefficient planes") {
    // y = 7 + 3*x1 + 5*x2 exactly — Cramer must return the plane
    val rows = for (x1 <- 1 to 20; x2 <- 1 to 7)
      yield (7L + 3L * x1 + 5L * x2, x1.toLong, x2.toLong)
    val df = rows.toDF("y", "x1", "x2")
    val r = new LinearFit("y", "x1", "x2").fit(df).head()
    assert(r.getLong(0) == rows.size)
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) == ((7.0, 3.0, 5.0)))
  }

  test("linear fit is partition-invariant (exact integer moments)") {
    val df = table("documents").select(
      col("n_chars").cast("long").as("y"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("x1"),
      size(array_distinct(graft.functions.TextFunctions.tokensOf(col("text"))))
        .cast("long").as("x2"))
    val op = new LinearFit("y", "x1", "x2")
    val a = op.fit(df.repartition(1)).head()
    val b = op.fit(df.repartition(17, col("y"))).head()
    assert(a == b)
  }

  test("grouped fit recovers a different exact plane per group") {
    val rows =
      (for (x1 <- 1 to 15; x2 <- 1 to 5)
        yield ("a", 7L + 3L * x1 + 5L * x2, x1.toLong, x2.toLong)) ++
      (for (x1 <- 1 to 15; x2 <- 1 to 5)
        yield ("b", 100L - 2L * x1 + 9L * x2, x1.toLong, x2.toLong))
    val df = rows.toDF("g", "y", "x1", "x2")
    val out = new LinearFit("y", "x1", "x2").fitBy(df, "g").collect()
    assert(out.length == 2)
    assert((out(0).getDouble(2), out(0).getDouble(3), out(0).getDouble(4)) == ((7.0, 3.0, 5.0)))
    assert((out(1).getDouble(2), out(1).getDouble(3), out(1).getDouble(4)) == ((100.0, -2.0, 9.0)))
  }

  test("calibration: crafted scores land in the right buckets with exact stats") {
    import graft.operators.ml.Calibration
    val df = Seq(
      (0.05, 0L), (0.08, 1L),           // bucket 0: 2 rows, 1 pos
      (0.55, 1L), (0.58, 1L), (0.51, 0L), // bucket 5: 3 rows, 2 pos
      (1.0, 1L))                         // right edge -> bucket 10
      .toDF("score", "lab")
    val out = Calibration.table(df, col("score"), col("lab")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 5L, 10L))
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 1L), (3L, 2L), (1L, 1L)))
    val b5 = out(1)
    assert(b5.getDouble(3) == math.round(2.0 / 3.0 * 1e6) / 1e6)
    val expMean = BigDecimal(
        (math.floor(0.55 * 1e6) + math.floor(0.58 * 1e6) + math.floor(0.51 * 1e6)) / (3.0 * 1e6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(b5.getDouble(4) == expMean)
  }

  test("welch t-test matches the hand-computed statistic on a known sample") {
    // a = [1,2,3]: mean 2, var 1; b = [2,4,6,8]: mean 5, var 20/3
    // se² = 1/3 + 5/3 = 2 → t = -3/√2; df = 4/(1/18 + 25/27) = 216/53
    val df = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 4.0, 6.0, 8.0).map(("b", _)))
      .toDF("grp", "v")
    val r = new graft.operators.stats.WelchTTest("v", "grp", "a", "b")(df).head()
    assert((r.getLong(0), r.getLong(1)) == ((3L, 4L)))
    assert((r.getDouble(2), r.getDouble(3)) == ((2.0, 5.0)))
    assert(r.getDouble(4) == BigDecimal(-3.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(5) == BigDecimal(216.0 / 53.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("welch t-test is partition-invariant (exact scaled moments)") {
    val ev = graft.core.Tables.events(spark, sfDir)
    val op = new graft.operators.stats.WelchTTest("value", "event_type", "click", "purchase")
    assert(op(ev.repartition(1)).head() == op(ev.repartition(11, col("user_id"))).head())
  }

  test("dp export: noise perturbs, tiny groups suppressed, deterministic across partitionings") {
    import graft.operators.stats.DpExport
    val df = ((1 to 40).map(i => (s"row$i", "big")) ++ Seq(("x", "tiny"), ("y", "tiny")))
      .toDF("id", "grp")
    val op = new DpExport("grp", epsilon = 1.0, minGroupSize = 10L, noise = DpExport.HashNoise(42L))
    val out = op(df).collect()
    // tiny (n=2) suppressed entirely; big present with a perturbed count
    assert(out.map(_.getString(0)).toSeq == Seq("big"))
    val noisy = out.head.getDouble(1)
    assert(noisy != 40.0 && math.abs(noisy - 40.0) < 15.0,
      s"Laplace(1) noise should perturb but stay plausible: $noisy")
    // deterministic: same seed, any partitioning
    assert(op(df.repartition(7, col("id"))).collect().head.getDouble(1) == noisy)
    // tighter epsilon → more noise for the same group/seed
    val loose = new DpExport("grp", epsilon = 0.1, minGroupSize = 10L, noise = DpExport.HashNoise(42L))(df)
      .collect().head.getDouble(1)
    assert(math.abs(loose - 40.0) > math.abs(noisy - 40.0))
  }

  test("dp export: RandomNoise production path shares the mechanism, draws independently") {
    import graft.operators.stats.DpExport
    val df = ((1 to 40).map(i => (s"row$i", "big")) ++ Seq(("x", "tiny"), ("y", "tiny")))
      .toDF("id", "grp")
    val op = new DpExport("grp", epsilon = 1.0, minGroupSize = 10L,
      noise = DpExport.RandomNoise)
    val out = op(df).collect()
    // suppression and floor are the shared mechanism, not the noise source
    assert(out.map(_.getString(0)).toSeq == Seq("big"))
    val a = out.head.getDouble(1)
    assert(a >= 0.0 && math.abs(a - 40.0) < 30.0,
      s"Laplace(1) draw implausibly far from n: $a") // P(|noise|>30) = e^-30
    // SecureRandom: repeated evaluations are fresh draws (the hash path
    // would return the identical value every time)
    val more = Seq(op(df).collect().head.getDouble(1),
      op(df).collect().head.getDouble(1))
    assert((a +: more).distinct.size > 1, s"three SecureRandom draws all equal: $a")
    // and there is deliberately no SQL twin for the nondeterministic path
    intercept[IllegalStateException](op.sql("documents"))
  }

  test("dp noisy sums: clipping bounds a whale's influence, noise scales with clip/eps") {
    import graft.operators.stats.DpExport
    // 39 docs of ~10 tokens + one 10k-token whale: clipped at 20, the
    // whale moves the published total by AT MOST the clip
    def doc(words: Int) = (1 to words).map(i => s"w$i").mkString(" ")
    val normal = (1 to 39).map(i => (s"d$i", doc(10), "g"))
    val whale = Seq(("whale", doc(10000), "g"))
    val op = new DpExport("grp", epsilon = 1.0, minGroupSize = 10L, noise = DpExport.HashNoise(42L))
    val metric = graft.functions.TextFunctions.tokenCount(col("text"))
    val withWhale = op.noisySums((normal ++ whale).toDF("id", "text", "grp"),
      metric, clip = 20L).head().getDouble(1)
    val without = op.noisySums(normal.toDF("id", "text", "grp"),
      metric, clip = 20L).head().getDouble(1)
    assert(withWhale - without == 20.0) // exactly the clip, not 10k
    // same seed/group: larger clip → proportionally larger noise draw
    val df = (normal ++ whale).toDF("id", "text", "grp")
    val trueSum = 39.0 * 10 + 20 // clipped total
    val n20 = op.noisySums(df, metric, 20L).head().getDouble(1) - trueSum
    val n200 = op.noisySums(df, metric, 200L).head().getDouble(1) - (39.0 * 10 + 200)
    assert(math.abs(n200) > math.abs(n20))
  }

  test("linear fit: singular system (constant feature) yields null betas, not an ANSI divide error") {
    // x1 constant → collinear with the intercept → det = 0
    val df = (1 to 20).map(i => (i.toLong, 5L, i.toLong)).toDF("y", "x1", "x2")
    val fitter = new LinearFit("y", "x1", "x2")
    val r = fitter.fit(df).head()
    assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    // corr: pairs touching the zero-variance column are null; the live pair isn't
    val c = fitter.corr(df).head()
    assert(c.isNullAt(1) && c.isNullAt(2)) // r_f1_f2, r_f1_y
    assert(c.getDouble(3) == 1.0)          // r_f2_y: x2 == y exactly
    // grouped path: a 2-row group is underdetermined for 3 parameters
    val g = (1 to 2).map(i => (i.toLong, i.toLong, (2 * i).toLong, "tiny"))
      .toDF("y", "x1", "x2", "src")
    val gr = fitter.fitBy(g, "src").head()
    assert(gr.isNullAt(2) && gr.isNullAt(3) && gr.isNullAt(4))
  }

  test("correlation: a feature correlates with itself at exactly 1") {
    val df = (1 to 50).map(i => (i.toLong, i.toLong, (51 - i).toLong))
      .toDF("y", "x1", "x2")
    val r = new LinearFit("y", "x1", "x2").corr(df).head()
    assert(r.getDouble(2) == 1.0)  // r_f1_y: x1 == y
    assert(r.getDouble(1) == -1.0) // r_f1_f2: exact negative linear
  }

  test("kmeans update: counts cover every row once; a centroid-only cluster keeps its centroid") {
    val k = new KMeansBuckets("embedding", "cluster_id", k = 2)
    // two tight groups around (0,0) and (10,10); centroids = first of each
    val df = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.25f, 0.0f)), (2L, Seq(0.0f, 0.25f)),
      (3L, Seq(10.0f, 10.0f)), (4L, Seq(10.25f, 10.0f))).toDF("vec_id", "embedding")
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val assigned = df.withColumn("cluster_id", k.assignFixed(col("embedding"), cents))
    val out = k.updateCentroids(assigned, "cluster_id", outDims = 2)
      .orderBy("cluster_id").collect()
    assert(out.map(_.getLong(1)).sum == 5)
    // cluster 0 mean of dim1: (0 + 0.25 + 0) / 3
    assert(math.abs(out(0).getDouble(2) - 0.25 / 3) < 1e-6)
    assert(math.abs(out(1).getDouble(2) - 10.125) < 1e-6)
  }

  test("mix plan: rates cap at 1, epochs are the uncapped ratio, shares follow weights") {
    val docs = Seq(
      (1L, "a b c d e f g h i j", "big"),      // 10 tokens
      (2L, "a b c d e f g h i j", "big"),      // big: 20 tokens
      (3L, "a b", "small"))                    // small: 2 tokens
      .toDF("doc_id", "text", "source")
    val op = new MixPlan("source", budget = 20L, rawWeights = Map("big" -> 3L))
    val out = op(docs, graft.functions.TextFunctions.tokenCount(col("text")))
      .orderBy("source").collect()
    val big = out(0); val small = out(1)
    assert(big.getString(0) == "big" && small.getString(0) == "small")
    // weights 3:1 → big target 15 of 20 avail (rate .75), small target 5 of 2 (rate 1, epochs 2.5)
    assert(big.getDouble(3) == 15.0 && small.getDouble(3) == 5.0)
    assert(big.getDouble(4) == 0.75 && small.getDouble(4) == 1.0)
    assert(small.getDouble(5) == 2.5)
  }

  test("mix plan: a source whose docs all tokenize empty gets null rate/epochs, not an ANSI error") {
    val docs = Seq(
      (1L, "a b c d", "rich"),
      (2L, "", "empty"), (3L, "   ", "empty"))
      .toDF("doc_id", "text", "source")
    val op = new MixPlan("source", budget = 10L, rawWeights = Map.empty)
    val out = op(docs, graft.functions.TextFunctions.tokenCount(col("text")))
      .orderBy("source").collect()
    val empty = out(0); val rich = out(1)
    assert(empty.getString(0) == "empty" && empty.getLong(1) == 0L)
    assert(empty.isNullAt(4) && empty.isNullAt(5)) // undefined, suppressed
    assert(rich.getString(0) == "rich" && !rich.isNullAt(4) && !rich.isNullAt(5))
    // zero/negative weights would zero the share denominator — rejected early
    intercept[IllegalArgumentException](
      new MixPlan("source", budget = 10L, rawWeights = Map.empty, defaultWeight = 0L))
    intercept[IllegalArgumentException](
      new MixPlan("source", budget = 10L, rawWeights = Map("x" -> 0L)))
  }

  test("embedding outliers: a far-away vector is flagged, tight cluster members are not") {
    val df = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.1f, 0.0f)), (2L, Seq(0.0f, 0.1f)),
      (3L, Seq(0.1f, 0.1f)), (4L, Seq(9.0f, 9.0f))).toDF("vec_id", "embedding")
    val op = new EmbeddingOutliers("embedding", "vec_id",
      centroids = Seq(Seq(0.0, 0.0)), ratioNum = 2L, ratioDen = 1L)
    val out = op(df).orderBy("vec_id").collect()
    assert(out.map(r => r.getLong(3)).toSeq == Seq(0L, 0L, 0L, 0L, 1L))
  }

  test("embedding outliers: flag set is partition-invariant") {
    val emb = table("embeddings")
    val cents = new KMeansBuckets("embedding", "cluster_id", k = 8)
      .firstKCentroids(emb, "vec_id")
    val op = new EmbeddingOutliers("embedding", "vec_id", centroids = cents)
    val a = op(emb.repartition(1)).orderBy("vec_id").collect().toSeq
    val b = op(emb.repartition(13, col("vec_id"))).orderBy("vec_id").collect().toSeq
    assert(a == b)
  }
}
