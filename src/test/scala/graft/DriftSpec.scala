package graft

import graft.operators.ml.ClusterSilhouette
import graft.operators.stats.{DistributionDrift, RaterAgreement}
import graft.operators.text.JsDivergence
import org.apache.spark.sql.functions._

class DriftSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ---- PSI ----

  private def psiOp = new DistributionDrift(
    "m", "grp", baseVal = "base", curVal = "cur", buckets = 5, width = 10L)

  test("psi: identical distributions score exactly zero") {
    val rows = (0 until 100).flatMap(i =>
      Seq((i.toLong % 50, "base"), (i.toLong % 50, "cur")))
    val out = psiOp.psi(rows.toDF("m", "grp")).head()
    assert(out.getLong(0) == 100 && out.getLong(1) == 100)
    assert(out.getDouble(2) == 0.0) // equal counts ⇒ p = q per bucket exactly
  }

  test("psi: a shifted distribution crosses the 0.25 'act' line") {
    val base = (0 until 100).map(i => (i.toLong % 20, "base"))  // bucket 0-1
    val cur = (0 until 100).map(i => (30L + i % 20, "cur"))     // bucket 3-4
    val out = psiOp.psi((base ++ cur).toDF("m", "grp")).head()
    assert(out.getDouble(2) > 0.25, s"expected drift, got ${out.getDouble(2)}")
  }

  test("psi: bucket table is spine-complete and an empty slice doesn't throw") {
    val base = (0 until 40).map(i => (i.toLong, "base")) // buckets 0..3 only
    val t = psiOp.bucketTable(base.toDF("m", "grp")).collect()
    assert(t.map(_.getLong(0)).toSeq == (0L until 5L)) // all 5 buckets present
    assert(t.forall(_.getLong(2) == 0L)) // cur slice empty everywhere
    // smoothing keeps shares positive so the log stays finite under ANSI
    assert(t.forall(r => r.getDouble(3) > 0 && r.getDouble(4) > 0))
  }

  test("psi: out-of-range metrics clamp into the edge buckets") {
    val rows = Seq((-5L, "base"), (9999L, "base"), (1L, "cur"))
    val t = psiOp.bucketTable(rows.toDF("m", "grp")).collect()
    assert(t.head.getLong(1) == 1L && t.last.getLong(1) == 1L)
  }

  test("psi/ks: NULL and NaN metrics are excluded from the population, not dropped silently or thrown") {
    val dblOp = new DistributionDrift("m", "grp", "base", "cur", buckets = 5, width = 10L)
    val rows = Seq((Some(5.0), "base"), (None, "base"), (Some(Double.NaN), "base"),
      (Some(15.0), "cur"), (None, "cur"))
    val out = dblOp.psi(rows.toDF("m", "grp")).head()
    assert(out.getLong(0) == 1 && out.getLong(1) == 1) // only the real values count
    val ksRows = Seq((Some(1.0), "base"), (None, "base"), (Some(1.0), "cur"),
      (Some(Double.NaN), "cur"))
    val ks = new graft.operators.stats.KsStatistic("m", "grp", "base", "cur")(
      ksRows.toDF("m", "grp")).head()
    assert(ks.getLong(0) == 1 && ks.getLong(1) == 1 && ks.getDouble(2) == 0.0)
  }

  // ---- JSD ----

  private def jsdOp = new JsDivergence("text", "grp", "a", "b")

  test("jsd: identical slices diverge by exactly zero bits") {
    val rows = (0 until 20).flatMap(i =>
      Seq((s"alpha beta gamma tok$i", "a"), (s"alpha beta gamma tok$i", "b")))
    val out = jsdOp(rows.toDF("text", "grp")).head()
    assert(out.getLong(1) == out.getLong(2) && out.getDouble(3) == 0.0)
  }

  test("jsd: disjoint vocabularies approach the 1-bit bound") {
    val rows = (0 until 50).flatMap(i =>
      Seq(("apple orange pear", "a"), ("stone iron copper", "b")))
    val out = jsdOp(rows.toDF("text", "grp")).head()
    assert(out.getLong(0) == 6)
    assert(out.getDouble(3) > 0.9 && out.getDouble(3) <= 1.0)
  }

  test("jsd: all-empty text yields a null divergence, not an error") {
    val out = jsdOp(Seq(("", "a"), ("", "b")).toDF("text", "grp")).head()
    assert(out.getLong(0) == 0 && out.isNullAt(3))
  }

  test("jsd matrix: every cell is bit-identical to the two-slice operator on that pair") {
    import graft.operators.text.JsDivergenceMatrix
    val rows =
      (0 until 30).map(i => (s"alpha beta tok$i shared words here", "a")) ++
      (0 until 20).map(i => (s"stone iron tok$i copper shared", "b")) ++
      (0 until 10).map(i => ("entirely different register text", "c")) ++
      Seq(("", "c"), (null.asInstanceOf[String], "a"),
        ("ignored slice", "z")) // z is outside the matrix's source list
    val df = rows.toDF("text", "grp")
    val out = new JsDivergenceMatrix("text", "grp", Seq("a", "b", "c"))(df)
      .collect()
    assert(out.length == 3)
    for (r <- out) {
      val two = new JsDivergence("text", "grp", r.getString(0), r.getString(1))(df).head()
      assert((r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((two.getLong(0), two.getLong(1), two.getLong(2))), s"pair $r vs $two")
      assert(r.getDouble(5) == two.getDouble(3), s"jsd of pair $r vs $two")
    }
  }

  test("jsd matrix: a pair with no tokens on either side is zeroed, not an error") {
    import graft.operators.text.JsDivergenceMatrix
    val df = Seq(("", "a"), ("", "b"), ("real text here", "c"))
      .toDF("text", "grp")
    val byPair = new JsDivergenceMatrix("text", "grp", Seq("a", "b", "c"))(df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = byPair(("a", "b"))
    assert(ab.getLong(2) == 0 && ab.getLong(3) == 0 && ab.getLong(4) == 0
      && ab.isNullAt(5))
    val ac = byPair(("a", "c"))
    assert(ac.getLong(2) == 3 && ac.getLong(3) == 0 && ac.getLong(4) == 3)
  }

  test("heaps fit: minting corpora bend high, fixed-vocab corpora bend to zero") {
    import graft.operators.stats.HeapsFit
    val op = new HeapsFit("text", "doc_id", levels = 8)
    // every doc mints 20 brand-new types -> V grows ~linearly in n
    val minting = (0L until 512L).map(d =>
      (d, (0 until 20).map(j => s"w${d}_$j").mkString(" "))).toDF("doc_id", "text")
    val hi = op(minting).head()
    assert(hi.getLong(0) >= 5, hi.toString)
    assert(hi.getDouble(1) > 0.9 && hi.getDouble(1) <= 1.05, hi.toString)
    // fixed 10-word vocabulary -> vocabulary saturates, beta ~ 0
    val fixed = (0L until 512L).map(d =>
      (d, (0 until 10).map(j => s"tok$j").mkString(" "))).toDF("doc_id", "text")
    val lo = op(fixed).head()
    assert(lo.getDouble(1) >= -0.05 && lo.getDouble(1) < 0.1, lo.toString)
    // degenerate: a single doc collapses every subset it belongs to
    // into the SAME (n, V) point — the exact-integer varies guard must
    // null the fit even when points_used >= 3 (a float sxxN>0 test
    // passes through summation noise); doc_id 4's portable hash is
    // whatever it is, so sweep ids to hit a multi-level document
    for (id <- 0L until 16L) {
      val row = op(Seq((id, "a b c")).toDF("doc_id", "text")).head()
      assert(row.isNullAt(1) && row.isNullAt(2) && row.isNullAt(3),
        s"identical points must never fit (id=$id): $row")
    }
    // constant VOCABULARY but varying token counts: x varies, y does
    // not -> beta fits (0), r2 must be null (syy degenerate)
    val constV = (0L until 64L).map(d => (d, "tok tok tok")).toDF("doc_id", "text")
    val cv = op(constV).head()
    assert(!cv.isNullAt(1) && cv.getDouble(1) == 0.0, cv.toString)
    assert(cv.isNullAt(3), cv.toString)
  }

  // ---- Cohen's kappa ----

  private def rater(aCol: String, bCol: String) =
    new RaterAgreement(col(aCol), col(bCol))

  test("kappa: perfect agreement is exactly 1, perfect disagreement -1") {
    val same = (0 until 40).map(i => (i % 2 == 0, i % 2 == 0))
    assert(rater("a", "b")(same.toDF("a", "b")).head().getDouble(7) == 1.0)
    val opp = (0 until 40).map(i => (i % 2 == 0, i % 2 != 0))
    assert(rater("a", "b")(opp.toDF("a", "b")).head().getDouble(7) == -1.0)
  }

  test("kappa: one constant rater scores exactly 0 (no signal beyond chance)") {
    val df = (0 until 30).map(i => (true, i % 3 == 0)).toDF("a", "b")
    val out = rater("a", "b")(df).head()
    assert(out.getDouble(7) == 0.0)
  }

  test("kappa: both raters constant → chance agreement is total, kappa null (no ANSI error)") {
    val df = Seq.fill(25)((true, true)).toDF("a", "b")
    val out = rater("a", "b")(df).head()
    assert(out.isNullAt(7))
    assert(out.getDouble(5) == 1.0 && out.getDouble(6) == 1.0)
  }

  test("kappa: hand-computed 2x2 table") {
    // n=100: n11=40, n10=10, n01=15, n00=35 → po=.75
    // S = (40+10)(40+15) + (35+10)(35+15) = 2750+2250 = 5000
    // κ = (100·75 − 5000) / (10000 − 5000) = 0.5
    val rows = Seq.fill(40)((true, true)) ++ Seq.fill(10)((true, false)) ++
      Seq.fill(15)((false, true)) ++ Seq.fill(35)((false, false))
    val out = rater("a", "b")(rows.toDF("a", "b")).head()
    assert(out.getLong(1) == 40 && out.getLong(2) == 10 &&
      out.getLong(3) == 15 && out.getLong(4) == 35)
    assert(out.getDouble(5) == 0.75 && out.getDouble(6) == 0.5)
    assert(out.getDouble(7) == 0.5)
  }

  // ---- KS statistic ----

  private def ksOp = new graft.operators.stats.KsStatistic("m", "grp", "base", "cur")

  test("ks: identical samples score 0, disjoint supports score 1") {
    val same = (0 until 60).flatMap(i => Seq((i.toLong % 20, "base"), (i.toLong % 20, "cur")))
    assert(ksOp(same.toDF("m", "grp")).head().getDouble(2) == 0.0)
    val disjoint = (0 until 30).map(i => (i.toLong, "base")) ++
      (0 until 30).map(i => (100L + i, "cur"))
    assert(ksOp(disjoint.toDF("m", "grp")).head().getDouble(2) == 1.0)
  }

  test("ks: hand-computed gap; empty slice yields null") {
    // base: {1,1,2,3}; cur: {2,3,3,4} → CDFs at v=1: .5 vs 0 (gap .5)
    val rows = Seq((1L, "base"), (1L, "base"), (2L, "base"), (3L, "base"),
      (2L, "cur"), (3L, "cur"), (3L, "cur"), (4L, "cur"))
    val out = ksOp(rows.toDF("m", "grp")).head()
    assert(out.getLong(0) == 4 && out.getLong(1) == 4)
    assert(out.getDouble(2) == 0.5)
    val onlyBase = ksOp(Seq((1L, "base")).toDF("m", "grp")).head()
    assert(onlyBase.getLong(1) == 0 && onlyBase.isNullAt(2))
  }

  // ---- token fertility ----

  test("fertility: known chars/words/subwords; zero-word source guarded") {
    val op = new graft.operators.text.TokenFertility("text", "src")
    val df = Seq(("alpha beta", "s1"), ("", "s2")).toDF("text", "src")
    val out = op(df).collect()
    val s1 = out(0)
    assert(s1.getLong(2) == 10 && s1.getLong(3) == 2) // chars, words
    assert(s1.getLong(4) >= s1.getLong(3)) // subwords never fewer than words
    assert(!s1.isNullAt(5) && !s1.isNullAt(6))
    val s2 = out(1)
    assert(s2.getLong(2) == 0 && s2.isNullAt(5) && s2.isNullAt(6))
  }

  // ---- n-gram diversity ----

  test("ngram diversity: known tiny corpus") {
    val op = new graft.operators.text.NgramDiversity("text", maxN = 2)
    // tokens: a b a b | a b → 1-grams: 6 total {a,b}=2 distinct
    // 2-grams: "a b","b a","a b" + "a b" → 4 total, 2 distinct
    val df = Seq("a b a b", "a b").toDF("text")
    val out = op(df).collect()
    assert(out(0).getLong(1) == 6 && out(0).getLong(2) == 2)
    assert(out(1).getLong(1) == 4 && out(1).getLong(2) == 2)
    assert(out(1).getDouble(3) == 0.5)
  }

  test("ngram diversity: empty corpus yields zero totals and null ratios") {
    val op = new graft.operators.text.NgramDiversity("text", maxN = 3)
    val out = op(Seq("", "").toDF("text")).collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getLong(1) == 0L && r.isNullAt(3)))
  }

  // ---- Zipf fit ----

  test("zipf: an exact power law fits with slope -1 and r2 near 1") {
    val op = new graft.operators.stats.ZipfFit("text", topK = 100)
    // freq(rank r) = 60/r for r = 1..6 → ln(c) = ln60 − 1·ln(r) exactly
    val docs = (1 to 6).flatMap(r => Seq.fill(60 / r)(s"tok$r")).mkString(" ")
    val out = op(Seq(docs).toDF("text")).head()
    assert(out.getLong(0) == 6)
    assert(math.abs(out.getDouble(1) + 1.0) < 1e-4, s"slope ${out.getDouble(1)}")
    assert(out.getDouble(3) > 0.9999)
  }

  test("zipf: constant-frequency vocabulary has ~0 slope and no r2; single token no fit") {
    val op = new graft.operators.stats.ZipfFit("text", topK = 100)
    val flat = op(Seq("aa bb cc dd ee").toDF("text")).head()
    assert(math.abs(flat.getDouble(1)) < 1e-6 && flat.isNullAt(3))
    val single = op(Seq("aa aa aa").toDF("text")).head()
    assert(single.getLong(0) == 1 && single.isNullAt(1) && single.isNullAt(3))
  }

  // ---- PII density ----

  test("pii density: per-source counts, clean docs, zero-token rate guard") {
    val op = new graft.operators.text.PiiDensity("text", "src")
    val df = Seq(
      ("write a@b.co or c@d.io today", "s1"),
      ("ping 10.0.0.1 now", "s1"),
      ("totally clean text here", "s1"),
      ("", "s2")).toDF("text", "src")
    val out = op(df).collect()
    val s1 = out(0); val s2 = out(1)
    assert(s1.getLong(1) == 3 && s1.getLong(2) == 2) // 3 docs, 2 with pii
    assert(s1.getLong(3) == 2 && s1.getLong(4) == 1 && s1.getLong(5) == 0)
    assert(!s1.isNullAt(6))
    assert(s2.getLong(1) == 1 && s2.getLong(2) == 0 && s2.isNullAt(6))
  }

  // ---- curriculum buckets ----

  test("curriculum: tiers partition the corpus and order by quality") {
    val op = new graft.operators.text.CurriculumBuckets("text", width = 0.01)
    val docs = TestSpark.table("documents")
    val out = op(docs).collect()
    assert(out.map(_.getLong(1)).sum == docs.count()) // a partition, no loss
    assert(out.length >= 2, s"expected multiple tiers: ${out.toSeq}")
    // mean quality strictly increases across tiers (quantile cuts)
    val means = out.map(_.getDouble(2)).toSeq
    assert(means == means.sorted, s"tiers out of order: $means")
    // the top tier holds at most ~25% + bin-width slack of the corpus
    assert(out.last.getLong(1) <= (docs.count() * 0.40).toLong)
  }

  // ---- Silhouette ----

  test("silhouette: tight well-separated blobs score near 1, one merged blob near 0") {
    val op = new ClusterSilhouette("v", k = 2)
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val tight = (0 until 20).map(i =>
      if (i % 2 == 0) Seq(0.1f * (i % 3), 0.0f) else Seq(10.0f + 0.1f * (i % 3), 10.0f))
      .toDF("v")
    val s = op(tight, cents).collect()
    assert(s.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(s.forall(_.getDouble(2) > 0.95))
    // points midway between centroids: a ≈ b → silhouette ≈ 0
    val smeared = (0 until 20).map(i => Seq(5.0f + 0.01f * (i % 5), 5.0f)).toDF("v")
    val s2 = op(smeared, cents).collect()
    assert(s2.map(_.getDouble(2)).forall(v => math.abs(v) < 0.05))
  }

  test("silhouette: clusterIds relabel centroid indices") {
    val op = new ClusterSilhouette("v", k = 2)
    val cents = Seq(Seq(0.0), Seq(10.0))
    val df = Seq(Seq(0.5f), Seq(9.5f)).toDF("v")
    val out = op(df, cents, Some(Seq(100L, 200L))).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L, 200L))
  }

  test("robust outliers: MAD threshold immune to the outlier it flags") {
    import graft.operators.stats.RobustOutliers
    val op = new RobustOutliers("id", "v", k = 5.0)
    // 1..9 plus a 100: median 5.5, MAD 2.5 -> only the 100 clears 5*MAD
    val df = ((1L to 9L).map(i => (i, i.toDouble)) :+ (10L, 100.0)).toDF("id", "v")
    val out = op(df).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(10L))
    assert(out(0).getDouble(2) == 94.5)
    // a mean/std rule at the same multiplier would MISS it: std ~ 29
    // zero MAD (majority constant): any deviation flags
    val const = (Seq.fill(5)(7.0).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      :+ (9L, 8.0)).toDF("id", "v")
    assert(op(const).collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("quantile rank: tie-averaged percentiles, partition-invariant, no global rank window") {
    import graft.operators.stats.QuantileRank
    val op = new QuantileRank("v")
    // values 10,20,20,40: pct = avg-rank/n -> 0.25, 0.625, 0.625, 1.0
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 40.0)).toDF("id", "v")
    val out = op(df).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == Map(1L -> 0.25, 2L -> 0.625, 3L -> 0.625, 4L -> 1.0))
    val re = op(df.repartition(5)).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re == out)
    // every Window in the plan is either partitioned or rides the
    // bounded per-range-partition offsets table (_psum), never the
    // distinct-value table
    val plan = TestSpark.planOf(op(df))
    val wins = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.contains("_pid") || w.contains("_psum"), s"unbounded window: $w")
    }
  }

  test("source balance: uniform -> gini 0 / effective n; collapsed -> effective ~1") {
    import graft.operators.stats.SourceBalance
    val op = new SourceBalance("src", weightCol = Some("w"))
    // four equal sources: gini 0, Herfindahl effective 4, entropy 2 bits
    val uni = Seq(("a", 10L), ("b", 10L), ("c", 10L), ("d", 10L)).toDF("src", "w")
    val r1 = op(uni).head()
    assert(r1.getLong(0) == 4 && r1.getDouble(3) == 0.0)
    assert(math.abs(r1.getDouble(4) - 4.0) < 1e-3)
    assert(math.abs(r1.getDouble(5) - 2.0) < 1e-3)
    // one source dominating: effective counts collapse toward 1
    val skew = Seq(("a", 97L), ("b", 1L), ("c", 1L), ("d", 1L)).toDF("src", "w")
    val r2 = op(skew).head()
    assert(r2.getDouble(4) < 1.1 && r2.getDouble(3) > 0.7)
  }

  test("mutual information: perfect dependence -> NMI 1, independence -> ~0") {
    import graft.operators.stats.MutualInformation
    val op = new MutualInformation("a", "b")
    // bijective mapping: MI = H = 1 bit over a 2x2 with equal mass
    val dep = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q")).toDF("a", "b")
    val r1 = dep.transform(op(_)).head()
    assert(r1.getLong(0) == 4 && r1.getLong(1) == 2)
    assert(math.abs(r1.getDouble(2) - 1.0) < 1e-5)   // mi_bits
    assert(math.abs(r1.getDouble(5) - 1.0) < 1e-5)   // nmi
    // product distribution: MI contributions are exactly log2(1) = 0
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")).toDF("a", "b")
    val r2 = ind.transform(op(_)).head()
    assert(math.abs(r2.getDouble(2)) < 1e-5)
    // constant column: zero entropy -> NULL nmi, zero MI
    val const = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    val r3 = const.transform(op(_)).head()
    assert(r3.isNullAt(5) && math.abs(r3.getDouble(2)) < 1e-5)
  }
}
