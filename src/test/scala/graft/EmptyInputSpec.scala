package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empty-input robustness: at 100 TB an operator regularly sees an
  * empty slice (a filtered-out partition, a source with no rows today,
  * an empty increment) — corpus-global statistics (percentiles, idf,
  * thresholds) computed over zero rows are the classic crash site.
  * Every family must return an EMPTY result, not throw.
  */
class EmptyInputSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val noDocs: DataFrame =
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
  private val noVecs: DataFrame =
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
  private def noEvents: DataFrame =
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")

  private def zero(name: String)(df: => DataFrame): Unit =
    assert(df.count() == 0L, s"$name emitted rows from empty input")

  test("dedup family survives empty input") {
    zero("exact")(graft.operators.dedup.TextExactDedup(
      textCol = "text", idCol = "doc_id", orderCol = "doc_id")(noDocs))
    zero("minhash")(new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", shingleWidth = 3,
      numHashes = 16, numBands = 4, threshold = 0.8)(noDocs))
    zero("simhash near")(new graft.operators.dedup.SimHashNearDedup(
      textCol = "text", idCol = "doc_id", k = 3)(noDocs))
    zero("line dedup")(new graft.operators.text.LineDedupRefiner(
      textCol = "text", idCol = "doc_id", orderCol = "doc_id")(noDocs))
    zero("embedding simhash")(new graft.operators.vector.EmbeddingSimHash(
      idCol = "vec_id", orderCol = "vec_id", dims = 8)(noVecs))
  }

  test("corpus-global statistics survive empty input") {
    zero("dup ngram")(new graft.operators.text.DupNgramRefiner(
      textCol = "text", idCol = "doc_id", ngramWidth = 3, minCount = 2)(noDocs))
    zero("length clip")(new graft.operators.text.LengthPercentileClipFilter(
      pLow = 0.05, pHigh = 0.95)(noDocs))
    zero("ccnet")(new graft.operators.text.CcnetBucketRefiner()(
      noDocs.withColumn("lm_perplexity", lit(1.0))))
    zero("tfidf")(new graft.operators.text.TfIdfTopTerms(
      textCol = "text", idCol = "doc_id", topK = 3).topTerms(noDocs))
    zero("vocab")(new graft.operators.text.VocabularyBuilder(topK = 5).build(noDocs))
    zero("temperature")(new graft.operators.text.TemperatureSampleFilter(
      alpha = 0.5, sourceCol = "source", idCol = "doc_id")(noDocs))
    zero("epoch upsample")(new graft.operators.text.EpochUpsample(
      Map("a" -> 2.5))(noDocs))
  }

  test("event analytics survive empty input") {
    zero("sessionize")(new graft.operators.events.Sessionize().sessions(noEvents))
    zero("funnel non-rows")(new graft.operators.events.Funnel(
      Seq("view", "click"))(noEvents).where(col("n_users") =!= 0L))
    zero("cohort")(new graft.operators.events.CohortRetention()(noEvents))
    val asof = new graft.operators.events.AsofJoin(
      keyCol = "user_id", leftTsCol = "ts", rightTsCol = "cts")
    zero("asof empty right keeps nulls... or no left rows")(
      asof(noEvents.select("user_id", "ts", "event_id"),
        noEvents.select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))))
    zero("interval")(new graft.operators.events.IntervalJoinBucketed(3600000000L)
      .pairs(
        noEvents.select(col("event_id").as("iid"),
          lit(0L).as("start_us"), lit(1L).as("end_us")),
        noEvents.select(col("user_id").as("pid"), lit(0L).as("pt_us"))))
  }

  test("sketches and diff survive empty input") {
    val est = noDocs.agg(graft.functions.KmvSketch.kmvDistinct(
      graft.functions.HashFunctions.portableHash64(col("text")), 16).as("e"))
      .as[Double].head()
    assert(est == 0.0)
    zero("diff")(new graft.operators.text.CorpusDiff()
      .diff(noDocs.select("doc_id", "text"), noDocs.select("doc_id", "text")))
  }

  test("round-11 additions survive empty input") {
    val noChanges = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("k", "ts", "seq", "op", "v")
    val cdc = new graft.operators.table.CdcMerge("k", "ts", "seq", "op", "D", "v")
    zero("cdc latest")(cdc.latest(noChanges))
    // empty changes over a non-empty base: pure passthrough
    val base = Seq((1L, 10.0)).toDF("k", "bal")
    val merged = cdc.merge(base, noChanges, "bal").collect()
    assert(merged.length == 1 && merged(0).getString(2) == "unchanged")
    zero("scd2")(cdc.scd2(noChanges))
    zero("profiler")(graft.operators.table.ColumnProfiler.profile(
      noDocs, Seq("doc_id", "text")).where(col("n_rows") > 0))
    zero("histogram quantile")(graft.operators.stats.HistogramQuantile.quantiles(
      Seq.empty[Double].toDF("v"), "v", 10.0, Seq(0.5)))
    zero("containment")(new graft.operators.dedup.NgramContainmentDedup(
      textCol = "text", idCol = "doc_id", maxDocFreq = 5)(noDocs))
    zero("intra-doc lines")(new graft.operators.text.IntraDocLineDedup("text")(noDocs))
    zero("lpa")(new graft.operators.graph.LabelPropagation()
      .communities(Seq.empty[(String, String, Long)].toDF("src", "dst", "n")))
    zero("outlinks")(graft.operators.text.OutlinkGraph.edges(
      Seq.empty[(String, String)].toDF("src_host", "html"), "html", "src_host"))
    zero("pq")(new graft.operators.vector.ProductQuantizer()(noVecs))
    // bloom sketch over zero rows: empty bit array, probe rejects everything
    val sk = noVecs.agg(graft.functions.BloomSketch.bloomSketch(
      graft.functions.HashFunctions.portableHash64(col("vec_id")), 1 << 10, 3).as("bf"))
    val bits = sk.head().getSeq[Long](0).toArray
    val probed = Seq(1L, 2L).toDF("id")
      .where(graft.functions.BloomSketch.mightContainLit(bits,
        graft.functions.HashFunctions.portableHash64(col("id")), 3))
      .count()
    assert(probed == 0L, "empty bloom filter accepted a key")
    zero("bpe count")(noDocs.select(graft.operators.text.BpeEncode.tokenCount(
      col("text"), Seq("t" -> "h")).as("n")).where(col("n") > 0))
  }

  test("stats/model family survives empty input") {
    zero("novelty")(new graft.operators.text.NgramNovelty("text", "doc_id")(noDocs))
    zero("novelty refiner")(new graft.operators.text.NgramNoveltyRefiner(
      "text", "doc_id")(noDocs))
    zero("mix plan")(new graft.operators.text.MixPlan(
      "source", budget = 1000L, rawWeights = Map("a" -> 2L))(
      noDocs, graft.functions.TextFunctions.tokenCount(col("text"))))
    zero("outlier filter")(new graft.operators.vector.EmbeddingOutlierFilter(
      "embedding", "vec_id")(noVecs))
    // OLS over zero rows: one row of (n=0, null betas) — not a throw
    val fit = new graft.operators.stats.LinearFit("y", "x1", "x2").fit(
      Seq.empty[(Long, Long, Long)].toDF("y", "x1", "x2")).head()
    assert(fit.getLong(0) == 0L && fit.isNullAt(1) && fit.isNullAt(2) && fit.isNullAt(3))
    // Lloyd update over an empty assigned frame: zero clusters out
    zero("kmeans update")(new graft.operators.ml.KMeansBuckets("embedding", "cid", 2)
      .updateCentroids(noVecs.withColumn("cid", lit(0L)), "cid", outDims = 2))
  }

  test("retrieval/graph/tokenizer family survives empty input") {
    zero("triangles")(new graft.operators.graph.TriangleCount()
      .counts(Seq.empty[(Long, Long)].toDF("src", "dst")))
    zero("inverted index")(new graft.operators.text.InvertedIndex()(noDocs))
    zero("unigram seeds")(new graft.operators.text.UnigramLmInduction("text")
      .seedCounts(noDocs, topK = 10))
    zero("dp counts")(new graft.operators.stats.DpExport("source", noise = graft.operators.stats.DpExport.HashNoise(1L))(noDocs))
    zero("rrf")(graft.operators.text.HybridRetrieval.rrf(
      Seq.empty[(Long, Double)].toDF("id", "s"), "id", "s",
      Seq.empty[(Long, Double)].toDF("id", "s"), "id", "s"))
    // the scalar evals return one DEFINED row on empty input, not a throw
    val mrr = graft.operators.ml.RankingMetrics.mrrAtK(
      Seq.empty[(Long, Long, Double, Long)].toDF("q", "id", "s", "rel"),
      "q", "id", "s", "rel", k = 5).head()
    assert(mrr.getLong(1) == 0L && mrr.isNullAt(2))
    val ndcg = graft.operators.ml.RankingMetrics.ndcgAtK(
      Seq.empty[(Long, Double, Long)].toDF("id", "s", "rel"),
      "id", "s", "rel", k = 5).head()
    assert(ndcg.isNullAt(3) && ndcg.isNullAt(4) && ndcg.getDouble(5) == 0.0)
  }

  test("round-13 additions survive empty input") {
    zero("readability")(new graft.operators.text.Readability("text", "source")(noDocs))
    zero("vocab coverage")(new graft.operators.text.VocabCoverage(
      "text", "source", topK = 10)(noDocs))
    zero("charclass")(new graft.operators.text.CharClassProfile(
      "text", "source")(noDocs))
    zero("rake")(new graft.operators.text.RakeKeywords("text", "doc_id")(noDocs))
    zero("priority sample")(new graft.operators.text.PrioritySample(
      "doc_id", "n_chars", k = 10)(noDocs.withColumn("n_chars", lit(5L))))
    zero("quantile rank")(new graft.operators.stats.QuantileRank("n_chars")(
      noDocs.withColumn("n_chars", lit(5L))))
    zero("robust outliers")(new graft.operators.stats.RobustOutliers(
      "doc_id", "n_chars")(noDocs.withColumn("n_chars", lit(5L))))
    zero("degree stats non-rows")(new graft.operators.graph.DegreeStats()(
      Seq.empty[(Long, Long)].toDF("src", "dst")).filter(col("n_edges") =!= 0))
    zero("kcore")(new graft.operators.graph.KCore(k = 2, rounds = 2)(
      Seq.empty[(Long, Long)].toDF("src", "dst")))
    zero("mutual knn")(graft.operators.vector.AnnSearch.mutualKnnLsh(
      noVecs, "embedding", "vec_id", k = 3, coords = Seq(0), maxBucketSize = 10))
    zero("anomaly")(new graft.operators.events.EventAnomaly()(noEvents))
    zero("seasonality")(new graft.operators.events.Seasonality()(noEvents))
    zero("cluster top terms")(new graft.operators.ml.ClusterTopTerms(
      "text", "source")(noDocs))
    // one-row reports: must emit their row with NULL metrics, not throw
    val mi = new graft.operators.stats.MutualInformation("source", "lang")(
      noDocs.withColumn("lang", lit("en"))).head()
    assert(mi.isNullAt(5))
    val bal = new graft.operators.stats.SourceBalance("source")(noDocs).head()
    assert(bal.isNullAt(2) && bal.isNullAt(3))
    val dq = graft.operators.table.DataQualityChecks(noDocs,
      Seq(graft.operators.table.DataQualityChecks.Completeness("text"))).head()
    assert(dq.isNullAt(2) && dq.isNullAt(4))
  }

  test("round-14 additions survive empty input") {
    zero("bigram lm")(new graft.operators.text.BigramLm("text", "doc_id")(noDocs))
    zero("bigram lm refiner")(new graft.operators.text.BigramLmScoreRefiner(
      "text", "doc_id")(noDocs))
    zero("boilerplate ngrams")(new graft.operators.text.BoilerplateNgrams(
      "text", "doc_id")(noDocs))
    zero("waterfill")(new graft.operators.text.BudgetWaterfill(
      "text", "source", 1L, 2L)(noDocs))
    zero("conversation assembly")(new graft.operators.text.ConversationAssembly(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "event_type")(noEvents))
    zero("conversation quality")(new graft.operators.text.ConversationQuality(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "event_type")(noEvents))
    // one-row recall report over an empty set: zero counts, NULL recalls
    val mpr = graft.operators.vector.AnnSearch.multiProbeRecall(
      noVecs, "embedding", "vec_id", k = 5, coords = 0 until 4,
      probes = 2, queryMod = 3).head()
    assert(mpr.getLong(0) == 0L && mpr.isNullAt(5) && mpr.isNullAt(6))
    // k is the config literal even over zero rows (the SQL twin emits
    // the literal; a first()-over-empty NULL here would hash-mismatch)
    assert(mpr.getLong(1) == 5L)
    zero("events trend")(new graft.operators.events.EventTrend(
      "ts", "event_type")(noEvents))
    zero("domain quality shrunk")(new graft.operators.text.DomainQualityShrunk(
      "source", "text", 25L)(noDocs))
  }

  test("round-15 additions survive empty input") {
    val bands = (0 until 4).map(b => 4 * b until 4 * (b + 1))
    zero("mutual knn or")(graft.operators.vector.AnnSearch.mutualKnnLshOr(
      noVecs, "embedding", "vec_id", k = 5, bands = bands, maxBucketSize = 10))
    zero("mutual knn band stats")(graft.operators.vector.AnnSearch
      .mutualKnnBandStats(noVecs, "embedding", "vec_id", bands, maxBucketSize = 10))
    // one-row recall report over an empty set: zero counts, NULL recalls
    val mkr = graft.operators.vector.AnnSearch.mutualKnnRecall(
      noVecs, "embedding", "vec_id", k = 5, bands = bands,
      maxBucketSize = 10, sampleMod = 2).head()
    assert(mkr.getLong(0) == 0L && mkr.isNullAt(5) && mkr.isNullAt(6))
    // operating point over an empty set: one row per level, NULL recall,
    // chosen defaults to the cheapest level (probes=0) so the config row
    // always exists (ADVICE r15)
    val op = graft.operators.vector.AnnSearch.multiProbeOperatingPoint(
      noVecs, "embedding", "vec_id", k = 5, coords = 0 until 4,
      maxProbes = 2, targetRecall = 0.5, queryMod = 3).collect()
    assert(op.length == 3 && op.forall(r => r.isNullAt(3)))
    assert(op.filter(_.getBoolean(4)).map(_.getInt(0)).toSeq == Seq(0),
      s"degenerate sample must still choose probes=0: ${op.toSeq}")
    // OR operating point over an empty set: one row per L, NULL recall,
    // chosen defaults to L=1
    val oop = graft.operators.vector.AnnSearch.mutualKnnOrOperatingPoint(
      noVecs, "embedding", "vec_id", k = 5, bands = bands,
      maxBucketSize = 10, targetRecall = 0.5, sampleMod = 2).collect()
    assert(oop.length == 4 && oop.forall(r => r.isNullAt(4)))
    assert(oop.filter(_.getBoolean(5)).map(_.getInt(0)).toSeq == Seq(1),
      s"degenerate sample must still choose L=1: ${oop.toSeq}")
    zero("waterfill fromCounts")(new graft.operators.text.BudgetWaterfill(
      "text", "grp", 1L, 2L).fromCounts(
        noDocs.selectExpr("source AS grp", "doc_id AS avail")))
    zero("sft keep-last")(new graft.operators.text.ConversationAssembly(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "event_type", keep = "last")(noEvents))
    // frozen-LM: empty training corpus -> V=0 -> every score NULL (never
    // a floor(-log(1/0)) overflow), empty scored frame -> zero rows
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val m = lm.freeze(noDocs)
    try {
      zero("scoreAgainst on empty")(lm.scoreAgainst(noDocs, m))
      val one = TestSpark.spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "two tokens here")),
        noDocs.select("doc_id", "text").schema)
      val r = lm.scoreAgainst(one, m).head()
      assert(r.getLong(1) == 2L && r.isNullAt(2),
        s"empty model must score NULL, got $r")
    } finally m.release()
  }

  test("round-16 additions survive empty input") {
    import graft.operators.vector.EmbeddingCosineDedup
    val cents: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    zero("probed pairs")(EmbeddingCosineDedup.probedPairs(
      noVecs, "embedding", "vec_id", cents, nprobe = 2, threshold = 0.5))
    zero("probed dedup kept")(new graft.operators.vector.ProbedCosineDedup(
      "embedding", "vec_id", 0.5, cents, 2)(noVecs))
    zero("probed dedup rejected")(new graft.operators.vector.ProbedCosineDedup(
      "embedding", "vec_id", 0.5, cents, 2).rejected(noVecs))
    zero("probed cluster stats")(EmbeddingCosineDedup.probedClusterStats(
      noVecs, "embedding", "vec_id", cents, nprobe = 2))
    // one-row recall report over an empty set: zero counts, NULL recalls
    val pr = EmbeddingCosineDedup.probedRecall(noVecs, "embedding", "vec_id",
      cents, nprobe = 2, threshold = 0.5, sampleMod = 2).head()
    assert(pr.getLong(0) == 0L && pr.getLong(1) == 0L && pr.getLong(2) == 0L &&
      pr.isNullAt(3) && pr.isNullAt(4))
    // frozen-band anchor mining over an empty corpus: zero-count stats,
    // zero banded rows, zero pairs — never a throw
    val bands = Seq(Seq(0, 1), Seq(2, 3))
    val st = graft.operators.vector.AnnSearch.bandStatsOf(noVecs, "embedding", bands)
    assert(st.n == 0L && st.sums.values.forall(_ == 0L))
    zero("banded frozen")(graft.operators.vector.AnnSearch.bandedFrozen(
      noVecs, "embedding", "vec_id", bands, st))
    zero("anchor candidates first-cap")(graft.operators.vector.AnnSearch
      .anchorCandidatesFirstCap(noVecs, "embedding", "vec_id", bands,
        maxBucketSize = 5, threshold = 0.5, stats = st))
    // nprobe operating point over an empty corpus: full level spine,
    // zero counts, NULL recall, chosen defaults to nprobe=1
    val sop = EmbeddingCosineDedup.probedOperatingPoint(noVecs, "embedding",
      "vec_id", cents, maxNprobe = 2, threshold = 0.5, targetRecall = 0.8,
      sampleMod = 2).collect()
    assert(sop.length == 2 && sop.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L &&
        r.isNullAt(4)))
    assert(sop.filter(_.getBoolean(5)).map(_.getInt(0)).toSeq == Seq(1))
    // minhash operating point over an empty corpus: full geometry spine,
    // zero counts, NULL recall, chosen defaults to the cheapest (b=1)
    val mo = new graft.operators.dedup.MinHashOperatingPoint(
      "text", "doc_id", numHashes = 8, sampleMod = 2).report(noDocs).collect()
    assert(mo.length == 4 && mo.forall(r =>
      r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L &&
        r.isNullAt(5)))
    assert(mo.filter(_.getBoolean(6)).map(_.getInt(0)).toSeq == Seq(1))
  }

  test("round-17 additions survive empty input") {
    import graft.operators.vector.EmbeddingCosineDedup
    val cents: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    zero("capped probed pairs")(EmbeddingCosineDedup.probedPairs(
      noVecs, "embedding", "vec_id", cents, nprobe = 2, threshold = 0.5,
      maxCellSize = Some(3)))
    zero("capped probed dedup kept")(new graft.operators.vector.ProbedCosineDedup(
      "embedding", "vec_id", 0.5, cents, 2, Some(3))(noVecs))
    zero("capped probed stats")(EmbeddingCosineDedup.probedCappedStats(
      noVecs, "embedding", "vec_id", cents, nprobe = 2, maxCellSize = 3))
    val cr = EmbeddingCosineDedup.cappedRecall(noVecs, "embedding", "vec_id",
      cents, nprobe = 2, threshold = 0.5, maxCellSize = 3, sampleMod = 2).head()
    assert(cr.getLong(0) == 0L && cr.getLong(1) == 0L && cr.getLong(2) == 0L &&
      cr.isNullAt(3) && cr.isNullAt(4))
    zero("anchored probed pairs")(EmbeddingCosineDedup.probedPairs(
      noVecs, "embedding", "vec_id", cents, nprobe = 2, threshold = 0.5,
      maxCellSize = Some(3), anchoredCap = true))
    zero("anchored probed dedup kept")(new graft.operators.vector.ProbedCosineDedup(
      "embedding", "vec_id", 0.5, cents, 2, Some(3), anchoredCap = true)(noVecs))
    zero("anchored cap stats")(EmbeddingCosineDedup.anchoredCapStats(
      noVecs, "embedding", "vec_id", cents, nprobe = 2, maxCellSize = 3))
    val ar = EmbeddingCosineDedup.anchoredRecall(noVecs, "embedding", "vec_id",
      cents, nprobe = 2, threshold = 0.5, maxCellSize = 3, sampleMod = 2).head()
    assert((0 to 3).forall(i => ar.getLong(i) == 0L) &&
      (4 to 6).forall(ar.isNullAt))
    // the cap tuner still emits one row per cap with a unique default
    // chosen (the smallest cap) on an empty corpus
    val co = EmbeddingCosineDedup.anchoredCapOperatingPoint(noVecs, "embedding",
      "vec_id", cents, nprobe = 2, threshold = 0.5, caps = Seq(2, 5),
      targetRecall = 0.8, sampleMod = 2).collect()
    assert(co.map(_.getInt(0)).toSeq == Seq(2, 5))
    assert(co.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L && r.isNullAt(4)))
    assert(co.filter(_.getBoolean(5)).map(_.getInt(0)).toSeq == Seq(2))
  }

  test("round-17 session-2 additions survive empty input") {
    zero("oph minhash dedup")(new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", portableHashes = true,
      signatureScheme = "oph")(noDocs))
    zero("oph signatures")(new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", portableHashes = true,
      signatureScheme = "oph").signatures(noDocs))
    val or = new graft.operators.dedup.LshRecall("text", "doc_id",
      sampleMod = 2, signatureScheme = "oph").report(noDocs).head()
    assert(or.getLong(0) == 0L && or.getLong(1) == 0L && or.isNullAt(2))
    // KN on an empty corpus: every doc row is absent, so the per-row
    // form returns zero rows
    zero("bigram lm kn")(new graft.operators.text.BigramLm(
      "text", "doc_id").applyKn(noDocs))
    zero("bigram lm kn refiner")(new graft.operators.text.BigramLmScoreRefiner(
      "text", "doc_id", smoothing = "kn")(noDocs))
    zero("dup ngram keep first")(new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", keepFirst = true)(noDocs))
  }
}
