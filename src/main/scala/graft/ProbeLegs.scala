package graft

import graft.core.{BenchHarness, Staging}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.immutable.ListMap

/** The scale-probe leg registry: every replicated-input probe leg, once.
  * [[Bench]] times all of it as its scale probe; `CoreScalingProbe`
  * times a subset at its own replication. Each caller builds one
  * [[ProbeLegs.Inputs]], and [[ProbeLegs.run]] stages only the inputs
  * its selected legs read — untimed, before the first timed run — so
  * legs interleave over cached rows and measure compute, not scan.
  */
object ProbeLegs {

  /** A staged probe input and its row count. */
  final case class Staged(df: DataFrame, rows: Long)

  /** One registry entry: the leg's name, the staged input its
    * throughput is read against (`<name>_rows`), every input its body
    * reads, and the body — run inside the caller's timed region.
    */
  final case class Leg(name: String, rowsOf: Inputs => Staged,
      inputs: Seq[Inputs => Any], run: Inputs => Unit)

  /** The probe inputs over the fixture tables in `sfDir`, each built on
    * first use. Docs, vectors, events and lineitem are replicated
    * `replication` times under re-keyed ids (`spread`: repartition each
    * replicated table that many ways before staging). Persisted inputs
    * belong to the staging scope open when they are first built.
    */
  final class Inputs(val spark: SparkSession, val sfDir: String,
      val replication: Int, spread: Option[Int] = None) {
    private def read(table: String) = spark.read.parquet(s"$sfDir/$table.parquet")
    // `times` copies of df, copy i with each key column shifted by i * stride
    private def replicate(df: DataFrame, times: Int, rekey: (String, Long)*) =
      (0 until times).map(i => rekey.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(i * stride)) }).reduce(_ unionByName _)
    private def spreadOut(df: DataFrame) = spread.fold(df)(df.repartition(_))
    private def stage(df: DataFrame): Staged = {
      val p = Staging.adopt(df.persist(StorageLevel.MEMORY_AND_DISK))
      Staged(p, p.count())
    }
    private def srcSlice = read("documents").filter(col("source") === "src0")

    // ≈90% duplicate rate, raw-CommonCrawl shape: drives the
    // shuffle-bound dedup paths at replicated volume
    lazy val docs: Staged = stage(spreadOut(replicate(
      read("documents").select(col("doc_id"), col("text"), col("n_chars")),
      replication, "doc_id" -> 10000000L)))
    // TextLengthFilter at 10x the replicated docs (100x, 5M rows, at
    // Bench's 10x): the baseline's 1.97M rec/s row is too cheap to
    // measure at 10x — fixed job overhead dominates a 50k-row run; at
    // 100x the per-row cost is the signal.
    // NOT persisted (r18): it is the probe's largest staged block by
    // far and serves exactly one leg — each rep re-unions from docs'
    // cache (the same bytes a cached copy would read), and the freed
    // storage memory stops the concurrent-staging pressure that the r17
    // driver record showed evicting the byte-heavy legs (phash_hash read
    // 0.45x baseline there on unchanged kernel code)
    lazy val docs10x: Staged = {
      val df = replicate(docs.df, 10, "doc_id" -> 1000000000L)
      Staged(df, df.count())
    }
    // frozen-model scoring input — the production-dominant inference
    // path (train once, score the firehose): model trains UNTIMED on
    // the 1x src0 slice; the timed leg is scoring replicated docs via
    // the two model joins + broadcast scalar (no training rescan)
    lazy val lmModel: graft.operators.text.BigramLmModel = {
      val m = new graft.operators.text.BigramLm("text", "doc_id")
        .freeze(srcSlice.select(col("doc_id"), col("text")))
      m.tables.foreach(Staging.adopt)
      m
    }
    // Multimodal inputs at replication: vectors through the
    // auto-bucketed semantic dedup and the knn join; 100x images
    // (re-keyed, bytes reused) through phash near-dedup — so the
    // round-over-round scale trend covers the vector and image paths,
    // not just text.
    lazy val embeddings: DataFrame = read("embeddings").select(col("vec_id"), col("embedding"))
    lazy val vectors: Staged = stage(spreadOut(replicate(
      embeddings, replication, "vec_id" -> 10000000L)))
    // Realistic image-dedup shape: decode+DCT is the expensive step,
    // so production stages the `phash` column ONCE (both dedup
    // operators pick up a precomputed `phash`) and persists it — the
    // lazy self-join would otherwise recompute the decode per join
    // branch (measured: 17 s vs ~6 s at 100x). Legs: the hash pass
    // itself, then exact dedup and capped near-dedup over the staged
    // hashes.
    //
    // The input BYTES are staged first: the 100-way union re-runs the
    // fixture generator (PNG encode!) per branch, and the repartition
    // shuffles ~200 MB of image bytes — neither is hash work. The
    // phash_hash leg then measures decode+DCT alone over cached bytes
    // (single-shot: the select's output is not persisted, so it really
    // decodes).
    lazy val imageBytes: Staged = stage(replicate(
      graft.sources.SyntheticImages.df(spark), 100, "id" -> 1000L)
      // the 100-way union leaves 400 tiny partitions — task overhead
      // would swamp the measurement; coalesce to the thread count
      .repartition(32))
    lazy val images: Staged = stage(imageBytes.df
      .withColumn("phash", graft.operators.image.ImageOps.phashUdf(col("image.bytes"))))
    // As-of join at replicated events with RE-KEYED users (more keys,
    // same per-key density — the realistic growth axis for an event
    // stream): the union-tag window shape should scale linearly
    // because the single exchange stays user-keyed.
    lazy val events: Staged = stage(spreadOut(replicate(
      graft.core.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
      replication, "event_id" -> 100000000L, "user_id" -> 100000L)))
    // replicated lineitem (re-keyed orders): the exact profiler's narrow
    // stacked plan, and the bloom-pruned semi join against its unpruned
    // twin — the prune must WIN, that's its only job
    lazy val lineitem: Staged = stage(spreadOut(replicate(
      read("lineitem").select(col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag")),
      replication, "l_orderkey" -> 100000000L)))
    // the bloom/plain semi-join dim is STAGED (persisted) before
    // timing, as production would have it — the r11 leg double-billed
    // the dim scan+distinct inside the bloom twin. MEASURED VERDICT
    // (r12, staged dim): bloom 0.52 s vs plain 0.42 s — in a single
    // JVM the probe's exchange+sort cut (6M rows → ~12k+FP) still
    // cannot pay for the 6M-row hash-probe scan, because an in-memory
    // "shuffle" moves no network bytes. That is exactly why
    // graft.core.BloomSemiJoin guards the prune behind a fact-side
    // size estimate (BloomSpec pins both paths output-identical and
    // the plan shapes); this leg keeps the honest local pair on
    // record. Both twins run under a merge-join hint: the regime
    // where runtime filters earn their keep is a build side too big
    // to broadcast (locally AQE would broadcast 12k keys and the
    // comparison would measure nothing); probe hash is the production
    // xxhash64, not the oracle-parity md5 path the gate pins.
    lazy val bloomBuild: Staged = stage(lineitem.df.select(col("l_orderkey").as("bk"))
      .where(col("bk") % 500 === 0).distinct())
    // signature-mix cost twin (r17): the shingle-hash arrays staged
    // ONCE (untimed), so the two legs time ONLY the signature pass —
    // classic k-min (16 mixes per shingle element) vs OPH (one
    // binning pass + k-bin densify), the measured form of the
    // kernel's 1/16-hash-work claim
    lazy val sigHashes: Staged = stage(docs.df.select(
      graft.plans.kernels.shingle_hashes(col("text"), 3).as("_h")))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private val profCols = Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")

  /** Every probe leg, in run order. */
  val all: Seq[Leg] = Seq(
    Leg("filter_chain", _.docs, Seq(_.docs), in => new graft.operators.text.TextLengthFilter(
      minLength = 100, maxLength = Some(400),
      textCol = "text", lengthCol = Some("n_chars"))(in.docs.df).count()),
    Leg("exact_dedup", _.docs, Seq(_.docs), in => graft.operators.dedup.TextExactDedup(
      textCol = "text", idCol = "doc_id", orderCol = "doc_id")(in.docs.df).count()),
    Leg("minhash_lsh_capped", _.docs, Seq(_.docs), in => new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id",
      shingleWidth = 3, numHashes = 16, numBands = 4, threshold = 0.8,
      maxBucketSize = Some(50))(in.docs.df).count()),
    // exact-collapse-first LSH: full uncapped semantics at replicated
    // scale (the production order — exact dedup folded into near-dedup)
    Leg("minhash_precollapse", _.docs, Seq(_.docs), in => new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id",
      shingleWidth = 3, numHashes = 16, numBands = 4, threshold = 0.8,
      preCollapseExact = true)(in.docs.df).count()),
    // the signature pass ALONE over staged hash arrays (production
    // splitmix family both sides); bit_xor forces every row without
    // the ANSI long-overflow a plain sum of 2^63-scale values hits
    Leg("minhash_mix_kmin", _.sigHashes, Seq(_.sigHashes), in => in.sigHashes.df
      .select(graft.plans.kernels.minhash_from_hashes(col("_h"), 16, false).as("_m"))
      .select(bit_xor(element_at(col("_m"), 1))).head()),
    Leg("minhash_mix_oph", _.sigHashes, Seq(_.sigHashes), in => in.sigHashes.df
      .select(graft.plans.kernels.oph_minhash_from_hashes(col("_h"), 16, false).as("_m"))
      .select(bit_xor(element_at(col("_m"), 1))).head()),
    // trained-classifier loop at replicated docs (r18): 8 full-batch GD
    // iterations (one partial-aggregated scan each over the
    // persisted featurized frame, model quantized per iteration) +
    // the literal-weight scoring projection, materialized via noop
    // (count() would prune the score column). Fresh operator per
    // rep: the single-slot fit cache must not amortize across reps.
    Leg("logreg_fit_score", _.docs, Seq(_.docs), in => {
      val op = new graft.operators.ml.LogregQualityRefiner(
        textCol = "text", idCol = "doc_id", labelCol = "_lab",
        outputCol = "logreg_score")
      // weak label derived from the staged columns (the probe frame
      // stages only doc_id/text/n_chars — a projection, no restage)
      noop(op(in.docs.df.withColumn("_lab", col("n_chars") > lit(290L)))
        .select(col("doc_id"), col("logreg_score")))
    }),
    // span removal must materialize its OUTPUT columns (count() would
    // prune the coverage-mask projection and measure only the joins)
    Leg("dup_ngram", _.docs, Seq(_.docs), in => noop(new graft.operators.text.DupNgramRefiner(
      textCol = "text", idCol = "doc_id", ngramWidth = 8, minCount = 2)(in.docs.df))),
    // the fused quality batteries (C4 + Gopher kernels) as one chained
    // filter pass — the pre-dedup cleaning stage's raw throughput
    Leg("quality_battery", _.docs, Seq(_.docs), in => {
      val g = new graft.operators.text.GopherQualityFilter(
        "text", minWords = 10, minStopwords = 1)
      val c = new graft.operators.text.C4QualityFilter("text")
      g(c(in.docs.df)).count()
    }),
    // DSIR scoring at replication: two bounded model fits + the
    // broadcast-table scoring scan (the data-selection stage)
    Leg("dsir_score", _.docs, Seq(_.docs), in => new graft.operators.ml.DsirScoreRefiner(
      s => s.read.parquet(s"${in.sfDir}/documents.parquet")
        .filter(col("source") === "src0").select(col("text")),
      textCol = "text")(in.docs.df).select(sum(col("dsir_logw"))).head()),
    // URLFilter at replication — the BASELINE.md bottleneck stage
    // (20,362 rec/s on 8 cores, regex scoring): urls synthesized from
    // the fixture (host from source, pathword planted per id) so the
    // blocklist, the lexicon regex, and the subdomain check all fire
    Leg("url_filter", _.docs, Seq(_.docs), in => {
      val urls = in.docs.df.select(concat(lit("http://src"), col("doc_id") % 10,
        lit(".example.com/page/"), col("doc_id") % 97,
        when(col("doc_id") % 13 === 0, lit("/casino")).otherwise(lit("/a"))).as("url"))
      new graft.operators.text.UrlFilter(
        blockedDomains = Seq("src3.example.com"))(urls).count()
    }),
    // HTML text extraction throughput — the baseline's Rust kernel row
    // (5,000 doc/s on 8 cores): fixture docs wrapped in a multi-block
    // page (nav + link-dense block + body paragraphs) and pushed
    // through the real extractor
    Leg("html_extract", _.docs, Seq(_.docs), in => {
      val extract = udf((h: String) =>
        graft.sources.Warc.htmlExtractText(h).map(_._2).getOrElse(""))
      val pages = in.docs.df.select(concat(
        lit("<html><head><title>t</title></head><body><nav>skip this nav</nav>" +
          "<div><a href=\"/a\">one link</a> <a href=\"/b\">two link</a></div><p>"),
        col("text"),
        lit("</p><p>second paragraph with plenty of ordinary words here</p></body></html>"))
        .as("html"))
      pages.select(length(extract(col("html"))).as("l"))
        .agg(sum(col("l"))).head()
    }),
    Leg("filter_100x", _.docs10x, Seq(_.docs10x), in => new graft.operators.text.TextLengthFilter(
      minLength = 100, maxLength = Some(400),
      textCol = "text", lengthCol = Some("n_chars"))(in.docs10x.df).count()),
    // BM25 at replication: the two corpus scans (stats + score) plus
    // the TakeOrdered top-k — the retrieval stage's raw throughput
    Leg("bm25", _.docs, Seq(_.docs), in => new graft.operators.text.Bm25Retrieval(
      Seq("spark", "join", "window"), "text", "doc_id", topK = 50)(in.docs.df).count()),
    // conditional bigram LM at replication — the r14 perplexity-style
    // quality scorer: one tokenize into the staged hashed-count table,
    // corpus counts + context totals + scoring join (scoped release
    // inside the leg: the staging is the operator's honest
    // per-invocation cost, same as the gate measurement). noop sink,
    // not count(): count prunes the scoring expressions (the
    // floor-log cost column and the per-doc weighted sums) and would
    // shave the transcendental work off the record.
    Leg("bigram_lm", _.docs, Seq(_.docs), in => Staging.scoped {
      noop(new graft.operators.text.BigramLm("text", "doc_id")(in.docs.df)) }),
    Leg("bigram_lm_score_frozen", _.docs, Seq(_.docs, _.lmModel), in => noop(
      new graft.operators.text.BigramLm("text", "doc_id").scoreAgainst(in.docs.df, in.lmModel))),
    // the full composed curation order (clean → filter → quality →
    // corpus-global span removal → exact dedup) as ONE leg — the r9
    // driver run blew up exactly here (3.7 s → 61 s) and per-operator
    // legs can't see cross-stage recompute/spill amplification
    Leg("curation_stack", _.docs, Seq(_.docs), in => {
      // the raw fixture text has no sentence punctuation, so C4's
      // doc rule would reject EVERYTHING and the downstream stages
      // would measure an empty corpus (observed: 0 survivors).
      // Suffix three sentence-shaped lines (stopwords included) so a
      // realistic fraction survives into dup-ngram + exact dedup —
      // and the shared suffix makes span removal actually work.
      val stackIn = in.docs.df.withColumn("text", concat(col("text"),
        lit(". This sentence keeps the cleaner happy for the probe today.\n" +
          "Another full sentence follows with plenty of the usual words.\n" +
          "A third one closes the document for the quality rules.")))
      val cleaned = new graft.operators.text.C4CleanRefiner("text")(stackIn)
      val f1 = new graft.operators.text.C4QualityFilter("text")(cleaned)
      val f2 = new graft.operators.text.GopherQualityFilter(
        "text_c4_clean", minWords = 10, minStopwords = 2)(f1)
      val dup = new graft.operators.text.DupNgramRefiner(
        "text_c4_clean", "doc_id", ngramWidth = 8, minCount = 3,
        hashName = "portable")(f2)
      graft.operators.dedup.TextExactDedup(
        textCol = "text_dedup_spans", idCol = "doc_id",
        orderCol = "doc_id")(dup).count()
    }),
    // fixed-point PageRank over a replicated-node synthetic graph (2
    // edges per node): 5 iterations × 2 exchanges — the iterative-join
    // scale shape, long keys only on the wire
    Leg("pagerank5", _.docs, Seq(_.docs), in => {
      val nNodes = in.docs.rows
      val nodes = in.docs.df.select(col("doc_id").as("id"))
      val edges = nodes.select(col("id").as("src"), ((col("id") * 2 + 1) % nNodes).as("dst"))
        .unionByName(nodes.select(col("id").as("src"), ((col("id") * 3 + 7) % nNodes).as("dst")))
      new graft.operators.graph.FixedPointPageRank(iterations = 5)
        .ranks(nodes, edges).count()
    }),
    // triangle counting over the replicated circulant C(n;1,2): the
    // degree-ordered wedge join's two hash joins at replicated nodes.
    // Dense 0..n-1 ids via spark.range — the re-keyed doc_ids
    // modulo n would fold the replicas onto the low range and the
    // measured graph would be skew-hubbed, not the claimed circulant
    Leg("triangle", _.docs, Seq(_.docs), in => {
      val nNodes = in.docs.rows
      val ids = in.spark.range(nNodes).toDF("id")
      val tedges = ids.select(col("id").as("src"), ((col("id") + 1) % nNodes).as("dst"))
        .unionByName(ids.select(col("id").as("src"), ((col("id") + 2) % nNodes).as("dst")))
      new graft.operators.graph.TriangleCount().counts(tedges).count()
    }),
    // inverted index at replicated docs: distinct-term explode + the
    // bounded TopKAgg posting aggregation (never a full collect of a
    // hot term)
    Leg("inverted_index", _.docs, Seq(_.docs), in => new graft.operators.text.InvertedIndex(
      minDocFreq = 2L, topTerms = 100, postingsCap = 10)(in.docs.df).count()),
    // weighted LPA over the same replicated graph: 4 rounds × (join +
    // 2-level argmax) — the community-detection twin of the PageRank leg
    Leg("lpa4", _.docs, Seq(_.docs), in => {
      val nNodes = in.docs.rows
      val nodes = in.docs.df.select(col("doc_id").as("id"))
      val edges = nodes.select(col("id").as("src"),
          ((col("id") * 2 + 1) % nNodes).as("dst"), lit(2L).as("n"))
        .unionByName(nodes.select(col("id").as("src"),
          ((col("id") * 3 + 7) % nNodes).as("dst"), lit(1L).as("n")))
      new graft.operators.graph.LabelPropagation(iterations = 4)
        .communities(edges).count()
    }),
    // corpus novelty at replicated docs: explode + two hash-keyed
    // aggregations (first-occurrence + per-doc rollup) — the per-doc
    // attribution twin of the dup-ngram tier, pure long-keyed shuffles
    Leg("novelty", _.docs, Seq(_.docs), in => new graft.operators.text.NgramNovelty(
      "text", "doc_id", shingleWidth = 3)(in.docs.df).count()),
    // distributed OLS at replicated docs: tokenize-heavy featurization +
    // ONE partial-aggregated moment pass (9 longs/partition on the wire)
    Leg("ols_fit", _.docs, Seq(_.docs), in => {
      val feats = in.docs.df.select(col("n_chars").cast("long").as("y"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("x1"),
        size(array_distinct(graft.functions.TextFunctions.tokensOf(col("text"))))
          .cast("long").as("x2"))
      new graft.operators.stats.LinearFit("y", "x1", "x2").fit(feats).head()
    }),
    Leg("semantic_dedup", _.vectors, Seq(_.vectors), in => new graft.operators.vector.AutoBucketedCosineDedup(
      vecCol = "embedding", idCol = "vec_id", threshold = 0.95,
      numBuckets = 32)(in.vectors.df).count()),
    // the r16 probed tier at replication: same trained cells, nprobe=2 —
    // tracks the recall lever's ~nprobe^2 candidate-mass cost at scale
    Leg("semantic_dedup_probed", _.vectors, Seq(_.vectors), in => new graft.operators.vector.AutoBucketedCosineDedup(
      vecCol = "embedding", idCol = "vec_id", threshold = 0.95,
      numBuckets = 32, nprobe = 2)(in.vectors.df).count()),
    // the r17 anchored hot-cell cap at replication: the linear-mass
    // policy the 100 TB config ships — tracks the cap's cost (one extra
    // cell-keyed rank window) against the uncapped probed leg
    Leg("semantic_dedup_anchored", _.vectors, Seq(_.vectors), in => new graft.operators.vector.AutoBucketedCosineDedup(
      vecCol = "embedding", idCol = "vec_id", threshold = 0.95,
      numBuckets = 32, nprobe = 2, maxCellSize = Some(100),
      anchoredCap = true)(in.vectors.df).count()),
    // sampled-fit twin of the probed leg (r20, VERDICT r19 #3): the
    // k-means fit — the probe suite's single most expensive cost
    // (34.1 s cold in the r19 record) — runs on the deterministic
    // 1-in-4 id sample via the operator's designed 100 TB lever
    // (`trainSampleMod`); assignment and the dedup still cover the
    // full corpus. ADDED next to the full-fit legs, which keep their
    // exact semantics for round-over-round comparability.
    Leg("semantic_dedup_sampled_fit", _.vectors, Seq(_.vectors), in => new graft.operators.vector.AutoBucketedCosineDedup(
      vecCol = "embedding", idCol = "vec_id", threshold = 0.95,
      numBuckets = 32, nprobe = 2,
      trainSampleMod = Some(4))(in.vectors.df).count()),
    // PCA at replicated vectors (r18): the full fit-and-project pass —
    // one distributed exact-moment aggregate (the only corpus scan),
    // driver Jacobi, then the stateless literal-matrix projection
    // materialized via noop (count would prune the projection).
    // The fit is the scale story: the exchange carries one 17 KB
    // moment row per partition regardless of corpus size.
    Leg("pca_fit_project", _.vectors, Seq(_.vectors), in => noop(new graft.operators.vector.PcaProjection(
      vecCol = "embedding", dims = 64, q = 8)(in.vectors.df))),
    Leg("knn_join_100q", _.vectors, Seq(_.vectors, _.embeddings), in => graft.operators.vector.AnnSearch.knnJoin(
      in.vectors.df, in.embeddings.limit(100), "embedding", "vec_id", "vec_id", k = 10).count()),
    // multi-probe LSH knn join (100 queries, 3 buckets probed each,
    // the REAL operator incl. its bounded-heap + rank-window top-k):
    // the bucket-pruned path at replicated vectors — candidates are
    // (probes+1)/2^bits of the corpus per query, never the cross
    // product the brute leg pays. count() cannot prune the cosine
    // here: the rank window orders by it.
    Leg("multiprobe_knn_100q", _.vectors, Seq(_.vectors, _.embeddings), in => graft.operators.vector.AnnSearch
      .knnJoinMultiProbe(in.vectors.df, in.embeddings.limit(100), "embedding", "vec_id",
        "vec_id", k = 10, coords = 0 until 4, probes = 2).count()),
    Leg("phash_hash", _.imageBytes, Seq(_.imageBytes), in => in.imageBytes.df
      .select(graft.operators.image.ImageOps.phashUdf(col("image.bytes")).as("p"))
      .filter(col("p").isNotNull).count()),
    Leg("phash_exact_dedup", _.images, Seq(_.images), in => new graft.operators.image.ImagePhashDedup(
      imageCol = "image", idCol = "id", orderCol = "id")(in.images.df).count()),
    Leg("phash_near_capped", _.images, Seq(_.images), in => new graft.operators.image.ImagePhashNearDedup(
      imageCol = "image", idCol = "id", k = 8,
      maxBucketSize = Some(50))(in.images.df).count()),
    Leg("asof_join", _.events, Seq(_.events), in => {
      val purchases = in.events.df.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = in.events.df.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
      new graft.operators.events.AsofJoin(
        keyCol = "user_id", leftTsCol = "ts", rightTsCol = "cts",
        rightOrderCol = Some("click_id"))(purchases, clicks).count()
    }),
    // CDC fold at replicated events: max_by netting (one key shuffle,
    // one struct per key on the wire) + one outer merge join
    Leg("cdc_merge", _.events, Seq(_.events), in => {
      val changes = in.events.df.select(col("user_id").as("k"), col("ts"),
        col("event_id"), col("event_type"),
        (col("event_id") % 997).cast("double").as("v"))
      val base = changes.select(col("k")).distinct().withColumn("bal", lit(0.0))
      new graft.operators.table.CdcMerge(
        "k", "ts", "event_id", "event_type", "error", "v")
        .merge(base, changes, "bal").count()
    }),
    Leg("profile", _.lineitem, Seq(_.lineitem), in => graft.operators.table.ColumnProfiler
      .profile(in.lineitem.df, profCols).count()),
    Leg("bloom_semi", _.lineitem, Seq(_.lineitem, _.bloomBuild), in => {
      val bits = 1 << 20; val kh = 4
      val bf = in.bloomBuild.df.agg(graft.functions.BloomSketch.bloomSketch(
          xxhash64(col("bk")).bitwiseAND(lit((1L << 60) - 1)), bits, kh).as("bf"))
        .head().getSeq[Long](0).toArray
      in.lineitem.df.where(graft.functions.BloomSketch.mightContainLit(bf,
          xxhash64(col("l_orderkey")).bitwiseAND(lit((1L << 60) - 1)), kh))
        .join(in.bloomBuild.df.hint("merge"), col("l_orderkey") === col("bk"), "left_semi")
        .count()
    }),
    Leg("plain_semi", _.lineitem, Seq(_.lineitem, _.bloomBuild), in => in.lineitem.df
      .join(in.bloomBuild.df.hint("merge"), col("l_orderkey") === col("bk"), "left_semi")
      .count())
  )

  /** Stage the inputs `legs` read (untimed), time the legs through
    * `harness`, release the inputs, and return each leg's input rows.
    *
    * Every leg runs in its own staging scope (the gate-leg contract):
    * operators that stage intermediates (DupNgram, MinHash*, semantic
    * dedup) release them at leg exit instead of leaking them into the
    * rest of the probe suite — unreleased staged frames from earlier
    * legs were exactly the cross-leg storage pressure behind the r17/r18
    * probe instabilities (phash 0.45x, minhash_precollapse 10x run
    * spread). Staging cost itself stays inside the timed region.
    */
  def run(legs: Seq[Leg], in: Inputs, harness: BenchHarness): Seq[(String, Long)] =
    Staging.scoped {
      legs.foreach(_.inputs.foreach(_(in)))
      val rows = legs.map(l => l.name -> l.rowsOf(in).rows)
      harness.run(legs.map(l => l.name -> (() => Staging.scoped(l.run(in)))))
      rows
    }

  /** The probe record: `<leg>_sec` (null for a failed leg) and
    * `<leg>_rows` per leg, then the harness's evidence. Throughput is
    * `<leg>_rows / <leg>_sec`, derived by readers.
    */
  def record(rows: Seq[(String, Long)], harness: BenchHarness,
      replication: Int): ListMap[String, Any] =
    ListMap[String, Any]("replication" -> replication) ++
      rows.flatMap { case (name, n) =>
        Seq(s"${name}_sec" -> harness.results.get(name).map(BenchHarness.sec),
          s"${name}_rows" -> n)
      } ++
      ListMap("probe_estimator" -> "warm_min_interleaved_retry",
        "probe_reps" -> harness.reps) ++
      harness.evidence(BenchHarness.ProbeKeys)

  /** Throughput per leg, `<leg>_rows / <leg>_sec` rounded (null for a
    * failed leg) — the one place a rate is computed.
    */
  def perSec(rows: Seq[(String, Long)], harness: BenchHarness): ListMap[String, Option[Long]] =
    ListMap(rows.map { case (name, n) =>
      name -> harness.results.get(name).filter(_ > 0).map(t => math.round(n / t))
    }: _*)
}
