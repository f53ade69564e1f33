package graft.runner

import graft.core.Operator
import graft.operators.dedup._
import graft.operators.image._
import graft.operators.text._
import graft.operators.vector.EmbeddingCosineDedup

/** Name → factory registry, the reference's extension contract
  * (framework/registry.py:13-57; README "subclass, register, reference
  * from YAML by snake_case name"). Built-in operators are pre-registered;
  * users add their own with [[register]].
  */
object OperatorRegistry {

  type Factory = Params => Operator

  private val factories =
    scala.collection.concurrent.TrieMap.empty[String, Factory]

  def register(name: String, factory: Factory): Unit = factories.put(name, factory)

  def create(name: String, params: Params): Operator =
    factories.get(name) match {
      case Some(f) => f(params)
      case None => throw new IllegalArgumentException(
        s"Operator '$name' not found in registry. Available operators: ${listOperators.mkString(", ")}")
    }

  def listOperators: Seq[String] = factories.keys.toSeq.sorted

  /** Adapt a plain df => df stage (report/aggregation operators whose
    * class isn't an [[Operator]]) to the registry contract.
    */
  private def wrap(opName: String,
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Operator =
    new Operator {
      val name: String = opName
      def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = f(df)
    }

  /** `cell_cap_mode`: "first" (the default) or "anchored" hot-cell cap. */
  private def cellCapAnchored(p: Params): Boolean = p.str("cell_cap_mode", "first") match {
    case "first"    => false
    case "anchored" => true
    case other => throw new IllegalArgumentException(
      s"cell_cap_mode must be 'first' or 'anchored', got '$other'")
  }

  // ---- built-ins (names match the reference's YAML vocabulary where an
  // equivalent exists: configs/example_commoncrawl.yaml, z_image.yaml) ----

  register("url_filter", p => new UrlFilter(
    blockedDomains = p.strList("blocked_domains"),
    scoreThreshold = p.double("score_threshold", 0.5),
    checkSubdomains = p.bool("check_subdomains", true),
    excludeQualitySources = p.bool("exclude_quality_sources", false),
    urlCol = p.str("url_field", "url")))

  register("wordlist_tagger", p => new graft.operators.text.WordlistTagger(
    words = p.strList("words"),
    prefix = p.str("prefix", "wordlist"),
    textCol = p.str("text_field", "text")))

  register("wordlist_filter", p => new graft.operators.text.WordlistFilter(
    words = p.strList("words"),
    maxHitFrac = p.double("max_hit_frac", 0.1),
    maxHits = p.long("max_hits").getOrElse(Long.MaxValue),
    prefix = p.str("prefix", "wordlist"),
    textCol = p.str("text_field", "text")))

  register("quality_vote_filter", p => new QualityVoteFilter(
    raterNames = p.strList("raters"),
    minVotes = p.int("min_votes", 2),
    textCol = p.str("text_field", "text"),
    wordlistWords = p.strList("wordlist_words"),
    wordlistMaxHitFrac = p.double("wordlist_max_hit_frac", 0.1)))

  register("text_length_filter", p => new TextLengthFilter(
    minLength = p.long("min_length", 0L),
    maxLength = p.long("max_length"),
    textCol = p.str("text_field", "text"),
    lengthCol = p.str("length_field")))

  register("text_exact_deduplicator", p => TextExactDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    hashAlgorithm = p.str("hash_algorithm", "xxhash64"),
    normalizeWhitespace = p.bool("normalize_whitespace", true),
    lowercase = p.bool("lowercase", true),
    includeUrl = p.bool("include_url", false),
    urlCol = p.str("url_field", "url")))

  register("minhash_lsh_deduplicator", p => new MinHashLSHDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    shingleWidth = p.int("shingle_width", 3),
    numHashes = p.int("num_hashes", 16),
    numBands = p.int("num_bands", 4),
    threshold = p.double("threshold", 0.8),
    maxBucketSize = p.long("max_bucket_size").map(_.toInt),
    // default ON for the YAML path: provably identical kept-set to the
    // direct uncapped form (the minhash_lsh_dedup_precollapse gate
    // reuses the direct form's oracle), and at raw-crawl duplicate
    // rates it is the difference between 96k docs/s and 2.3k docs/s
    // (50x-replication probe: 2.6 s vs 110.6 s) — identical copies
    // collapse BEFORE banding instead of flooding the pair verify
    preCollapseExact = p.bool("pre_collapse_exact", true),
    // "oph" = one-permutation signature (1/16 the signature hash work
    // at the default geometry; price its recall with oph_lsh_recall)
    signatureScheme = p.str("signature_scheme", "kmin")))

  // The exact-Jaccard posting self-join is quadratic in a shingle's doc
  // frequency — one boilerplate shingle in f docs contributes f² join
  // rows. The YAML path therefore always plans with a doc-frequency cap
  // (default 1000, same spirit as the cosine no-cartesian invariant
  // below); the genuinely-unbounded exact tier stays API-only
  // (`new NgramJaccardDedup(..., maxDocFreq = None)`).
  register("ngram_jaccard_deduplicator", p => new NgramJaccardDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    shingleWidth = p.int("shingle_width", 3),
    threshold = p.double("threshold", 0.8),
    maxDocFreq = Some(p.int("max_doc_freq", 1000))))

  // containment tier: max_doc_freq is a REQUIRED-with-default cap, same
  // no-unbounded-posting-join invariant as the Jaccard tier above
  register("ngram_containment_deduplicator", p => new NgramContainmentDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    shingleWidth = p.int("shingle_width", 3),
    threshold = p.double("threshold", 0.8),
    maxDocFreq = p.int("max_doc_freq", 1000)))

  register("simhash_deduplicator", p => new SimHashDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    bits = p.int("bits", 32)))

  // No YAML path reaches the O(n²) brute-force crossJoin tier: with an
  // explicit `bucket_field` pairs are compared within that bucket;
  // without one, a seeded k-means auto-bucketing is trained first
  // (`num_buckets`, default 16). Brute force stays API-only
  // (`new EmbeddingCosineDedup(...)` with bucketCol = None).
  register("embedding_cosine_deduplicator", p => p.str("bucket_field") match {
    case Some(bucket) =>
      // the SemDeDup keep rule needs trained centroids to score
      // members against — the explicit-bucket tier has none, and a
      // silently-ignored keep_policy would hand back first-wins output
      // the config did not ask for
      require(p.str("keep_policy", "first") == "first",
        "keep_policy=semdedup needs the auto-bucketed path (drop bucket_field)")
      new EmbeddingCosineDedup(
      vecCol = p.str("embedding_field", "embedding"),
      idCol = p.str("id_field", "id"),
      threshold = p.double("threshold", 0.95),
      bucketCol = Some(bucket),
      // the hot-bucket cap applies to the explicit-bucket tier too —
      // a user-supplied bucket column can be just as skewed as a
      // drifted k-means cell (same max_cell_size / cell_cap_mode keys
      // as the auto-bucketed path; first-cap or anchored)
      maxBucketSize = p.long("max_cell_size").map(_.toInt),
      anchoredCap = cellCapAnchored(p))
    case None => new graft.operators.vector.AutoBucketedCosineDedup(
      vecCol = p.str("embedding_field", "embedding"),
      idCol = p.str("id_field", "id"),
      threshold = p.double("threshold", 0.95),
      numBuckets = p.int("num_buckets", 16),
      seed = p.long("kmeans_seed", 42L),
      // nprobe > 1 probes each row's nprobe nearest cells (r16): the
      // boundary-duplicate recall lever, candidate mass bounded ×nprobe
      nprobe = p.int("nprobe", 1),
      // hot-cell cap (r17): bounds a skewed cell's candidate mass, the
      // knob to ALWAYS set at corpus scale. cell_cap_mode "first" keeps
      // only the cap smallest ids (mass min(c,cap)²); "anchored" tests
      // every member against the cap smallest anchors (mass ≈ 2·cap·c,
      // linear — and a tail duplicate of an early row is still caught)
      maxCellSize = p.long("max_cell_size").map(_.toInt),
      // train_sample_mod (r17): fit k-means on the deterministic
      // 1-in-mod id sample, assign the full corpus — Lloyd's scans the
      // sample instead of the whole 100 TB per iteration
      trainSampleMod = p.long("train_sample_mod").map(_.toInt),
      anchoredCap = cellCapAnchored(p),
      // keep_policy (r17): "first" = first-wins (min id survives);
      // "semdedup" = the published SemDeDup rule — near-dup components
      // each keep their farthest-from-centroid member
      keepPolicy = p.str("keep_policy", "first"))
  })

  // OR-amplified mutual-kNN anchor-pair mining (r16): num_bands is the
  // tuned L off mutual_knn_or_operating_point's chosen row; the stage
  // REPLACES the frame with the (a, b, cosine) pair table
  register("mutual_knn_anchor_miner", p => new graft.operators.vector.MutualKnnAnchorMiner(
    vecCol = p.str("embedding_field", "embedding"),
    idCol = p.str("id_field", "id"),
    k = p.int("k", 5),
    numBands = p.int("num_bands", 4),
    bandWidth = p.int("band_width", 4),
    maxBucketSize = p.int("max_bucket_size", 1000)))

  register("image_metadata", p => new ImageMetadataRefiner(
    imageCol = p.str("image_field", "image")))

  register("image_technical_quality", p => new ImageTechnicalQualityRefiner(
    imageCol = p.str("image_field", "image")))

  register("image_quality_filter", p => new ImageQualityFilter(
    minWidth = p.int("min_width", 256),
    minHeight = p.int("min_height", 256),
    maxCompressionArtifacts = p.double("max_compression_artifacts", 0.8),
    minInformationEntropy = p.double("min_information_entropy", 3.0)))

  register("image_phash_deduplicator", p => new ImagePhashDedup(
    imageCol = p.str("image_field", "image"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    algorithm = p.str("hash_algorithm", "dct")))

  register("image_phash_near_deduplicator", p => new ImagePhashNearDedup(
    imageCol = p.str("image_field", "image"),
    idCol = p.str("id_field", "id"),
    k = p.long("max_hamming_distance", 8L).toInt,
    maxBucketSize = p.long("max_bucket_size").map(_.toInt)))

  register("simhash_near_deduplicator", p => new SimHashNearDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    bits = p.int("bits", 60),
    k = p.int("k", 3),
    // hot-bucket guard (r17): duplicates cluster, so the duplicate
    // mass itself is a (block, value) quadratic without a cap
    maxBucketSize = p.long("max_bucket_size").map(_.toInt)))

  register("text_analysis", p => new TextAnalysisRefiner(
    textCol = p.str("text_field", "text")))

  register("benchmark_decontamination", p => BenchmarkDecontaminationFilter.fromPath(
    path = p.str("benchmark_path").getOrElse(
      throw new IllegalArgumentException("benchmark_decontamination needs benchmark_path")),
    format = p.str("benchmark_format", "parquet"),
    idCol = p.str("id_field", "id"),
    textCol = p.str("text_field", "text"),
    ngramWidth = p.int("ngram_width", 13),
    benchTextCol = p.str("benchmark_text_field", "text")))

  register("deterministic_sample", p => new DeterministicSampleFilter(
    fraction = p.double("fraction", 1.0),
    idCol = p.str("id_field", "id"),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("url_canonicalize", p => new UrlCanonicalizeRefiner(
    urlCol = p.str("url_field", "url"),
    outputCol = p.str("output_field", "url_canonical")))

  register("line_dedup", p => new LineDedupRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    minLineLength = p.int("min_line_length", 15),
    hashName = p.str("hash_algorithm", "xxhash64"),
    separator = p.str("separator", "\n")))

  register("paragraph_dedup", p => new LineDedupRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    minLineLength = p.int("min_paragraph_length", 30),
    hashName = p.str("hash_algorithm", "xxhash64"),
    outputCol = p.str("output_field", "text_paragraph_deduped"),
    removedCol = p.str("removed_field", "paragraphs_removed"),
    separator = p.str("separator", "\n\n")))

  register("gopher_repetition", p => new GopherRepetitionRefiner(
    textCol = p.str("text_field", "text")))

  register("gopher_repetition_filter", p => new GopherRepetitionFilter(
    textCol = p.str("text_field", "text"),
    maxDupLineFrac = p.double("max_dup_line_frac", 0.30),
    maxDupParaFrac = p.double("max_dup_para_frac", 0.30),
    maxDupLineCharFrac = p.double("max_dup_line_char_frac", 0.20),
    maxDupParaCharFrac = p.double("max_dup_para_char_frac", 0.20),
    maxTop2gramCharFrac = p.double("max_top_2gram_char_frac", 0.20),
    maxTop3gramCharFrac = p.double("max_top_3gram_char_frac", 0.18),
    maxTop4gramCharFrac = p.double("max_top_4gram_char_frac", 0.16)))

  register("unicode_normalize", p => new UnicodeNormalizeRefiner(
    textCol = p.str("text_field", "text"),
    form = p.str("form", "NFC"),
    stripControls = p.bool("strip_controls", false),
    outputCol = p.str("output_field", "text_normalized"),
    changedCol = p.str("changed_field", "unicode_changed")))

  register("strip_accents", p => new StripAccentsRefiner(
    textCol = p.str("text_field", "text"),
    outputCol = p.str("output_field", "text_folded")))

  register("domain_stats_filter", p => new DomainStatsFilter(
    domainCol = p.str("domain_field", "source"),
    textCol = p.str("text_field", "text"),
    minDocs = p.long("min_docs", 2L),
    minMeanQuality = p.double("min_mean_quality", 0.3)))

  register("chunk_documents", p => new DocumentChunker(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    chunkSize = p.int("chunk_size", 64),
    stride = p.int("stride", 48),
    minTokens = p.int("min_tokens", 8)))

  register("pii_redaction", p => new PiiRedactionRefiner(
    textCol = p.str("text_field", "text"),
    redactedCol = p.str("redacted_field", "text_redacted")))

  register("text_repetition", p => new TextRepetitionRefiner(
    textCol = p.str("text_field", "text")))

  register("c4_clean", p => new C4CleanRefiner(
    textCol = p.str("text_field", "text"),
    minWordsPerLine = p.int("min_words_per_line", 5),
    minSentences = p.int("min_sentences", 3)))

  register("c4_quality_filter", p => new C4QualityFilter(
    textCol = p.str("text_field", "text"),
    minWordsPerLine = p.int("min_words_per_line", 5),
    minSentences = p.int("min_sentences", 3)))

  register("gopher_quality", p => new GopherQualityRefiner(
    textCol = p.str("text_field", "text"),
    minWords = p.long("min_words", 50L),
    maxWords = p.long("max_words", 100000L),
    minStopwords = p.int("min_stopwords", 2)))

  register("gopher_quality_filter", p => new GopherQualityFilter(
    textCol = p.str("text_field", "text"),
    minWords = p.long("min_words", 50L),
    maxWords = p.long("max_words", 100000L),
    minStopwords = p.int("min_stopwords", 2)))

  register("stratified_sample", p => new StratifiedSampleFilter(
    k = p.int("k", 1000),
    stratumCol = p.str("stratum_field", "source"),
    idCol = p.str("id_field", "id"),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("token_budget_sample", p => new TokenBudgetSampleFilter(
    budgets = p.longMap("budgets"),
    defaultBudget = p.long("default_budget", Long.MaxValue),
    sourceCol = p.str("source_field", "source"),
    idCol = p.str("id_field", "id"),
    textCol = p.str("text_field", "text"),
    tokenCol = p.str("token_field"),
    numBuckets = p.int("num_buckets", 256),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("temperature_sample", p => new TemperatureSampleFilter(
    alpha = p.double("alpha", 0.5),
    sourceCol = p.str("source_field", "source"),
    idCol = p.str("id_field", "id"),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("holdout_split", p => new HoldoutSplitRefiner(
    valFraction = p.double("val_fraction", 0.01),
    idCol = p.str("id_field", "id"),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", ""),
    outputCol = p.str("output_field", "split")))

  register("length_percentile_clip", p => new LengthPercentileClipFilter(
    pLow = p.double("p_low", 0.05),
    pHigh = p.double("p_high", 0.95),
    textCol = p.str("text_field", "text"),
    exact = p.bool("exact", true)))

  register("hashed_doc_embedding", p => new graft.operators.vector.HashedDocEmbeddingRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    dims = p.int("dims", 16),
    outputCol = p.str("embedding_field", "embedding"),
    hashName = p.str("hash_algorithm", "xxhash64")))

  register("embedding_simhash_deduplicator", p => new graft.operators.vector.EmbeddingSimHash(
    vecCol = p.str("embedding_field", "embedding"),
    idCol = p.str("id_field", "id"),
    orderCol = p.str("order_field").getOrElse(p.str("id_field", "id")),
    bits = p.int("bits", 16),
    dims = p.int("dims", 64),
    seed = p.long("seed", 7L)))

  register("embedding_quantize", p => new graft.operators.vector.EmbeddingQuantizer(
    vecCol = p.str("embedding_field", "embedding"),
    codesCol = p.str("codes_field", "codes"),
    scaleCol = p.str("scale_field", "scale")))

  register("matryoshka_truncate", p => new graft.operators.vector.MatryoshkaTruncate(
    vecCol = p.str("embedding_field", "embedding"),
    dims = p.int("dims", 8),
    outputCol = p.str("output_field", "embedding_truncated")))

  register("soft_exact_dedup", p => new SoftExactDedup(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    hashAlgorithm = p.str("hash_algorithm", "xxhash64"),
    normalizeWhitespace = p.bool("normalize_whitespace", true),
    lowercase = p.bool("lowercase", true),
    weightCol = p.str("weight_field", "dedup_weight"),
    countCol = p.str("count_field", "dup_count")))

  register("incremental_exact_dedup", p => new IncrementalExactDedup(
    priorPath = p.str("prior_path"),
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    hashAlgorithm = p.str("hash_algorithm", "xxhash64"),
    normalizeWhitespace = p.bool("normalize_whitespace", true),
    lowercase = p.bool("lowercase", true),
    useBloom = p.str("mode", "exact") == "bloom",
    bloomExpectedItems = p.long("bloom_expected_items"),
    bloomFpp = p.double("bloom_fpp", 1e-6)))

  register("incremental_minhash_dedup", p => new IncrementalMinHashDedup(
    priorPath = Some(p.str("prior_path").getOrElse(
      throw new IllegalArgumentException("incremental_minhash_dedup requires prior_path"))),
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    shingleWidth = p.int("shingle_width", 3),
    numHashes = p.int("num_hashes", 16),
    numBands = p.int("num_bands", 4),
    threshold = p.double("threshold", 0.8),
    // prior-side hot-bucket guard (r17): the accumulated prior's
    // duplicate mass is where a (band, bucket) goes hot at scale
    priorMaxBucketSize = p.long("prior_max_bucket_size").map(_.toInt),
    signatureScheme = p.str("signature_scheme", "kmin")))

  register("quality_classifier", p => new graft.operators.ml.QualityClassifierRefiner(
    textCol = p.str("text_field", "text"),
    outputCol = p.str("output_field", "clf_score"),
    buckets = p.int("buckets", 1 << 12),
    bias = p.double("bias", 0.0),
    bigrams = p.bool("bigrams", true),
    weights = p.str("weights_file")
      .map(graft.ml.ClassifierWeights.fromFile)
      .getOrElse(graft.ml.ClassifierWeights.deterministic(p.int("buckets", 1 << 12)))))

  register("quality_classifier_filter", p => new graft.operators.ml.QualityClassifierFilter(
    textCol = p.str("text_field", "text"),
    threshold = p.double("threshold", 0.5),
    buckets = p.int("buckets", 1 << 12),
    bias = p.double("bias", 0.0),
    bigrams = p.bool("bigrams", true),
    weights = p.str("weights_file")
      .map(graft.ml.ClassifierWeights.fromFile)
      .getOrElse(graft.ml.ClassifierWeights.deterministic(p.int("buckets", 1 << 12)))))

  register("logreg_quality", p => new graft.operators.ml.LogregQualityRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    labelCol = p.str("label_field").getOrElse(
      throw new IllegalArgumentException("logreg_quality requires label_field")),
    labelValue = p.str("label_value"),
    outputCol = p.str("output_field", "logreg_score"),
    lr = p.double("learning_rate", 1.0),
    iters = p.int("iterations", 8),
    fitSampleMod = p.long("fit_sample_mod").map(_.toInt),
    posWeight = p.double("pos_weight", 1.0),
    l2 = p.double("l2", 0.0)))

  register("logreg_quality_filter", p => new graft.operators.ml.LogregQualityFilter(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    labelCol = p.str("label_field").getOrElse(
      throw new IllegalArgumentException("logreg_quality_filter requires label_field")),
    labelValue = p.str("label_value"),
    threshold = p.double("threshold", 0.5),
    lr = p.double("learning_rate", 1.0),
    iters = p.int("iterations", 8),
    fitSampleMod = p.long("fit_sample_mod").map(_.toInt),
    posWeight = p.double("pos_weight", 1.0),
    l2 = p.double("l2", 0.0)))

  register("centroid_label", p => new graft.operators.ml.CentroidLabelRefiner(
    vecCol = p.str("embedding_field", "embedding"),
    idCol = p.str("id_field", "id"),
    labelCol = p.str("label_field").getOrElse(
      throw new IllegalArgumentException("centroid_label requires label_field")),
    outputCol = p.str("output_field", "pred_label"),
    dims = p.long("dims").map(_.toInt).getOrElse(
      throw new IllegalArgumentException("centroid_label requires dims"))))

  register("nb_quality", p => new graft.operators.ml.NbQualityRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    labelCol = p.str("label_field").getOrElse(
      throw new IllegalArgumentException("nb_quality requires label_field")),
    labelValue = p.str("label_value"),
    outputCol = p.str("output_field", "nb_score"),
    buckets = p.int("buckets", 1 << 12),
    alpha = p.double("alpha", 1.0)))

  register("dsir_score", p => graft.operators.ml.DsirScoreRefiner.fromPath(
    path = p.str("target_path").getOrElse(
      throw new IllegalArgumentException("dsir_score requires target_path")),
    format = p.str("target_format", "parquet"),
    textCol = p.str("text_field", "text"),
    outputCol = p.str("output_field", "dsir_logw"),
    buckets = p.int("buckets", 1 << 12),
    bigrams = p.bool("bigrams", true),
    alpha = p.double("alpha", 1.0),
    targetTextCol = p.str("target_text_field", "text")))

  register("epoch_upsample", p => new graft.operators.text.EpochUpsample(
    epochs = p.doubleMap("epochs"),
    defaultEpochs = p.double("default_epochs", 1.0),
    sourceCol = p.str("source_field", "source"),
    idCol = p.str("id_field", "id"),
    copyCol = p.str("copy_field", "epoch_copy")))

  register("source_weighted_sample", p => new SourceWeightedSampleFilter(
    weights = p.doubleMap("weights"),
    defaultFraction = p.double("default_fraction", 1.0),
    sourceCol = p.str("source_field", "source"),
    idCol = p.str("id_field", "id"),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("sequence_pack", p => new SequencePackRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    maxTokens = p.long("max_tokens", 2048L),
    numShards = p.int("num_shards", 16),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("sequence_pack_materialize", p => new SequencePackMaterializer(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    maxTokens = p.long("max_tokens", 2048L),
    numShards = p.int("num_shards", 16),
    hashName = p.str("hash_algorithm", "xxhash64"),
    salt = p.str("salt", "")))

  register("ccnet_bucket", p => new CcnetBucketRefiner(
    scoreCol = p.str("score_field", "lm_perplexity"),
    bucketCol = p.str("bucket_field", "ccnet_bucket"),
    headFraction = p.double("head_fraction", 1.0 / 3.0),
    middleFraction = p.double("middle_fraction", 2.0 / 3.0),
    exact = p.bool("exact", true)))

  register("ngram_lm_score", p => new NgramLmScoreRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    ngramWidth = p.int("ngram_width", 1),
    alpha = p.double("alpha", 1.0),
    hashName = p.str("hash_algorithm", "xxhash64")))

  register("bigram_lm_score_frozen", p =>
    graft.operators.text.BigramLmFrozenScoreRefiner.fromPath(
      path = p.str("train_path").getOrElse(throw new IllegalArgumentException(
        "bigram_lm_score_frozen requires train_path (the reference corpus)")),
      format = p.str("train_format", "parquet"),
      textCol = p.str("text_field", "text"),
      idCol = p.str("id_field", "id"),
      outCol = p.str("output_field", "bigram_lm_bits"),
      countCol = p.str("count_field", "bigram_lm_n")))

  // smoothing: "addone" (default), "kn" (interpolated Kneser–Ney), or
  // "mkn" (modified KN — three count-dependent discounts, the KenLM
  // default recipe)
  register("bigram_lm_score", p => new graft.operators.text.BigramLmScoreRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    outCol = p.str("output_field", "bigram_lm_bits"),
    countCol = p.str("count_field", "bigram_lm_n"),
    smoothing = p.str("smoothing", "addone")))

  register("boilerplate_ngrams", p => OperatorRegistry.wrap(
    "boilerplate_ngrams",
    new graft.operators.text.BoilerplateNgrams(
      textCol = p.str("text_field", "text"),
      idCol = p.str("id_field", "id"),
      ngramWidth = p.int("ngram_width", 8),
      topK = p.int("top_k", 20),
      minDocs = p.long("min_docs", 2L))(_)))

  register("token_budget_waterfill", p => OperatorRegistry.wrap(
    "token_budget_waterfill",
    new graft.operators.text.BudgetWaterfill(
      textCol = p.str("text_field", "text"),
      groupCol = p.str("group_field", "source"),
      budgetNum = p.long("budget_num").getOrElse(sys.error(
        "token_budget_waterfill needs budget_num/budget_den (budget = corpus total * num/den)")),
      budgetDen = p.long("budget_den", 1L))(_)))

  register("conversation_assembly", p => new graft.operators.text.ConversationAssembly(
    keyCol = p.str("key_field", "user_id"),
    tsCol = p.str("ts_field", "ts"),
    tieCol = p.str("tiebreak_field", "event_id"),
    roleCol = p.str("role_field", "event_type"),
    contentCol = p.str("content_field", "props"),
    maxTurns = p.int("max_turns", 8),
    keep = p.str("keep", "first")))

  register("domain_quality_shrunk", p => OperatorRegistry.wrap(
    "domain_quality_shrunk",
    new graft.operators.text.DomainQualityShrunk(
      domainCol = p.str("domain_field", "source"),
      textCol = p.str("text_field", "text"),
      pseudoCount = p.long("pseudo_count", 25L))(_)))

  register("conversation_quality", p => new graft.operators.text.ConversationQuality(
    keyCol = p.str("key_field", "user_id"),
    tsCol = p.str("ts_field", "ts"),
    tieCol = p.str("tiebreak_field", "event_id"),
    roleCol = p.str("role_field", "event_type"),
    contentCol = p.str("content_field", "props")))

  register("dup_ngram", p => new DupNgramRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    ngramWidth = p.int("ngram_width", 8),
    minCount = p.int("min_count", 2),
    hashName = p.str("hash_algorithm", "xxhash64"),
    // true = Lee et al. "all but one": the corpus-first instance of
    // each duplicated gram survives (one canonical copy kept)
    keepFirst = p.bool("keep_first", false)))

  register("cross_modal_alignment", p => new graft.operators.vector.CrossModalAlignmentRefiner(
    embACol = p.str("embedding_a_field", "image_embedding"),
    embBCol = p.str("embedding_b_field", "text_embedding"),
    outCol = p.str("output_field", "cross_modal_cosine")))

  register("image_aesthetic_quality", p => new AestheticScoreRefiner(
    embCol = p.str("embedding_field", "image_clip_emb"),
    mlp = graft.ml.Mlp.seeded(
      Seq(p.int("input_dim", 768), p.int("hidden_dim", 16), 1),
      seed = p.long("seed", 11L),
      hiddenActivation = "identity", lastActivation = "identity")))

  register("image_aigc_detector", p => new AigcDetectorRefiner(
    embCol = p.str("embedding_field", "image_siglip_emb"),
    mlp = graft.ml.Mlp.seeded(
      Seq(p.int("input_dim", 1152), p.int("hidden_dim", 16), 1),
      seed = p.long("seed", 23L), lastActivation = "sigmoid"),
    threshold = p.double("threshold", 0.5)))

  /** Encoder selection for the embedding refiners: `model_path` (a
    * driver-local .onnx file) or `model_resource` (a classpath resource,
    * e.g. "/graft/tiny_encoder.onnx") builds the real ONNX path —
    * onnxruntime when its jar is on the classpath, the pure-Scala
    * interpreter otherwise (graft.ml.ImageEncoders.onnx); with neither
    * param, the deterministic stub stands in. The model bytes are read
    * once on the driver and ride the task closure.
    */
  private def imageEncoder(p: Params, defaultModel: String, defaultDim: Int): ImageEncoder = {
    val side = p.int("input_side", 16)
    def onnx(bytes: Array[Byte]): ImageEncoder = graft.ml.ImageEncoders.onnx(
      p.str("model", defaultModel), bytes, side, p.int("dim", defaultDim))
    (p.str("model_path"), p.str("model_resource")) match {
      case (Some(path), _) =>
        onnx(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
      case (None, Some(res)) =>
        val in = getClass.getResourceAsStream(res)
        require(in != null, s"model_resource '$res' not found on the classpath")
        onnx(try in.readAllBytes() finally in.close())
      case (None, None) =>
        new HashProjectionEncoder(p.str("model", defaultModel), p.int("dim", defaultDim))
    }
  }

  register("image_clip_embedding", p => new ImageEmbeddingRefiner(
    imageEncoder(p, "vit_l14_stub", 768),
    imageCol = p.str("image_field", "image"), family = "clip",
    batchSize = p.int("batch_size", 32),
    l2Normalize = p.bool("l2_normalize", true)))

  register("image_siglip_embedding", p => new ImageEmbeddingRefiner(
    imageEncoder(p, "so400m_stub", 1152),
    imageCol = p.str("image_field", "image"), family = "siglip",
    batchSize = p.int("batch_size", 32),
    l2Normalize = p.bool("l2_normalize", true)))

  register("image_visual_degradations", p => new VisualDegradationsRefiner(
    imageCol = p.str("image_field", "image"), model = None))

  register("image_resize", p => new ImageResizeRefiner(
    imageCol = p.str("image_field", "image"),
    width = p.int("width", 224), height = p.int("height", 224),
    outputCol = p.str("output_field", "image_resized")))

  register("audio_metadata", p => new graft.operators.media.AudioMetadataRefiner(
    audioCol = p.str("audio_field", "audio")))

  register("audio_quality", p => new graft.operators.media.AudioQualityRefiner(
    audioCol = p.str("audio_field", "audio")))

  register("video_metadata", p => new graft.operators.media.VideoMetadataRefiner(
    videoCol = p.str("video_field", "video")))

  register("pca_projection", p => new graft.operators.vector.PcaProjection(
    vecCol = p.str("embedding_field", "embedding"),
    dims = p.int("dims", 64),
    q = p.int("components", 8),
    outputCol = p.str("output_field", "embedding_pca"),
    // whiten: true scales each component by 1/sqrt(λ) — unit-variance
    // decorrelated output (the preprocessing semantic-dedup recipes
    // assume before cosine thresholds / k-means)
    whiten = p.bool("whiten", false)))

  register("random_projection", p => new graft.operators.vector.RandomProjection(
    vecCol = p.str("embedding_field", "embedding"),
    inDims = p.int("in_dims", 16),
    outDims = p.int("out_dims", 8),
    seed = p.long("seed", 11L),
    outputCol = p.str("output_field", "embedding_projected")))

  register("intra_doc_line_dedup", p => new IntraDocLineDedup(
    textCol = p.str("text_field", "text")))

  register("boilerplate_line_removal", p => new BoilerplateLineRemoval(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    maxDocFreq = p.int("max_doc_freq", 5),
    minLineLength = p.int("min_line_length", 1),
    hashName = p.str("hash_algorithm", "portable")))

  register("compression_ratio", p => new CompressionRatioRefiner(
    textCol = p.str("text_field", "text"),
    outputCol = p.str("output_field", "compression_ratio")))

  register("compression_ratio_filter", p => new CompressionRatioFilter(
    textCol = p.str("text_field", "text"),
    minRatio = p.double("min_ratio", 0.25),
    maxRatio = p.double("max_ratio", 0.95)))

  register("bm25_scorer", p => new Bm25ScoreRefiner(
    queryTerms = p.strList("query_terms"),
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    k1 = p.double("k1", 1.2),
    b = p.double("b", 0.75)))

  register("ngram_novelty", p => new NgramNoveltyRefiner(
    textCol = p.str("text_field", "text"),
    idCol = p.str("id_field", "id"),
    shingleWidth = p.int("shingle_width", 3)))

  register("embedding_outlier_filter", p => new graft.operators.vector.EmbeddingOutlierFilter(
    vecCol = p.str("vector_field", "embedding"),
    idCol = p.str("id_field", "id"),
    k = p.int("num_clusters", 8),
    ratioNum = p.long("ratio_num", 11L),
    ratioDen = p.long("ratio_den", 10L)))
}
