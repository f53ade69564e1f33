package graft

import graft.core.{RejectingOperator, Rejection}
import graft.runner.{OperatorRegistry, Params}
import graft.sources.SyntheticImages
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Registry-wide reject sweep: every registered operator that builds a
  * [[RejectingOperator]] from the fixtures runs through `apply` and
  * `rejected` on them, and the two must partition the input — disjoint
  * ids that together are exactly the input ids — with every reject
  * stamped by its operator and carrying the input's columns in input
  * order, then `_rejection_details`. A newly registered rejecting
  * operator fails the classification test until it is swept here or
  * skipped with a reason.
  */
class RejectSweepSpec extends ScopedSuite {
  import TestSpark._

  private val docsPath = s"$sfDir/documents.parquet"

  // every input carries a unique `id` (the factories' default id column)
  private lazy val docs: DataFrame = table("documents")
    .withColumn("id", col("doc_id"))
    .withColumn("url", concat(lit("https://"), col("source"),
      lit(".example.org/page/"), col("doc_id").cast("string")))
  private lazy val vecs: DataFrame = table("embeddings").withColumn("id", col("vec_id"))
  private lazy val images: DataFrame = SyntheticImages.df(spark)
  private def input(key: String): DataFrame = key match {
    case "docs" => docs
    case "vecs" => vecs
    case "images" => images
  }

  private def list(xs: String*): java.util.List[String] = java.util.Arrays.asList(xs: _*)
  private def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.HashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Rejecting operators swept on the fixtures: name → (input, params). */
  private val swept: Map[String, (String, Map[String, Any])] = Map(
    "url_filter" -> ("docs" -> Map("blocked_domains" -> list("src0.example.org"))),
    "wordlist_filter" -> ("docs" -> Map("words" -> list("the", "and"), "max_hit_frac" -> 0.05)),
    "quality_vote_filter" -> ("docs" -> Map("raters" -> list("gopher", "c4"), "min_votes" -> 1L)),
    "text_length_filter" -> ("docs" -> Map("min_length" -> 500L)),
    // the fixture has no duplicate texts; `lang` has five values
    "text_exact_deduplicator" -> ("docs" -> Map("text_field" -> "lang")),
    "minhash_lsh_deduplicator" -> ("docs" -> Map("threshold" -> 0.5)),
    "ngram_jaccard_deduplicator" -> ("docs" -> Map("threshold" -> 0.5)),
    "ngram_containment_deduplicator" -> ("docs" -> Map("threshold" -> 0.5)),
    "simhash_deduplicator" -> ("docs" -> Map.empty[String, Any]),
    "simhash_near_deduplicator" -> ("docs" -> Map.empty[String, Any]),
    "embedding_cosine_deduplicator" -> ("vecs" -> Map("threshold" -> 0.35, "num_buckets" -> 4L)),
    "embedding_simhash_deduplicator" -> ("vecs" -> Map.empty[String, Any]),
    "embedding_outlier_filter" -> ("vecs" -> Map.empty[String, Any]),
    "image_quality_filter" -> ("images" -> Map("min_width" -> 16L, "min_height" -> 16L)),
    "image_phash_deduplicator" -> ("images" -> Map.empty[String, Any]),
    "image_phash_near_deduplicator" -> ("images" -> Map.empty[String, Any]),
    "benchmark_decontamination" -> ("docs" -> Map("benchmark_path" -> docsPath, "ngram_width" -> 8L)),
    "deterministic_sample" -> ("docs" -> Map("fraction" -> 0.5)),
    "gopher_repetition_filter" -> ("docs" -> Map.empty[String, Any]),
    "domain_stats_filter" -> ("docs" -> Map("domain_field" -> "lang", "min_docs" -> 80L)),
    "c4_quality_filter" -> ("docs" -> Map.empty[String, Any]),
    "gopher_quality_filter" -> ("docs" -> Map.empty[String, Any]),
    "stratified_sample" -> ("docs" -> Map("k" -> 10L)),
    "token_budget_sample" -> ("docs" -> Map("default_budget" -> 500L)),
    "temperature_sample" -> ("docs" -> Map("source_field" -> "lang")),
    "length_percentile_clip" -> ("docs" -> Map.empty[String, Any]),
    // the prior is the fixture file itself, which has no `id` column
    "incremental_exact_dedup" -> ("docs" -> Map("prior_path" -> docsPath, "id_field" -> "doc_id")),
    "incremental_minhash_dedup" -> ("docs" -> Map("prior_path" -> docsPath, "id_field" -> "doc_id")),
    "quality_classifier_filter" -> ("docs" -> Map.empty[String, Any]),
    "logreg_quality_filter" -> ("docs" -> Map(
      "label_field" -> "lang", "label_value" -> "en", "threshold" -> 0.4)),
    "source_weighted_sample" -> ("docs" -> Map(
      "weights" -> jmap("src0" -> 0.5), "default_fraction" -> 0.5)),
    "compression_ratio_filter" -> ("docs" -> Map.empty[String, Any]))

  /** Registered names the fixtures cannot build, with the reason. */
  private val skipped: Map[String, String] = Map.empty

  /** Params that let a non-rejecting factory with required keys build,
    * so the classification test can see its class.
    */
  private val buildOnly: Map[String, Map[String, Any]] = Map(
    "logreg_quality" -> Map("label_field" -> "lang"),
    "nb_quality" -> Map("label_field" -> "lang"),
    "centroid_label" -> Map("label_field" -> "label", "dims" -> 64L),
    "dsir_score" -> Map("target_path" -> docsPath),
    "bigram_lm_score_frozen" -> Map("train_path" -> docsPath),
    "bm25_scorer" -> Map("query_terms" -> list("data")),
    "wordlist_tagger" -> Map("words" -> list("the")))

  test("every registered name is swept, skipped with a reason, or builds a non-rejecting operator") {
    val problems = OperatorRegistry.listOperators.filterNot(skipped.contains).flatMap { name =>
      val params = swept.get(name).map(_._2).orElse(buildOnly.get(name)).getOrElse(Map.empty)
      scala.util.Try(OperatorRegistry.create(name, Params(params))) match {
        case scala.util.Success(_: RejectingOperator) if !swept.contains(name) =>
          Some(s"$name: rejecting operator neither swept nor skipped")
        case scala.util.Success(op) if swept.contains(name) && !op.isInstanceOf[RejectingOperator] =>
          Some(s"$name: swept but builds a non-rejecting ${op.getClass.getSimpleName}")
        case scala.util.Success(_) => None
        case scala.util.Failure(e) => Some(s"$name: factory failed on the sweep params: $e")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
    assert((swept.keySet ++ skipped.keySet).subsetOf(OperatorRegistry.listOperators.toSet))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id").cast("long")).collect().map(_.getLong(0)).toSeq.sorted

  swept.keys.toSeq.sorted.foreach { name =>
    test(s"reject sweep: $name partitions its input and stamps its rejects") {
      val (key, params) = swept(name)
      val in = input(key)
      val op = OperatorRegistry.create(name, Params(params)).asInstanceOf[RejectingOperator]
      val rej = op.rejected(in)
      assert(rej.columns.toSeq == in.columns.toSeq :+ Rejection.ColName)
      val kept = ids(op(in))
      val rejected = ids(rej)
      assert(rejected.nonEmpty, "vacuous sweep: the fixture rejects nothing")
      assert(kept.intersect(rejected).isEmpty, "ids both kept and rejected")
      assert((kept ++ rejected).sorted == ids(in), "kept ∪ rejected must be the input ids")
      val stamped = rej.select(col(Rejection.ColName)("operator")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(stamped.subsetOf(Set(op.name)), s"rejects stamped $stamped, want ${op.name}")
    }
  }
}
