package graft.operators.ml

import graft.core.{Operator, RowFilter}
import graft.functions.TextFunctions
import graft.ml.ClassifierWeights
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — the learned-classifier stage of modern
  * curation pipelines (CCNet's fastText LM filter, DCLM's fastText
  * quality classifier, fineweb-edu's edu-score): a hashed bag-of-features
  * linear model (Joulin et al. 2017) over word unigrams + bigrams,
  * evaluated as one JVM pass per row by
  * [[graft.plans.kernels.LinearClassifierScore]].
  *
  * The reference has no learned-filter operator (its quality gates are
  * heuristic); this is a beyond-reference training-data stage. Weights
  * come from an offline-trained export ([[ClassifierWeights.fromFile]],
  * little-endian float32); the oracle gates use
  * [[ClassifierWeights.deterministic]], whose weights DuckDB recomputes
  * in closed form.
  *
  * Scale shape: stateless per-row map — no shuffle, no state; the weight
  * table is a plain array inside the plan, shipped with each task. At
  * 100 TB this runs at scan speed behind whatever filter chain precedes
  * it.
  */
object QualityClassifier {
  def score(textCol: String, bias: Double, buckets: Int, bigrams: Boolean,
      weights: ClassifierWeights): Column =
    graft.plans.kernels.linear_classifier_score(
      TextFunctions.tokensOf(col(textCol)), bias, buckets, bigrams, weights)
}

/** Adds `outputCol` = classifier probability in (0, 1); a no-feature
  * document scores sigmoid(bias). */
final class QualityClassifierRefiner(
    textCol: String = "text",
    outputCol: String = "clf_score",
    buckets: Int = 1 << 12,
    bias: Double = 0.0,
    bigrams: Boolean = true,
    weights: ClassifierWeights) extends Operator {

  require(buckets > 0, s"buckets $buckets must be positive")

  val name = "quality_classifier"

  def apply(df: DataFrame): DataFrame =
    df.withColumn(outputCol,
      QualityClassifier.score(textCol, bias, buckets, bigrams, weights))
}

/** Keeps rows whose classifier probability ≥ `threshold`. */
final class QualityClassifierFilter(
    textCol: String = "text",
    threshold: Double = 0.5,
    buckets: Int = 1 << 12,
    bias: Double = 0.0,
    bigrams: Boolean = true,
    weights: ClassifierWeights) extends RowFilter {

  require(buckets > 0, s"buckets $buckets must be positive")

  val name = "quality_classifier_filter"

  def keep(df: DataFrame): Column =
    QualityClassifier.score(textCol, bias, buckets, bigrams, weights) >= threshold
}
