package graft.operators.ml

import graft.core.Refiner
import graft.functions.TextFunctions
import graft.operators.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The registry/YAML face of [[LogisticRegression]]: a self-contained
  * trained quality scorer over a raw text column. The reference ships
  * only fixed classifier weights; this is the production loop above
  * them — fit the cheap doc-stat model against a weak label ON the
  * incoming corpus (FastText-distillation style), then score or filter
  * with the trained weights as plain codegen'd literals.
  */
object LogregQuality {

  /** The trained-score projection over a raw text column with the d+1
    * quantized weights inlined as literals — the shared scoring shape
    * of the refiner, the filter, and the frozen streaming scorer.
    */
  def scoreExprWith(textCol: String, w: Array[Double]): Column = {
    val feats = docStatFeatures(textCol)
    require(w.length == feats.size + 1,
      s"logreg_quality: ${feats.size + 1} weights expected, got ${w.length}")
    val z = feats.zipWithIndex.foldLeft(lit(w(0)): Column) { case (acc, (f, j)) =>
      acc + lit(w(j + 1)) * f.expr.cast("double")
    }
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  // ---- frozen snapshots: train offline, score the stream ----

  /** Write trained weights as versioned snapshot `modelDir/v<version>`:
    * a `_BASIS` marker (the feature-basis names) then the
    * one-row-per-slot weights table whose `_SUCCESS` gates adoption —
    * the [[graft.core.Snapshots]] layout and write order.
    */
  def freeze(corpus: DataFrame, weights: Array[Double], textCol: String,
      modelDir: String, version: Long): String = {
    val spark = corpus.sparkSession
    val names = basis(textCol)
    require(weights.length == names.length,
      s"freeze: ${names.length} weights expected, got ${weights.length}")
    val dir = s"$modelDir/v$version"
    graft.core.Snapshots.mark(spark, dir, "_BASIS", names.mkString(","))
    import spark.implicits._
    weights.toSeq.zipWithIndex
      .map { case (w, slot) => (slot, names(slot), w) }
      .toDF("slot", "name", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
    dir
  }

  /** Adopt the highest-versioned COMPLETE snapshot whose basis matches
    * the current feature set: weights/_SUCCESS present AND the `_BASIS`
    * marker equals the expected names (markerless dirs are refused —
    * this surface never shipped without the marker, so there is no
    * back-compat window to honor). Returns the weight vector,
    * slot-ordered.
    */
  def latestFrozen(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, textCol: String): Option[Array[Double]] = {
    val expected = basis(textCol).mkString(",")
    graft.core.Snapshots.latest(spark, modelDir, Seq("weights"), "_BASIS")(
      _.contains(expected)).map { d =>
      spark.read.parquet(s"$d/weights").orderBy("slot")
        .select("w").collect().map(_.getDouble(0))
    }
  }

  // the snapshot's slot names: the bias, then the doc-stat features
  private def basis(textCol: String): Seq[String] =
    "bias" +: docStatFeatures(textCol).map(_.name)

  /** The fixed doc-stat feature basis over a raw text column:
    * token count / distinct-token ratio / mean token length / en
    * stopword ratio. All fixed-shape rational arithmetic over integer
    * counts except the (twin-proven) stopword kernel. SQL twins render
    * against the same raw column, so registry-built operators stay
    * oracle-expressible.
    *
    * The tokenize subtree repeats once per feature in the composed
    * score expression — a FIXED 5-6 copies (bounded, unlike the
    * combinatorial language-ID fold the round-1 trap measured), and at
    * runtime whole-stage codegen's subexpression elimination evaluates
    * the shared normalize+split once per row; gate callers that stage a
    * `toks` column (ClassifierQueries.lrInput) avoid even the tree
    * duplication.
    */
  def docStatFeatures(textCol: String): Seq[LogregFeature] = {
    val toks = TextFunctions.tokensOf(col(textCol))
    val toksSql = TextFunctions.tokensOfSql(textCol)
    val nch = length(coalesce(col(textCol), lit(""))).cast("double")
    val nchSql = s"CAST(len(coalesce($textCol, '')) AS DOUBLE)"
    Seq(
      LogregFeature("tok",
        size(toks).cast("double") / lit(64.0),
        s"CAST(len($toksSql) AS DOUBLE) / 64.0"),
      LogregFeature("uniq",
        size(array_distinct(toks)).cast("double") /
          (size(toks) + 1).cast("double"),
        s"CAST(len(list_distinct($toksSql)) AS DOUBLE) / CAST(len($toksSql) + 1 AS DOUBLE)"),
      LogregFeature("len",
        nch / (lit(8.0) * (size(toks) + 1).cast("double")),
        s"$nchSql / (8.0 * CAST(len($toksSql) + 1 AS DOUBLE))"),
      LogregFeature("ensw",
        TextAnalysis.languageScore(toks, "en"),
        TextAnalysis.languageScoreSql(toksSql, "en")))
  }
}

/** Adds `outputCol` = the TRAINED logistic score of every row. The fit
  * runs once per input frame (single-slot identity cache — the k-means
  * auto-bucket discipline) on the weak label `labelCol [== labelValue]`;
  * scoring is a pure codegen'd projection with the d+1 quantized
  * weights inlined as literals, so the enrich pass fuses into the
  * stage's whole-stage codegen like any other refiner.
  */
final class LogregQualityRefiner(
    textCol: String = "text",
    idCol: String = "id",
    labelCol: String = "label",
    labelValue: Option[String] = None,
    outputCol: String = "logreg_score",
    lr: Double = 1.0,
    iters: Int = 8,
    fitSampleMod: Option[Int] = None,
    posWeight: Double = 1.0,
    l2: Double = 0.0) extends Refiner {

  val name = "logreg_quality"

  private val label: Column =
    labelValue.fold(col(labelCol) === true)(v => col(labelCol) === v)

  private[graft] val trainer = new LogisticRegression(
    LogregQuality.docStatFeatures(textCol), label,
    // single quotes doubled: a label_value like "o'brien" must stay a
    // legal DuckDB string literal in every twin
    labelValue.fold(s"$labelCol = true")(v =>
      s"$labelCol = '${v.replace("'", "''")}'"),
    lr = lr, iters = iters, idCol = idCol, fitSampleMod = fitSampleMod,
    posWeight = posWeight, l2 = l2)

  /** Single-slot fit cache keyed by the frame reference AND the alive
    * flag the fit filters it by: the sequential flows (apply/rejected on
    * one stage frame, every row alive) share one fit, while a
    * disposition `applyGated` fits on the alive rows of its chain frame
    * — mixing the two modes on one frame can never serve weights fitted
    * on the wrong row set.
    */
  @volatile private var cachedFit: (DataFrame, Column, Array[Double]) = null
  /** Test hook: number of fits this instance has run. */
  private[graft] val fitCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private def weightsFor(df: DataFrame, alive: Column): Array[Double] =
    synchronized {
      val c = cachedFit
      if (c != null && (c._1 eq df) && c._2 == alive) c._3
      else {
        fitCount.incrementAndGet()
        val w = trainer.fit(df.filter(alive)).last
        cachedFit = (df, alive, w)
        w
      }
    }

  private def exprWith(w: Array[Double]): Column =
    LogregQuality.scoreExprWith(textCol, w)

  /** The trained score as a plain Column over the raw frame (the
    * filter's `keep` consumes this too — same fit, same expression).
    */
  private[graft] def scoreExpr(df: DataFrame): Column =
    scoreExprAlive(df, lit(true))

  /** Disposition variant: the fit sees ALIVE rows only (a row rejected
    * upstream never reached this operator in the sequential chain, so
    * letting it into the training set would change the model — the
    * alive-only fit discipline); scoring stays a total expression over
    * every row, the chain's alive flag guards consumption.
    */
  private[graft] def scoreExprAlive(df: DataFrame, alive: Column): Column =
    exprWith(weightsFor(df, alive))

  def added(df: DataFrame): Seq[(String, Column)] =
    Seq(outputCol -> scoreExpr(df))

  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    df.withColumn(outputCol, scoreExprAlive(df, alive))
}

/** Keeps rows whose TRAINED score clears `threshold`; the complement
  * routes through the standard rejected-sample capture. Fit shared
  * with [[LogregQualityRefiner]] semantics via the same single-slot
  * cache (apply / rejected / mark on one frame fit once).
  */
final class LogregQualityFilter(
    textCol: String = "text",
    idCol: String = "id",
    labelCol: String = "label",
    labelValue: Option[String] = None,
    val threshold: Double = 0.5,
    lr: Double = 1.0,
    iters: Int = 8,
    fitSampleMod: Option[Int] = None,
    posWeight: Double = 1.0,
    l2: Double = 0.0) extends graft.core.RejectingOperator {

  val name = "logreg_quality_filter"

  private[graft] val refiner = new LogregQualityRefiner(
    textCol, idCol, labelCol, labelValue, "_lgq_score", lr, iters,
    fitSampleMod, posWeight, l2)

  def apply(df: DataFrame): DataFrame =
    df.filter(refiner.scoreExpr(df) >= threshold)

  def mark(df: DataFrame, alive: Column, tag: String): graft.core.Marked = {
    val k = refiner.scoreExprAlive(df, alive) >= threshold
    graft.core.Marked(df, k, graft.core.Rejection.filtered(name))
  }
}
