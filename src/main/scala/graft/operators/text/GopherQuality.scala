package graft.operators.text

import graft.core.{Operator, RowFilter}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Gopher document-quality rule set (Rae et al. 2021, appendix A1.1)
  * — the standard web-scale heuristic battery applied between extraction
  * and dedup, beyond the reference's own operator surface like the rest
  * of the training-data family:
  *
  *  1. word count within [minWords, maxWords] (paper: 50..100,000),
  *  2. mean word length within [3, 10],
  *  3. hash/ellipsis symbol-to-word ratio <= 0.1,
  *  4. <= 90% of lines starting with a bullet mark,
  *  5. <= 30% of lines ending with an ellipsis,
  *  6. >= 80% of words containing at least one alphabetic character,
  *  7. >= 2 distinct English stop words present.
  *
  * The columns here are pure Catalyst regex/array algebra over one
  * staged token split, each signal with an exact DuckDB twin so the
  * operator is oracle-gated. They are the reference semantics: the
  * operators evaluate the fused [[graft.plans.kernels.GopherSignals]]
  * kernel, whose hand scans equal these regexes (its scaladoc states
  * each rule). Ratios divide exact integers in double, so the decisions
  * are bit-identical across engines.
  */
object GopherQuality {

  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val BulletRe = "^\\s*[•\\-\\*‣▪]"
  private val EllipsisRe = "(\\.{3}|…)\\s*$"

  def wordCount(toks: Column): Column = size(toks).cast("long")
  def wordCountSql(toksCol: String): String = s"CAST(len($toksCol) AS BIGINT)"

  /** Hash marks + ellipsis runs per word (0 for empty docs). */
  def symbolRatio(text: Column, toks: Column): Column = {
    val t = coalesce(text, lit(""))
    val syms = regexp_count(t, lit("#")) + regexp_count(t, lit("\\.{3}|…"))
    when(size(toks) === 0, lit(0.0))
      .otherwise(syms.cast("double") / size(toks).cast("double"))
  }

  def symbolRatioSql(textExpr: String, toksCol: String): String = {
    val t = s"coalesce($textExpr, '')"
    val syms = s"(len(regexp_extract_all($t, '#')) + " +
      s"len(regexp_extract_all($t, '\\.{3}|…')))"
    s"(CASE WHEN len($toksCol) = 0 THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE CAST($syms AS DOUBLE) / CAST(len($toksCol) AS DOUBLE) END)"
  }

  /** Fraction of newline-split lines matching `re` (0 when no lines). */
  private def lineFrac(text: Column, re: String): Column = {
    val lines = split(coalesce(text, lit("")), "\n", -1)
    val hits = size(filter(lines, l => l.rlike(re)))
    when(size(lines) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(lines).cast("double"))
  }

  private def lineFracSql(textExpr: String, re: String): String = {
    val lines = s"string_split(coalesce($textExpr, ''), chr(10))"
    s"(CASE WHEN len($lines) = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST(len(list_filter($lines, l -> regexp_matches(l, '$re'))) AS DOUBLE) " +
      s"/ CAST(len($lines) AS DOUBLE) END)"
  }

  def bulletLineFrac(text: Column): Column = lineFrac(text, BulletRe)
  def bulletLineFracSql(t: String): String = lineFracSql(t, BulletRe)

  def ellipsisLineFrac(text: Column): Column = lineFrac(text, EllipsisRe)
  def ellipsisLineFracSql(t: String): String = lineFracSql(t, EllipsisRe)

  /** Fraction of tokens containing an alphabetic char (tokens are
    * normalized lowercase, so `[a-z]` is the full alphabetic class).
    */
  def alphaWordFrac(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.rlike("[a-z]"))).cast("double") /
        size(toks).cast("double"))

  def alphaWordFracSql(toksCol: String): String =
    s"(CASE WHEN len($toksCol) = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST(len(list_filter($toksCol, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) " +
      s"/ CAST(len($toksCol) AS DOUBLE) END)"

  /** Number of DISTINCT stop words present in the token list. */
  def stopwordHits(toks: Column): Column =
    StopWords.map(w => when(array_contains(toks, w), 1L).otherwise(0L))
      .reduce(_ + _)

  def stopwordHitsSql(toksCol: String): String =
    StopWords.map(w =>
      s"(CASE WHEN list_contains($toksCol, '$w') THEN 1 ELSE 0 END)")
      .mkString("CAST((", " + ", ") AS BIGINT)")

  def keep(
      text: Column, toks: Column,
      minWords: Long, maxWords: Long, minStopwords: Int): Column =
    wordCount(toks).between(minWords, maxWords) &&
      TextAnalysis.meanTokenLength(toks).between(3.0, 10.0) &&
      symbolRatio(text, toks) <= 0.1 &&
      bulletLineFrac(text) <= 0.9 &&
      ellipsisLineFrac(text) <= 0.3 &&
      alphaWordFrac(toks) >= 0.8 &&
      stopwordHits(toks) >= minStopwords

  def keepSql(
      textExpr: String, toksCol: String,
      minWords: Long, maxWords: Long, minStopwords: Int): String =
    s"(${wordCountSql(toksCol)} BETWEEN $minWords AND $maxWords AND " +
      s"${TextAnalysis.meanTokenLengthSql(toksCol)} BETWEEN 3.0 AND 10.0 AND " +
      s"${symbolRatioSql(textExpr, toksCol)} <= 0.1 AND " +
      s"${bulletLineFracSql(textExpr)} <= 0.9 AND " +
      s"${ellipsisLineFracSql(textExpr)} <= 0.3 AND " +
      s"${alphaWordFracSql(toksCol)} >= 0.8 AND " +
      s"${stopwordHitsSql(toksCol)} >= $minStopwords)"
}

/** Adds every Gopher signal plus the page verdict from ONE fused kernel
  * pass ([[graft.plans.kernels.GopherSignals]] — tokenize once, every
  * signal off that walk; the struct is staged as a scratch column so
  * CollapseProject keeps it single-evaluation, same idiom as
  * [[TextRepetitionRefiner]]). The declarative columns in
  * [[GopherQuality]] remain the documented semantics + oracle twins;
  * GopherSpec and the `gopher_quality` gate pin the kernel to them.
  */
final class GopherQualityRefiner(
    textCol: String = "text",
    minWords: Long = 50,
    maxWords: Long = 100000,
    minStopwords: Int = 2) extends Operator {

  val name = "gopher_quality"

  def apply(df: DataFrame): DataFrame =
    df.withColumn("_gq", graft.plans.kernels.gopher_signals(
        col(textCol), GopherQuality.StopWords, minWords, maxWords, minStopwords))
      .withColumn("gopher_word_count", col("_gq.word_count"))
      .withColumn("gopher_mean_word_len", col("_gq.mean_word_len"))
      .withColumn("gopher_symbol_ratio", col("_gq.symbol_ratio"))
      .withColumn("gopher_bullet_line_frac", col("_gq.bullet_line_frac"))
      .withColumn("gopher_ellipsis_line_frac", col("_gq.ellipsis_line_frac"))
      .withColumn("gopher_alpha_word_frac", col("_gq.alpha_word_frac"))
      .withColumn("gopher_stopword_hits", col("_gq.stopword_hits"))
      .withColumn("gopher_keep", col("_gq.keep"))
      .drop("_gq")
}

/** Drops pages failing any Gopher rule — the verdict field of one fused
  * kernel evaluation per row (the declarative predicate re-evaluated the
  * tokenize tree per signal: ~7× per row, interpreted).
  */
final class GopherQualityFilter(
    textCol: String = "text",
    minWords: Long = 50,
    maxWords: Long = 100000,
    minStopwords: Int = 2) extends RowFilter {

  val name = "gopher_quality_filter"

  /** The page verdict as a df-free Column (the predicate only reads
    * `textCol`) — for composition into other operators, e.g. rater
    * agreement.
    */
  def keepCol: Column =
    graft.plans.kernels.gopher_signals(
      col(textCol), GopherQuality.StopWords, minWords, maxWords, minStopwords)
      .getField("keep")

  def keep(df: DataFrame): Column = keepCol
}
