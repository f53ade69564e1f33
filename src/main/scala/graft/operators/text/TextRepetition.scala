package graft.operators.text

import graft.core.{Operator, Refiner}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gopher-style repetition signals — the standard cheap detectors for
  * degenerate/boilerplate documents in web-scale training data (beyond
  * the reference's operator set, like the rest of the training-data
  * family): the fraction of repeated tokens and of repeated word
  * 2-grams. Pure Catalyst array algebra over the staged token column
  * (codegen'd, zero shuffle), with an exact DuckDB list-function twin.
  */
object TextRepetition {

  /** 1 − distinct/total over a token array (0 for empty). */
  def dupTokenRatio(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))

  /** 1 − distinct/total over an ALREADY-STAGED 2-gram array column
    * (0 when empty). The gram array must be staged in its own
    * projection (`TextFunctions.shingles(toks, 2)`): the expression
    * references it three times, and Catalyst does not CSE a
    * lambda-bearing subexpression — inlining the shingle transform here
    * re-built every doc's gram array 3× (measured 1.58 s → 0.97 s warm
    * at sf0.1).
    */
  def dup2gramRatioStaged(grams: Column): Column =
    when(size(grams) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))

  def dupTokenRatioSql(toksCol: String): String =
    s"(CASE WHEN len($toksCol) = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST(1.0 AS DOUBLE) - CAST(len(list_distinct($toksCol)) AS DOUBLE) / CAST(len($toksCol) AS DOUBLE) END)"

  def dup2gramRatioSql(toksCol: String): String = {
    val grams = TextFunctions.shinglesSql(toksCol, 2)
    s"(CASE WHEN len($grams) = 0 THEN CAST(0.0 AS DOUBLE) ELSE " +
      s"CAST(1.0 AS DOUBLE) - CAST(len(list_distinct($grams)) AS DOUBLE) / CAST(len($grams) AS DOUBLE) END)"
  }
}

/** Adds `text_dup_token_ratio` and `text_dup_2gram_ratio` from one
  * staged tokenization pass.
  */
final class TextRepetitionRefiner(textCol: String = "text") extends Operator {
  val name = "text_repetition"
  def apply(df: DataFrame): DataFrame = {
    val d = df.withColumn("_rep_toks", TextFunctions.tokensOf(col(textCol)))
      .withColumn("_rep_grams", TextFunctions.shingles(col("_rep_toks"), 2))
    d.withColumn("text_dup_token_ratio", TextRepetition.dupTokenRatio(col("_rep_toks")))
      .withColumn("text_dup_2gram_ratio",
        TextRepetition.dup2gramRatioStaged(col("_rep_grams")))
      .drop("_rep_toks", "_rep_grams")
  }
}

/** The FULL Gopher within-document repetition battery (Rae et al. 2021
  * Table A1), complementing [[TextRepetitionRefiner]]'s token ratios:
  * duplicate line / paragraph fractions (by unit count and by character
  * mass) and the character fraction covered by the most frequent word
  * n-gram for n = 2, 3, 4 — the signals Gopher thresholds to drop
  * machine-generated/boilerplate pages. One fused kernel pass per row
  * ([[graft.plans.kernels.RepetitionSignals]]: character counts in code
  * points, top-gram ties in code-point order, as the DuckDB twin);
  * stateless map, no shuffle, scan speed.
  */
final class GopherRepetitionRefiner(textCol: String = "text") extends Operator {
  val name = "gopher_repetition"
  def apply(df: DataFrame): DataFrame = {
    val d = df.withColumn("_grs", graft.plans.kernels.repetition_signals(col(textCol)))
    Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
      "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
      "top_4gram_char_frac")
      .foldLeft(d) { (acc, c) => acc.withColumn(c, col("_grs")(c)) }
      .drop("_grs")
  }
}

/** Thresholded filter over the repetition battery with Gopher's
  * published cutoffs as defaults (Rae et al. 2021 A1.1: drop when
  * dup line frac > 0.30, dup para frac > 0.30, dup line chars > 0.20,
  * dup para chars > 0.20, top 2/3/4-gram char frac > 0.20/0.18/0.16).
  * One kernel pass; all thresholds are inclusive keeps (`≤`).
  */
final class GopherRepetitionFilter(
    textCol: String = "text",
    maxDupLineFrac: Double = 0.30,
    maxDupParaFrac: Double = 0.30,
    maxDupLineCharFrac: Double = 0.20,
    maxDupParaCharFrac: Double = 0.20,
    maxTop2gramCharFrac: Double = 0.20,
    maxTop3gramCharFrac: Double = 0.18,
    maxTop4gramCharFrac: Double = 0.16) extends graft.core.RowFilter {

  val name = "gopher_repetition_filter"

  // ONE battery evaluation per row: 7 struct-field reads of the signals
  // kernel inside a Filter predicate would re-run the per-row counting
  // pass 7× (FilterExec has no subexpression elimination) — the r10
  // driver bench's gopher_repetition_filter blowup.
  def keep(df: DataFrame): Column =
    graft.plans.kernels.repetition_keep(col(textCol), Seq(
      maxDupLineFrac, maxDupLineCharFrac, maxDupParaFrac,
      maxDupParaCharFrac, maxTop2gramCharFrac, maxTop3gramCharFrac,
      maxTop4gramCharFrac))
}
