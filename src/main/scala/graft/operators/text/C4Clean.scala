package graft.operators.text

import graft.core.RowFilter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C4-style page cleaning (Raffel et al. 2020, §2.2 of the T5 paper) —
  * the classic rule set every web-scale text pipeline applies before
  * dedup, beyond the reference's own operator set like the rest of the
  * training-data family:
  *
  *  - keep only lines that end in a terminal punctuation mark
  *    (`.` `!` `?` or a closing double quote),
  *  - keep only lines with at least `minWordsPerLine` words (paper: 5),
  *  - drop lines containing the word "javascript" (case-insensitive),
  *  - drop the whole page if it contains "lorem ipsum" or a curly
  *    brace `{` (code), or if the CLEANED text has fewer than
  *    `minSentences` sentences (paper: 3).
  *
  * The columns here are pure Catalyst array/regex algebra over the
  * split line list, with an exact DuckDB list-function twin per
  * expression so the operator is oracle-gated. They are the reference
  * semantics: the operators evaluate the fused
  * [[graft.plans.kernels.C4Signals]] kernel, whose hand scans equal
  * these regexes and `lower()` tests (its scaladoc states each rule).
  * The 3-sentence span dedup from the same paper is covered
  * corpus-globally by [[LineDedupRefiner]].
  */
object C4Clean {

  private val TerminalRe = "[.!?\"]\\s*$"

  /** Per-line keep predicate over one line value. */
  def lineKeep(l: Column, minWordsPerLine: Int): Column = {
    val words = size(filter(split(trim(l), " "), w => w =!= ""))
    l.rlike(TerminalRe) && words >= minWordsPerLine &&
      !lower(l).contains("javascript")
  }

  /** Kept lines of a text column (split on newline). Null text is treated
    * as empty — it must flow through deterministically (an empty page has
    * zero kept lines and is rejected by the sentence minimum) rather than
    * poisoning the keep predicate with NULL, which would drop the row from
    * BOTH the passed and rejected outputs.
    */
  def keptLines(text: Column, minWordsPerLine: Int): Column =
    filter(split(coalesce(text, lit("")), "\n", -1), l => lineKeep(l, minWordsPerLine))

  /** DuckDB twin of [[keptLines]] over a text expression (same
    * null-as-empty coalesce as the Spark column).
    */
  def keptLinesSql(textExpr: String, minWordsPerLine: Int): String = {
    val words = "len(list_filter(string_split(trim(l), ' '), w -> w != ''))"
    s"list_filter(string_split(coalesce($textExpr, ''), chr(10)), l -> " +
      s"regexp_matches(l, '[.!?\"]\\s*$$') AND $words >= $minWordsPerLine " +
      s"AND NOT contains(lower(l), 'javascript'))"
  }

  /** Sentence count of a cleaned text value: terminal-mark occurrences. */
  def sentenceCount(clean: Column): Column =
    regexp_count(clean, lit("[.!?]")).cast("long")

  def sentenceCountSql(cleanExpr: String): String =
    s"CAST(len(regexp_extract_all($cleanExpr, '[.!?]')) AS BIGINT)"

  /** Page-level keep given the ORIGINAL text and the staged sentence
    * count of the cleaned text.
    */
  def docKeep(text: Column, sentences: Column, minSentences: Int): Column = {
    val t = coalesce(text, lit(""))
    !lower(t).contains("lorem ipsum") && !t.contains("{") &&
      sentences >= minSentences
  }

  def docKeepSql(textExpr: String, sentencesExpr: String, minSentences: Int): String =
    s"(NOT contains(lower(coalesce($textExpr, '')), 'lorem ipsum') AND " +
      s"NOT contains(coalesce($textExpr, ''), '{') AND $sentencesExpr >= $minSentences)"
}

/** Adds `text_c4_clean` (kept lines rejoined), `c4_lines_kept`,
  * `c4_lines_removed`, `c4_sentences` (over the cleaned text) and
  * `c4_keep` (page-level verdict) from ONE fused kernel pass
  * ([[graft.plans.kernels.C4Signals]]; the struct is staged as a scratch
  * column so CollapseProject keeps it single-evaluation — the
  * declarative per-line filter lambda was interpreted-HOF work the
  * composed curation stack re-paid on every consumer of the alive flag).
  * The [[C4Clean]] column/SQL forms remain the documented semantics +
  * oracle twins; TrainingMixSpec and the `c4_clean` gate pin the kernel
  * to them.
  */
final class C4CleanRefiner(
    textCol: String = "text",
    minWordsPerLine: Int = 5,
    minSentences: Int = 3) extends graft.core.Operator {

  val name = "c4_clean"

  def apply(df: DataFrame): DataFrame =
    df.withColumn("_c4", graft.plans.kernels.c4_signals(
        col(textCol), minWordsPerLine, minSentences))
      .withColumn("text_c4_clean", col("_c4.text_clean"))
      .withColumn("c4_lines_kept", col("_c4.lines_kept"))
      .withColumn("c4_lines_removed", col("_c4.lines_total") - col("_c4.lines_kept"))
      .withColumn("c4_sentences", col("_c4.sentences"))
      .withColumn("c4_keep", col("_c4.keep"))
      .drop("_c4")
}

/** Page-level C4 filter: drops pages the cleaned view rejects (lorem
  * ipsum / code brace / too few surviving sentences) — the verdict field
  * of one fused kernel evaluation per row. Stage the columns with
  * [[C4CleanRefiner]] upstream when the cleaned text should also be kept.
  */
final class C4QualityFilter(
    textCol: String = "text",
    minWordsPerLine: Int = 5,
    minSentences: Int = 3) extends RowFilter {

  val name = "c4_quality_filter"

  /** The page verdict as a df-free Column (the predicate only reads
    * `textCol`) — for composition into other operators.
    */
  def keepCol: Column =
    graft.plans.kernels.c4_signals(col(textCol), minWordsPerLine, minSentences)
      .getField("keep")

  def keep(df: DataFrame): Column = keepCol
}
