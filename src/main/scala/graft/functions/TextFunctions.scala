package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization / tokenization primitives shared by filters, dedup
  * and text-analysis refiners. All pure Catalyst expressions (codegen'd),
  * with a DuckDB-SQL twin for each so every operator built on them is
  * oracle-checkable (SURVEY.md §5).
  */
object TextFunctions {

  /** SQL string-literal escape for user-supplied values interpolated into
    * DuckDB twins (single-quote doubling) — every twin that splices a
    * runtime string through `'...'` must route it here, or a value with a
    * quote breaks the oracle query.
    */
  def sqlLit(s: String): String = s.replace("'", "''")

  /** Collapse whitespace runs to one space, trim, lowercase — exactly the
    * reference's `" ".join(text.split())` + `.lower()`
    * (reference: operators/dedup/text_exact_dedup.py:66-72).
    */
  def normalizeText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** DuckDB twin of [[normalizeText]] (needs the 'g' flag — DuckDB's
    * regexp_replace is first-match-only by default, Spark's is global). */
  def normalizeTextSql(expr: String): String =
    s"lower(trim(regexp_replace($expr, '\\s+', ' ', 'g')))"

  /** Whitespace tokens of the normalized text; empty text => empty array. */
  def tokensOf(c: Column): Column = {
    val n = normalizeText(c)
    when(n.isNull || n === "", array().cast("array<string>")).otherwise(split(n, " "))
  }

  def tokensOfSql(expr: String): String = {
    val n = normalizeTextSql(expr)
    s"(CASE WHEN $n IS NULL OR $n = '' THEN [] ELSE string_split($n, ' ') END)"
  }

  /** Token count as long (DuckDB len() is BIGINT). */
  def tokenCount(c: Column): Column = size(tokensOf(c)).cast("long")

  def tokenCountSql(expr: String): String = s"CAST(len(${tokensOfSql(expr)}) AS BIGINT)"

  /** Word w-shingles over a token-array column: shingle i = tokens[i..i+w-1]
    * joined by a single space. Fewer than w tokens => empty array.
    * Used by MinHash / Jaccard near-dup (SURVEY.md training-data ops).
    * Pass an already-materialized token column (stage it with [[tokensOf]])
    * so the token split isn't recomputed per shingle.
    */
  def shingles(toks: Column, w: Int): Column = {
    val n = size(toks)
    when(n < w, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), n - w),
        i => concat_ws(" ", (0 until w).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** DuckDB twin of [[shingles]]; `toksCol` is a list-typed column name. */
  def shinglesSql(toksCol: String, w: Int): String = {
    val parts = (0 until w).map(j => s"$toksCol[i + ${j + 1}]").mkString(" || ' ' || ")
    s"(CASE WHEN len($toksCol) < $w THEN [] ELSE " +
      s"list_transform(range(0, len($toksCol) - $w + 1), i -> $parts) END)"
  }
}
