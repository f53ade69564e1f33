package graft.operators.text

import graft.core.{Marked, RejectingOperator, Rejection}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-relative length clipping: drop documents whose token count
  * falls outside the [pLow, pHigh] corpus percentiles — the
  * "winsorize the length distribution" pass that removes both stub
  * fragments and pathological mega-documents without hand-picking
  * absolute cutoffs per corpus (absolute cutoffs are what
  * [[TextLengthFilter]] does; this adapts to the corpus at hand).
  *
  * Scale shape: the two threshold scalars ride a broadcast single-row
  * cross join (the CcnetBucket stats pattern); the verdict is a pure
  * per-row comparison — document rows never shuffle. `exact = true`
  * uses Spark's exact `percentile` (bit-identical to DuckDB's
  * `quantile_cont`, which the oracle checks); for corpora beyond ~10⁸
  * rows flip to `exact = false` (`percentile_approx`, bounded-memory
  * sketch — CCNet-style tolerance).
  */
final class LengthPercentileClipFilter(
    pLow: Double = 0.05,
    pHigh: Double = 0.95,
    textCol: String = "text",
    exact: Boolean = true) extends RejectingOperator {

  require(pLow >= 0.0 && pLow < pHigh && pHigh <= 1.0,
    s"need 0 <= pLow ($pLow) < pHigh ($pHigh) <= 1")
  val name = "length_percentile_clip"

  private def tokenCount: Column = TextFunctions.tokenCount(col(textCol))

  private def thresholds(corpus: DataFrame): DataFrame = {
    val fn = if (exact) "percentile" else "percentile_approx"
    corpus.select(tokenCount.as("_lc_n"))
      .agg(expr(s"$fn(_lc_n, ${pLow}D)").as("_lc_lo"),
        expr(s"$fn(_lc_n, ${pHigh}D)").as("_lc_hi"))
  }

  private def inBand: Column =
    tokenCount >= col("_lc_lo") && tokenCount <= col("_lc_hi")

  def apply(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(thresholds(df)))
      .filter(inBand).drop("_lc_lo", "_lc_hi")

  /** Disposition mode: percentiles from ALIVE rows only. */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val joined = df.crossJoin(broadcast(thresholds(df.filter(alive))))
    Marked(joined, inBand, Rejection.filtered(name),
      Seq("_lc_lo", "_lc_hi"))
  }

  /** DuckDB twin: CTE `_lc(lo, hi)` over `table`; keep with [[keepSql]].
    * Exact percentile family only.
    */
  def thresholdCteSql(table: String): String = {
    require(exact, "oracle covers the exact percentile family")
    val n = TextFunctions.tokenCountSql(textCol)
    s"""_lc AS (SELECT quantile_cont($n, CAST($pLow AS DOUBLE)) AS lo,
       |  quantile_cont($n, CAST($pHigh AS DOUBLE)) AS hi FROM $table)""".stripMargin
  }

  def keepSql: String = {
    val n = TextFunctions.tokenCountSql(textCol)
    s"($n >= _lc.lo AND $n <= _lc.hi)"
  }
}
