package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The two rules every dedup/ANN tuning readout shares, written once per
  * engine: the recall ratio and the `chosen` operating-point level.
  *
  * Readout contract (recall reports and operating points alike —
  * [[graft.operators.dedup.LshRecall]],
  * [[graft.operators.dedup.MinHashOperatingPoint]], the
  * [[graft.operators.vector.AnnSearch]] sign-LSH and mutual-kNN readouts,
  * the [[graft.operators.vector.EmbeddingCosineDedup]] semantic-dedup
  * readouts):
  *
  *  - **Sampling.** The exact truth tier of every readout is quadratic in
  *    its input, so the sample knob (`sampleMod` / `queryMod`) is
  *    REQUIRED — there is no unbounded default; `1` is the explicit
  *    opt-in to the full corpus. The sample is `id % mod = 0` with the
  *    engine's `%`, never `pmod`: the DuckDB twins use `%`, and the two
  *    disagree on negative ids. A deterministic id sample is replay-stable
  *    (no RNG), and a pair survives iff both endpoints do, so a pair-level
  *    recall on the sample is an unbiased estimate of corpus recall.
  *  - **Recall.** `round(hits / truth, 6)`, NULL when the truth count is
  *    0 — never an ANSI divide-by-zero and never a fake 0 or 1.
  *  - **Chosen level.** An operating point scores one row per candidate
  *    level (bands, probes, nprobe, cap …) and flags exactly one
  *    `chosen` row: the smallest level whose recall meets the target;
  *    if none does, the smallest level with the maximum recall; if every
  *    recall is NULL (a degenerate sample with no truth), the readout's
  *    default level — the cheapest setting it offers (`1` for band and
  *    nprobe counts, `0` for extra probes, the smallest cap). A consumer
  *    (`from_report` in the pipeline runner) therefore always finds one
  *    config row.
  */
object Readout {

  /** Recall `hits / truth` rounded to 6 places; NULL when `truth` is 0. */
  def recall(hits: Column, truth: Column): Column =
    when(truth > 0, round(hits.cast("double") / truth.cast("double"), 6))

  /** DuckDB twin of [[recall]] over two scalar SQL expressions. */
  def recallSql(hits: String, truth: String): String =
    s"CASE WHEN $truth > 0 THEN round(CAST($hits AS DOUBLE) / CAST($truth AS DOUBLE), 6) END"

  /** `levels` (one row per candidate `level`, with a `recall` column)
    * plus the `chosen` flag, ordered by `level`. The windows run over
    * the whole level table — a handful of rows.
    */
  def chosen(levels: DataFrame, level: String, targetRecall: Double,
      default: Int): DataFrame = {
    val ws = org.apache.spark.sql.expressions.Window.partitionBy()
    levels
      .withColumn("_mp", min(when(col("recall") >= targetRecall, col(level))).over(ws))
      .withColumn("_mr", max(col("recall")).over(ws))
      .withColumn("_mb", min(when(col("recall") === col("_mr"), col(level))).over(ws))
      .select(levels.columns.map(col) :+
        (col(level) === coalesce(col("_mp"), col("_mb"), lit(default))).as("chosen"): _*)
      .orderBy(col(level))
  }

  /** DuckDB twin of [[chosen]]: the CTE tail over a level table `_sc`
    * (columns `cols`, one of them `level`, plus `recall`), ending in the
    * final `SELECT cols, chosen … ORDER BY level`.
    */
  def chosenSql(cols: Seq[String], level: String, targetRecall: Double,
      default: Int): String =
    s"""_s1 AS (SELECT *,
       |    min(CASE WHEN recall >= CAST($targetRecall AS DOUBLE) THEN $level END)
       |      OVER () AS mp,
       |    max(recall) OVER () AS mr
       |  FROM _sc),
       |_s2 AS (SELECT *,
       |    min(CASE WHEN recall = mr THEN $level END) OVER () AS mb FROM _s1)
       |SELECT ${cols.mkString(", ")},
       |  $level = coalesce(mp, mb, $default) AS chosen
       |FROM _s2 ORDER BY $level""".stripMargin
}
