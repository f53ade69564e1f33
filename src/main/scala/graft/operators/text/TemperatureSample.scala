package graft.operators.text

import graft.core.{Marked, RejectingOperator, Rejection}
import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Temperature-based source rebalancing (the multilingual-LM sampling
  * scheme of XLM-R / mT5: sample source s with probability ∝ n_s^α,
  * α < 1 flattening the distribution toward uniform). Expressed as a
  * deterministic drop-only filter: every source keeps fraction
  * `f_s = (n_min / n_s)^(1-α)` — derived from p_s ∝ n_s^α with the
  * largest feasible budget, so the SMALLEST source is kept whole and
  * bigger sources are downsampled toward the tempered distribution.
  * α = 1 keeps everything (no tempering); α = 0 equalizes all sources
  * to the smallest's size (in expectation).
  *
  * Membership is the [[DeterministicSampleFilter]] hash rule
  * (`hash(id ++ salt) mod 1e6 < f_s·1e6`), so the sample is
  * reproducible across runs, clusters, and partitionings.
  *
  * Scale shape: source counts are a map-side-combined aggregate over a
  * low-cardinality key; the per-source threshold table (sources, not
  * documents) rides a broadcast join; the verdict is a pure per-row
  * hash comparison. Document rows never shuffle.
  */
final class TemperatureSampleFilter(
    alpha: Double = 0.5,
    sourceCol: String = "source",
    idCol: String = "id",
    hashName: String = "xxhash64",
    salt: String = "") extends RejectingOperator {

  require(alpha >= 0.0 && alpha <= 1.0, s"alpha $alpha outside [0, 1]")
  val name = "temperature_sample"

  private val Buckets = 1000000L

  /** `(source, threshold)` — threshold = round(f_s · 1e6), f_s =
    * (n_min/n_s)^(1-α); computed from counts only (two tiny aggregates
    * + a broadcast single-row cross join).
    */
  private def thresholds(corpus: DataFrame): DataFrame = {
    val w = corpus.groupBy(col(sourceCol).as("_ts_src"))
      .agg(count(lit(1)).cast("double").as("_ts_n"))
      .withColumn("_ts_w", pow(col("_ts_n"), 1.0 - alpha))
    w.crossJoin(broadcast(w.agg(min("_ts_w").as("_ts_wmin"))))
      .withColumn("_ts_thr", round(col("_ts_wmin") / col("_ts_w") * Buckets).cast("long"))
      .select(col("_ts_src"), col("_ts_thr"))
  }

  private def bucketOf: Column =
    pmod(HashFunctions.hashByName(hashName)(
      concat(col(idCol).cast("string"), lit(salt))), lit(Buckets))

  def apply(df: DataFrame): DataFrame =
    df.join(broadcast(thresholds(df)), df(sourceCol) === col("_ts_src"))
      .filter(bucketOf < col("_ts_thr"))
      .drop("_ts_src", "_ts_thr")

  /** Disposition mode: thresholds from ALIVE rows only (rejected rows
    * must not count toward their source's size).
    */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val thr = thresholds(df.filter(alive))
    val joined = df.join(broadcast(thr), df(sourceCol) === col("_ts_src"), "left_outer")
      .drop("_ts_src")
    val keep = bucketOf < col("_ts_thr")
    Marked(joined, keep, Rejection.filtered(name), Seq("_ts_thr"))
  }

  /** DuckDB twin: CTE `_ts(src, thr)` over `table`; keep with
    * [[keepSql]]. Portable hash family only.
    */
  def thresholdCteSql(table: String): String =
    s"""_ts AS (
       |  WITH _c AS (SELECT $sourceCol AS src, CAST(count(*) AS DOUBLE) AS n
       |              FROM $table GROUP BY 1),
       |  _w AS (SELECT src, power(n, 1.0 - CAST($alpha AS DOUBLE)) AS w FROM _c),
       |  _k AS (SELECT min(w) AS wmin FROM _w)
       |  SELECT src, CAST(round(wmin / w * $Buckets) AS BIGINT) AS thr
       |  FROM _w CROSS JOIN _k)""".stripMargin

  def keepSql(idExpr: String): String = {
    require(hashName == "portable", "oracle covers the portable hash family")
    s"(${HashFunctions.portableHash64Sql(s"(CAST($idExpr AS VARCHAR) || '$salt')")} " +
      s"% $Buckets) < _ts.thr"
  }
}
