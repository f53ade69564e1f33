package graft.operators.text

import graft.core.{Marked, Rejection, RejectingOperator}
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget sampling — the training-mix primitive that cuts a corpus
  * to a target TOKEN count per source rather than a row count or a
  * fraction (how real mixes are specified: "30 B tokens of web, 5 B of
  * code"; beyond the reference's operator set, like the rest of the
  * training-data family). Rows rank within their source by
  * (salted hash, id) — the same deterministic partition-layout-free
  * order as [[StratifiedSampleFilter]] — and a row is kept iff the
  * running token total up to and including it stays ≤ the source's
  * budget. Sources absent from the map get `defaultBudget`.
  *
  * Scale shape — a distributed two-level prefix sum, NOT one window per
  * source: a single `sum().over(partitionBy(source).orderBy(...))`
  * serializes each source through one task, which dies on a 100 TB
  * corpus with few big sources. Instead the rank-hash range splits each
  * source into `numBuckets` order-compatible slices: (1) per-(source,
  * bucket) token sums — a map-side-combined groupBy whose result is
  * sources × numBuckets rows; (2) bucket start offsets via a window
  * over that TINY aggregate, broadcast-joined back; (3) the running
  * total inside each (source, bucket) slice — a window whose partitions
  * are 1/numBuckets of a source. No full-source sort ever happens on
  * one task, and the row data shuffles exactly once (for the slice
  * window).
  */
final class TokenBudgetSampleFilter(
    budgets: Map[String, Long],
    defaultBudget: Long = Long.MaxValue,
    sourceCol: String = "source",
    idCol: String = "id",
    textCol: String = "text",
    tokenCol: Option[String] = None,
    numBuckets: Int = 256,
    hashName: String = "xxhash64",
    salt: String = "") extends RejectingOperator {

  (budgets.values.toSeq :+ defaultBudget).foreach(b =>
    require(b >= 0L, s"budget $b must be non-negative"))
  require(numBuckets >= 1, s"numBuckets $numBuckets must be positive")
  val name = "token_budget_sample"

  private val HashBuckets = 1000000L
  private val bucketWidth = (HashBuckets + numBuckets - 1) / numBuckets

  /** Deterministic rank hash in [0, 1e6) — bucket = h / bucketWidth is
    * monotone in h, so bucket boundaries respect the (h, id) order. */
  private def rankHash: Column =
    pmod(HashFunctions.hashByName(hashName)(
      concat(col(idCol).cast("string"), lit(salt))), lit(HashBuckets))

  private def weightOf: Column = tokenCol match {
    case Some(c) => col(c).cast("long")
    case None    => size(TextFunctions.tokensOf(col(textCol))).cast("long")
  }

  private def budgetOf: Column =
    budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (src, b)) => when(col(sourceCol) === src, lit(b)).otherwise(acc)
    }

  /** Input + `_cum` (running token total in rank order) via the
    * two-level prefix sum; `extraCols` lists the helper columns. */
  private def withRunningTotal(df: DataFrame, w: Column): (DataFrame, Seq[String]) = {
    val d = df.withColumn("_tbh", rankHash)
      .withColumn("_tbb", (col("_tbh") / lit(bucketWidth)).cast("int"))
      .withColumn("_tbw", w)
    val offsets = d.groupBy(col(sourceCol).as("_tbsrc"), col("_tbb"))
      .agg(sum(col("_tbw")).as("_tbsum"))
      .withColumn("_tboff",
        coalesce(sum(col("_tbsum")).over(Window.partitionBy(col("_tbsrc"))
          .orderBy(col("_tbb")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_tbsrc"), col("_tbb"), col("_tboff"))
    val sliceW = Window.partitionBy(col(sourceCol), col("_tbb"))
      .orderBy(col("_tbh"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.join(broadcast(offsets),
        d(sourceCol) === offsets("_tbsrc") && d("_tbb") === offsets("_tbb"), "left")
      .drop(offsets("_tbb")).drop("_tbsrc")
      .withColumn("_cum", coalesce(col("_tboff"), lit(0L)) + sum(col("_tbw")).over(sliceW))
    (cum, Seq("_tbh", "_tbb", "_tbw", "_tboff", "_cum"))
  }

  def apply(df: DataFrame): DataFrame = {
    val (cum, extras) = withRunningTotal(df, weightOf)
    cum.filter(col("_cum") <= budgetOf).drop(extras: _*)
  }

  /** Disposition mode: dead rows weigh zero, so they never consume
    * budget; their own keep flag is irrelevant (Disposition ANDs alive). */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val (cum, extras) = withRunningTotal(df, when(alive, weightOf).otherwise(0L))
    Marked(cum, col("_cum") <= budgetOf,
      Rejection.filtered(name), extras)
  }

  /** DuckDB twin (portable hash family): the single-window form of the
    * same prefix sum — the two-level Spark plan is exactly its
    * distributed decomposition, so the hash-match proves them equal. */
  def keepSql(table: String, sourceExpr: String, idExpr: String): String = {
    require(hashName == "portable", "oracle covers the portable hash family")
    require(tokenCol.isEmpty, "oracle covers the computed-token-count form")
    val h = HashFunctions.portableHash64Sql(s"(CAST($idExpr AS VARCHAR) || '$salt')")
    val cases = budgets.toSeq.sortBy(_._1).reverse
      .map { case (src, b) => s"WHEN $sourceExpr = '$src' THEN $b" }
      .mkString(" ")
    val bud = s"(CASE $cases ELSE $defaultBudget END)"
    s"""(SELECT $idExpr FROM (
       |  SELECT $idExpr, $sourceExpr,
       |    SUM(CAST(len(${TextFunctions.tokensOfSql(textCol)}) AS BIGINT)) OVER (
       |      PARTITION BY $sourceExpr ORDER BY ($h % $HashBuckets), $idExpr
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM $table) t
       |WHERE cum <= $bud)""".stripMargin
  }
}
