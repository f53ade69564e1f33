package graft.operators.text

import graft.core.{Marked, Rejection, RejectingOperator}
import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-k-per-stratum deterministic sampling — balanced eval-set and
  * per-source-cap construction (cap every crawl/source/language at k
  * docs, exactly, reproducibly). Within each stratum the rows rank by
  * (salted hash, id) — a deterministic uniform order independent of
  * partition layout — and the first `k` survive.
  *
  * Complements [[DeterministicSampleFilter]] (Bernoulli by fraction, no
  * shuffle): exact-k needs the stratum's rows to meet, so it costs ONE
  * hash-partitioned shuffle on the stratum key plus a per-stratum sort —
  * the same shape as first-wins dedup, and like it this scales as long
  * as no single stratum exceeds an executor's sort budget; AQE splits
  * skewed strata's sort spills but the rank is still per-stratum. For
  * k ≪ stratum size a future refinement is a per-partition top-k
  * pre-prune; at the corpus sizes the caps are used for (k in the
  * thousands) the plain window is the right trade.
  */
final class StratifiedSampleFilter(
    k: Int,
    stratumCol: String = "source",
    idCol: String = "id",
    hashName: String = "xxhash64",
    salt: String = "") extends RejectingOperator {

  require(k >= 0, s"k $k must be non-negative")
  val name = "stratified_sample"

  private def rankOrder(df: DataFrame): Seq[Column] = Seq(
    pmod(HashFunctions.hashByName(hashName)(
      concat(col(idCol).cast("string"), lit(salt))), lit(1000000L)),
    col(idCol))

  def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(stratumCol)).orderBy(rankOrder(df): _*)
    df.withColumn("_srn", row_number().over(w))
      .filter(col("_srn") <= k).drop("_srn")
  }

  /** Alive rows sort first, so dead rows never occupy a sample slot; a
    * dead row that still lands rank ≤ k (stratum with < k alive rows)
    * stays dead because Disposition ANDs survival flags. */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val aC = s"_sal$tag"; val rnC = s"_srn$tag"
    val d = df.withColumn(aC, alive)
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(col(aC).desc +: rankOrder(d): _*)
    val ranked = d.withColumn(rnC, row_number().over(w))
    Marked(ranked, col(rnC) <= k,
      Rejection.filtered(name), Seq(aC, rnC))
  }

  /** DuckDB twin (portable hash family). */
  def keepSql(table: String, stratumExpr: String, idExpr: String): String = {
    require(hashName == "portable", "oracle covers the portable hash family")
    val h = HashFunctions.portableHash64Sql(s"(CAST($idExpr AS VARCHAR) || '$salt')")
    s"""(SELECT $idExpr FROM (
       |  SELECT $idExpr, row_number() OVER (
       |    PARTITION BY $stratumExpr ORDER BY ($h % 1000000), $idExpr) AS rn
       |  FROM $table) t
       |WHERE rn <= $k)""".stripMargin
  }
}
