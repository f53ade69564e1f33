package graft.operators.text

import graft.core.{Rejection, RejectingOperator}
import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the GPT-3/Pile-style n-gram overlap
  * filter every training-data pipeline needs (beyond the reference's
  * own operator set, like the rest of the training-data family): a
  * training document is DROPPED when any of its word `ngramWidth`-grams
  * also occurs in the held-out benchmark/test corpus, so evaluation
  * data cannot leak into training data.
  *
  * Spark shape (the 100 TB posture): both sides reduce to fixed-width
  * 64-bit n-gram hashes; the benchmark side (test sets are small by
  * construction) is distinct-ed and BROADCAST; the training side
  * explodes its hashes into a broadcast semi-join — the fact table
  * never shuffles, mirroring [[DomainBlocklistFilter]]. Raw text never
  * rides an exchange. For benchmark corpora too big to broadcast,
  * pre-hash them to a table and bucket-join — same operator semantics,
  * swap the join hint.
  */
final class BenchmarkDecontaminationFilter(
    benchmarkOf: SparkSession => DataFrame, // one text column (benchTextCol)
    idCol: String,
    textCol: String = "text",
    ngramWidth: Int = 8,
    benchTextCol: String = "text") extends RejectingOperator {

  val name = "benchmark_decontamination"

  // The fused single-pass kernel (tokenize + shingle + hash in one JVM
  // loop, 60-bit md5-prefix portable hashes) — NOT transform(shingles(
  // tokensOf(...))): interpreted HOFs re-inline the tokenization tree
  // per shingle element (the measured round-1 ~30× trap; this exact
  // form cost 55 s at sf0.1 before the switch, 1.4 s after).
  private def ngramHashes(text: Column): Column =
    graft.plans.kernels.shingle_hashes(text, ngramWidth)

  /** Distinct benchmark n-gram hashes (the broadcast side). */
  private def benchmarkHashes(spark: SparkSession): DataFrame =
    benchmarkOf(spark)
      .select(explode(ngramHashes(col(benchTextCol))).as("_bh"))
      .distinct()

  /** Ids of training rows sharing at least one n-gram with the benchmark. */
  private def contaminatedIds(df: DataFrame): DataFrame =
    df.select(col(idCol), explode(ngramHashes(col(textCol))).as("_bh"))
      .join(broadcast(benchmarkHashes(df.sparkSession)), Seq("_bh"), "left_semi")
      .select(col(idCol)).distinct()

  def apply(df: DataFrame): DataFrame =
    df.join(contaminatedIds(df), Seq(idCol), "left_anti")

  /** Disposition mode: one left join stamps the contaminated flag. */
  def mark(df: DataFrame, alive: Column, tag: String): graft.core.Marked = {
    val cC = s"_ctm$tag"
    val d = df.join(contaminatedIds(df).withColumn(cC, lit(true)), Seq(idCol), "left")
    graft.core.Marked(d, col(cC).isNull,
      Rejection.filtered(name), Seq(cC))
  }

  /** DuckDB twin: kept ids of `table` given the benchmark as a SQL query
    * selecting one `text` column (the kernel's hashes are the portable
    * md5-prefix family, so the twin recomputes them exactly).
    */
  def keepSql(table: String, benchmarkSql: String): String = {
    def hashListSql(toksCol: String) =
      s"list_transform(${TextFunctions.shinglesSql(toksCol, ngramWidth)}, " +
        s"x -> ${HashFunctions.portableHash64Sql("x")})"
    s"""$idCol NOT IN (
       |  SELECT $idCol FROM (
       |    SELECT $idCol, unnest(${hashListSql("toks")}) AS h FROM
       |      (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS toks FROM $table)) t
       |  WHERE h IN (
       |    SELECT DISTINCT unnest(${hashListSql("btoks")}) FROM
       |      (SELECT ${TextFunctions.tokensOfSql(benchTextCol)} AS btoks
       |       FROM ($benchmarkSql))))""".stripMargin
  }
}

object BenchmarkDecontaminationFilter {
  /** Benchmark already loaded as a DataFrame (API path). */
  def apply(benchmark: DataFrame, idCol: String, textCol: String = "text",
      ngramWidth: Int = 8,
      benchTextCol: String = "text"): BenchmarkDecontaminationFilter =
    new BenchmarkDecontaminationFilter(
      _ => benchmark, idCol, textCol, ngramWidth, benchTextCol)

  /** Benchmark loaded lazily from a path (the YAML/registry path). */
  def fromPath(path: String, format: String, idCol: String,
      textCol: String = "text", ngramWidth: Int = 8,
      benchTextCol: String = "text"): BenchmarkDecontaminationFilter =
    new BenchmarkDecontaminationFilter(
      spark => format match {
        case "parquet" => spark.read.parquet(path)
        case "jsonl"   => spark.read.json(path)
        case "csv"     => spark.read.option("header", "true").csv(path)
        case other     => throw new IllegalArgumentException(s"unknown benchmark format: $other")
      },
      idCol, textCol, ngramWidth, benchTextCol)
}
