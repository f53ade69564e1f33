package graft

import graft.core.Tables
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every gate-checked query, grouped by area. */
  def catalog: Seq[OracleQuery] =
    Relational.queries ++ Curation.queries ++ NearDup.queries ++
      ImageQueries.queries ++ MetricsQueries.queries ++ InferenceQueries.queries ++
      TextAnalysisQueries.queries ++ WarcQueries.queries ++ MediaQueries.queries ++
      CurationOpsQueries.queries ++ TrainingMixQueries.queries ++
      GopherQueries.queries ++ CurationStackQueries.queries ++
      TrainingExportQueries.queries ++ ClassifierQueries.queries ++
      CorpusStatsQueries.queries ++ ResampleQueries.queries ++
      VectorTransformQueries.queries ++ AnalyticsQueries.queries ++
      EventJoinQueries.queries ++ SearchGraphQueries.queries ++
      MaintenanceQueries.queries ++ ModelStatsQueries.queries ++
      DriftQueries.queries

  /** Flagship: the reference's canonical text-curation pipeline
    * (configs/example_commoncrawl.yaml — url filter → length filter →
    * exact dedup) run over the documents fixture. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.operators.dedup.TextExactDedup
    import graft.operators.text.{TextLengthFilter, UrlFilter}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("url", concat(lit("https://"), col("source"), lit(".example.com/"), col("doc_id").cast("string")))
    Seq(
      new UrlFilter(blockedDomains = Seq("src3.example.com")),
      new TextLengthFilter(minLength = 10, maxLength = None, textCol = "text", lengthCol = Some("n_chars")),
      TextExactDedup(textCol = "text", idCol = "doc_id", orderCol = "doc_id"))
      .foldLeft(docs)((df, op) => op(df))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.collect { case OracleQuery(n, _, Some(sql), _) => n -> sql }.toMap

  /** [[oracleSql]] plus the data-dependent twins rendered against the
    * given scale dir (see [[graft.queries.OracleQuery.oracleFor]]) —
    * what Verify dumps as oracle_sql.json, so a gate whose twin embeds
    * FITTED model literals (pca_project/pca_whiten) still hash-checks
    * end to end. `names` restricts WHICH dynamic twins render (each one
    * runs a fit against the scale dir — a targeted SPARK_GRAFT_ONLY
    * sweep must not pay fits for gates it excluded).
    */
  def oracleSqlFor(spark: SparkSession, sfDir: String,
      names: Option[Set[String]] = None): Map[String, String] =
    oracleSql ++ catalog.collect {
      case q if q.oracleFor.isDefined && names.forall(_(q.name)) =>
        q.name -> q.oracleFor.get(spark, sfDir)
    }
}
