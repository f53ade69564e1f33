package graft.runner

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `graft.Cli analyze` — the one-shot corpus health report a curation
  * run starts from: column profile, per-source inventory (docs /
  * tokens / mean quality), length percentiles, the novelty
  * distribution (how much of the corpus is recombined boilerplate),
  * and per-source PSI drift against the corpus-wide length shape.
  * Each report writes as parquet under `outDir`; the returned summary
  * feeds the CLI's JSON line; frames the reports stage release when
  * `run` returns. All aggregations are the bounded,
  * partial-aggregated shapes used by the gated operators — the report
  * runs at any corpus size.
  */
object CorpusAnalyze {

  final case class Summary(
      rows: Long, sources: Long, tokensTotal: Long, noveltyModalDecile: Long)

  def run(spark: SparkSession, df: DataFrame, outDir: String,
      textCol: String = "text", idCol: String = "doc_id",
      sourceCol: String = "source"): Summary = graft.core.Staging.scoped {
    val toks = TextFunctions.tokenCount(col(textCol))

    // per-source inventory: docs, tokens, mean quality (rounded-mean
    // broadcast discipline of DomainStatsFilter)
    val inventory = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(toks).as("tokens"),
        round(avg(graft.operators.text.TextAnalysis.qualityScore(
          col(textCol), TextFunctions.tokensOf(col(textCol)))), 6).as("mean_quality"))
      .orderBy(col(sourceCol))
    inventory.write.mode("overwrite").parquet(s"$outDir/source_inventory")

    // column profile (exact tier of the table-maintenance profiler)
    val profile = graft.operators.table.ColumnProfiler.profile(
      df, df.columns.toSeq.take(6))
    profile.write.mode("overwrite").parquet(s"$outDir/column_profile")

    // length distribution: exact percentiles of the token count
    val lengths = df.select(toks.as("n_tok"))
      .agg(expr("percentile(n_tok, array(0.1, 0.5, 0.9, 0.99))").as("p"))
      .select((0 until 4).map(i => element_at(col("p"), i + 1)
        .as(Seq("p10", "p50", "p90", "p99")(i))): _*)
    lengths.write.mode("overwrite").parquet(s"$outDir/length_percentiles")

    // novelty decile histogram: the recombined-boilerplate fingerprint
    // (fully-novel docs score exactly 1.0 — clamp them into decile 9,
    // not a phantom 11th bucket)
    val novelty = new graft.operators.text.NgramNovelty(textCol, idCol)(df)
      .select(least(floor(col("novelty") * 10), lit(9)).cast("long").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("docs"))
      .orderBy(col("decile"))
    novelty.write.mode("overwrite").parquet(s"$outDir/novelty_deciles")

    // per-source drift: PSI of each source's token-length distribution
    // against the whole corpus — the "which source changed shape"
    // monitor (PSI > 0.1 watch, > 0.25 act)
    val drift = graft.operators.stats.DistributionDrift.psiPerGroup(
      df, toks, sourceCol, buckets = 10, width = 20L)
    drift.write.mode("overwrite").parquet(s"$outDir/source_drift")

    // totals reconcile from the (tiny) inventory report — not a sixth
    // full-corpus scan; coalesce covers the zero-row corpus (SUM over
    // nothing is NULL)
    val inv = spark.read.parquet(s"$outDir/source_inventory")
    val totals = inv.agg(
      coalesce(sum("docs"), lit(0L)).as("rows"),
      coalesce(sum("tokens"), lit(0L)).as("tokens")).head()
    val nov = spark.read.parquet(s"$outDir/novelty_deciles")
      .orderBy(col("docs").desc, col("decile")).limit(1).collect()
    val summary = Summary(
      rows = totals.getLong(0),
      sources = inv.count(),
      tokensTotal = totals.getLong(1),
      noveltyModalDecile = if (nov.isEmpty) -1L else nov.head.getLong(0))

    // dataset card: the human-facing markdown a curated corpus ships
    // with (the HF-dataset-card shape), rendered from the already-tiny
    // reports — top-K source rows only, so the card stays bounded at
    // any source count
    writeCard(spark, outDir, summary, sourceCol)
    summary
  }

  private val CardTopSources = 20

  private def writeCard(spark: SparkSession, outDir: String, s: Summary,
      sourceCol: String): Unit = {
    val inv = spark.read.parquet(s"$outDir/source_inventory")
    val drift = spark.read.parquet(s"$outDir/source_drift")
    val lp = spark.read.parquet(s"$outDir/length_percentiles").collect()
      .headOption
    val top = inv.join(drift.select(col(sourceCol), col("psi")), Seq(sourceCol), "left")
      .orderBy(col("docs").desc, col(sourceCol))
      .limit(CardTopSources).collect()
    val omitted = s.sources - top.length
    // source values render via toString — the source column need not be
    // a string (numeric source ids are legal)
    val rows = top.map { r =>
      val psi = if (r.isNullAt(4)) "—" else f"${r.getDouble(4)}%.4f"
      s"| ${String.valueOf(r.get(0))} | ${r.getLong(1)} | ${r.getLong(2)} | " +
        f"${r.getDouble(3)}%.4f | $psi |"
    }.mkString("\n")
    // bounded like the source table: worst offenders only, plus a count
    val watchTotal = drift.where(col("psi") > 0.1).count()
    val watch = drift.where(col("psi") > 0.1)
      .orderBy(col("psi").desc, col(sourceCol)).limit(CardTopSources).collect()
      .map(r => f"`${String.valueOf(r.get(0))}` (${r.getDouble(2)}%.4f)")
    val watchMore = watchTotal - watch.length
    val pct = lp.map(r =>
      f"p10 ${r.getDouble(0)}%.1f · p50 ${r.getDouble(1)}%.1f · " +
        f"p90 ${r.getDouble(2)}%.1f · p99 ${r.getDouble(3)}%.1f")
      .getOrElse("n/a (empty corpus)")
    val card =
      s"""# Dataset card
         |
         |Generated by `graft analyze`.
         |
         |## Inventory
         |
         |- documents: **${s.rows}**
         |- sources: **${s.sources}**
         |- tokens: **${s.tokensTotal}**
         |- token-length percentiles: $pct
         |- novelty modal decile: ${s.noveltyModalDecile} / 9
         |
         |## Sources (top ${top.length} by documents${
           if (omitted > 0) s"; $omitted more omitted" else ""})
         |
         || source | docs | tokens | mean quality | PSI vs corpus |
         ||---|---|---|---|---|
         |$rows
         |
         |## Drift flags (PSI > 0.1)
         |
         |${if (watch.isEmpty) "None — every source tracks the corpus length shape."
           else watch.mkString(", ") +
             (if (watchMore > 0) s" — and $watchMore more" else "")}
         |
         |Reports: `source_inventory/`, `column_profile/`,
         |`length_percentiles/`, `novelty_deciles/`, `source_drift/`.
         |""".stripMargin
    // Hadoop-aware write so the card lands NEXT TO the reports when
    // outDir is hdfs://... or s3a://... (java.nio would reinterpret the
    // URI as a relative local path)
    val path = new org.apache.hadoop.fs.Path(outDir, "DATASET_CARD.md")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(card.getBytes("UTF-8")) finally out.close()
  }
}
