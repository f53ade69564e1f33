package graft.runner

import graft.core.Disposition
import graft.io.{ParquetDataWriter, RejectedWriter}
import graft.metrics._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** YAML config → DataFrame chain → one terminal write, with optional
  * rejected routing and metrics. The reference's whole executor topology
  * (loader actors, stage pools, ObjectRef chaining, backpressure —
  * framework/executor.py) collapses into Catalyst planning plus the DAG
  * scheduler; the only shuffles are dedup key exchanges and the write
  * (SURVEY.md §3.1).
  */
object PipelineRunner {

  /** Source loaders (S1): sorted-file parquet/csv/jsonl/orc — the
    * HuggingFaceLoader's format surface (loaders/huggingface_loader.py:
    * 42-74; deterministic sharding/resume come from the Spark source +
    * checkpointing). `max_samples` maps to limit pushdown.
    */
  def load(spark: SparkSession, conf: LoaderConf): DataFrame = {
    val p = conf.params
    conf.tpe match {
      case "ParquetLoader" | "HuggingFaceLoader" =>
        loadFiles(spark, conf, Seq(p.str("path").get))
      case "CommonCrawlLoader" | "WarcLoader" =>
        // S2: the DSv2 warc source — one partition per (unsplittable)
        // warc file, record parse + readability extraction in the scan
        spark.read.format("warc")
          .option("crawl_id", p.str("crawl_id", ""))
          .load(p.str("path").get)
      case other => throw new IllegalArgumentException(
        s"unknown loader type: $other (supported: ParquetLoader, HuggingFaceLoader, CommonCrawlLoader)")
    }
  }

  /** Read a path list in the loader's `format` — the whole source, or an
    * explicit file list (resume path: planning-time pruning, not a
    * post-scan filter — skipped files are never opened). `mode`
    * (PERMISSIVE default / DROPMALFORMED / FAILFAST) is the
    * malformed-record policy for the text formats: raw web-scale jsonl
    * ALWAYS contains broken lines, and the permissive read surfaces them
    * as `_corrupt_record` rows instead of killing the job — RunnerSpec
    * pins both policies. A parquet read takes its schema from one footer
    * read on the driver ([[graft.io.ParquetSchema.read]]), so loading
    * runs no schema-inference job.
    */
  private def loadFiles(spark: SparkSession, conf: LoaderConf, files: Seq[String]): DataFrame = {
    val p = conf.params
    p.str("format", "parquet") match {
      case "parquet" => graft.io.ParquetSchema.read(spark, files: _*)
      case "csv" => spark.read.option("header", p.bool("header", true).toString)
        .option("mode", p.str("mode", "PERMISSIVE"))
        .option("inferSchema", "true").csv(files: _*)
      case "jsonl" | "json" => spark.read
        .option("mode", p.str("mode", "PERMISSIVE")).json(files: _*)
      case "orc" => spark.read.orc(files: _*)
      case other => throw new IllegalArgumentException(s"unknown format: $other")
    }
  }

  final case class RunResult(run: RunRollup, outputPath: String, tableName: String)

  /** Resolve `{from_report: <name>[, column:][, output_path is the
    * caller's reportsDir]}` param values — the tuner pre-stage: run the
    * named [[CorpusReports]] report over the pipeline's loaded corpus,
    * persist it under `reportsDir/<name>`, and substitute the report's
    * single `chosen = true` row's value for the param (column defaults
    * to the param key, so `nprobe: {from_report:
    * semantic_probe_operating_point}` reads the chosen `nprobe`). Each
    * report runs at most once per operator conf even when several
    * params reference it.
    */
  private def resolveReportParams(spark: SparkSession, corpus: DataFrame,
      params: Params, reportsDir: String,
      reportCache: scala.collection.mutable.Map[String, DataFrame]): Params = {
    import scala.jdk.CollectionConverters._
    def spec(v: Any): Option[Map[String, Any]] = v match {
      case jm: java.util.Map[_, _] =>
        val m = jm.asScala.map { case (k, x) => k.toString -> (x: Any) }.toMap
        if (m.contains("from_report")) Some(m) else None
      case sm: Map[_, _] =>
        val m = sm.map { case (k, x) => k.toString -> (x: Any) }.toMap
        if (m.contains("from_report")) Some(m) else None
      case _ => None
    }
    if (!params.m.values.exists(spec(_).isDefined)) params
    else {
      // the cache is RUN-scoped (caller-supplied): two operators
      // referencing the same report share one corpus scan instead of
      // re-running the tuner per operator conf
      def report(name: String): DataFrame = reportCache.getOrElseUpdate(name, {
        CorpusReports.run(spark, name, corpus, reportsDir)
        spark.read.parquet(s"$reportsDir/$name")
      })
      Params(params.m.map { case (k, v) =>
        spec(v) match {
          case None => k -> v
          case Some(s) =>
            val name = s("from_report").toString
            val columnName = s.get("column").map(_.toString).getOrElse(k)
            val rep = report(name)
            require(rep.columns.contains("chosen"),
              s"report '$name' has no `chosen` column — from_report needs " +
                "an operating-point report (graft.Cli list-reports)")
            val rows = rep.filter(org.apache.spark.sql.functions.col("chosen")).collect()
            require(rows.length == 1,
              s"report '$name' must flag exactly one chosen row, got ${rows.length}")
            k -> rows.head.getAs[Any](columnName)
        }
      })
    }
  }

  def run(spark: SparkSession, conf: PipelineConf): RunResult =
    // scoped staging (ADVICE r14): frames operators stage during this run
    // release when the run's writes + metrics have committed, and a
    // concurrent run on another thread can never sweep them mid-consumption
    graft.core.Staging.scoped { runScoped(spark, conf) }

  private def runScoped(spark: SparkSession, conf: PipelineConf): RunResult = {
    val t0 = System.nanoTime()
    val wp = conf.writer.params
    val outputPath = wp.str("output_path", "output")
    val tableName = wp.str("table_name", "default")

    var df = load(spark, conf.loader)

    // Batch resume (executor.checkpoint.path): prune input files already
    // committed by previous runs; record this run's file set on success.
    // File-granular — filters/refiners compose exactly across resumes;
    // GLOBAL dedup state is per-increment here (cross-increment dedup
    // is StreamingCuration.nearDedupForeachBatch, whose epoch-store
    // prior carries it).
    val ckpt = conf.executor.checkpointPath
    val thisRunFiles: Seq[String] = ckpt match {
      case Some(cp) =>
        val done = ResumeManifest.processed(spark, cp)
        val all = df.inputFiles.toSeq.sorted
        val remaining = all.filterNot(done)
        if (remaining.isEmpty) {
          val run = MetricsRollup.run(MetricsWriter.newRunId(), Seq.empty,
            (System.nanoTime() - t0) / 1e9)
          return RunResult(run, outputPath, tableName)
        }
        if (remaining.size != all.size) df = loadFiles(spark, conf.loader, remaining)
        remaining
      case None => Nil
    }
    conf.executor.maxSamples.foreach(n => df = df.limit(n.toInt))

    // Tuner pre-stage (r17, VERDICT r16 #5): a param written as
    //   nprobe: {from_report: semantic_probe_operating_point}
    // runs that corpus report over the pipeline's OWN loaded input,
    // persists it under <output_path>/_reports/<name> (the evidence a
    // production run would keep), and substitutes the report's
    // chosen-row value (column defaults to the param key; override
    // with `column:`) — so a config consumes the tuner instead of
    // hardcoding the knob the tuner exists to choose.
    val reportCache =
      scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val resolvedStages = conf.stages.map(st => st.copy(operators =
      st.operators.map(o =>
        o.copy(params = resolveReportParams(spark, df, o.params,
          s"$outputPath/_reports", reportCache)))))

    val rejects = conf.executor.rejectedEnabled
    if (rejects) df = Disposition.init(df)

    // Instrument every stage's operator boundaries; the terminal write
    // below fills all counts in one pass. With reject routing on, the
    // chain runs in disposition (mark-don't-drop) mode so passed rows AND
    // every operator's annotated complement come from ONE source scan —
    // the reference replays the chain per stage instead
    // (framework/executor.py:100-124), which multiplies full scans by the
    // stage count at 100 TB.
    val timed = conf.executor.metricsTimed && !rejects
    val instrumented: Seq[(String, () => Seq[OperatorCounts])] =
      if (rejects) {
        // disposition mode counts via alive-flag snapshots + ONE
        // deferred observation (r17): per-boundary observations could
        // be frozen at a zero-row fill by an operator's own eager
        // Spark actions during chain construction — see
        // MeteredPipeline.dispositionChain
        val staged = resolvedStages.zipWithIndex.map { case (st, si) =>
          val ops = st.operators.map(o => OperatorRegistry.create(o.name, o.params))
          val (out, bounds) =
            new MeteredPipeline(st.name, ops).dispositionChain(df, s"_s${si}o")
          df = out
          st.name -> bounds
        }
        val (observed, counts) = MeteredPipeline.observeBoundaries(df, staged)
        df = observed
        counts
      } else resolvedStages.map { st =>
        val ops = st.operators.map(o => OperatorRegistry.create(o.name, o.params))
        val metered = new MeteredPipeline(st.name, ops)
        val (out, counts) =
          if (timed) {
            // profiling mode: actions per boundary run NOW; counts are fixed
            val (through, cs, _) = metered.timedRunThrough(df)
            (through, () => cs)
          } else metered.instrument(df)
        df = out
        (st.name, counts)
      }

    val writer: DataFrame => Unit = conf.writer.tpe match {
      case "ParquetDataWriter" => new ParquetDataWriter(
        outputPath, tableName,
        partitionBy = wp.str("partition_by"),
        partitionKeyExtractor = wp.str("partition_key_extractor"),
        compression = wp.str("compression", "snappy"),
        targetFileMb = wp.long("target_file_mb").map(_.toInt)).write
      case "JsonlDataWriter" => new graft.io.JsonlDataWriter(
        outputPath, tableName,
        compression = wp.str("compression", "gzip"),
        targetFileMb = wp.long("target_file_mb").map(_.toInt)).write
      case "IcebergDataWriter" | "CatalogTableWriter" =>
        new graft.io.CatalogTableWriter(
          wp.str("table").getOrElse(tableName),
          partitionBy = wp.strList("partition_by")).write
      case "TokenShardWriter" =>
        val vocab = wp.strList("vocab")
        require(vocab.nonEmpty,
          "TokenShardWriter needs a non-empty `vocab` list (rank-ordered pieces)")
        df => new graft.io.TokenShardWriter(
          s"$outputPath/$tableName",
          numShards = wp.long("num_shards", 16L).toInt,
          vocab = vocab,
          idCol = wp.str("id_field", "id"),
          textCol = wp.str("text_field", "text")).write(df)
      case other => throw new IllegalArgumentException(s"unknown writer type: $other")
    }

    if (rejects) {
      // Both filtered writes come from the one annotated lineage, which
      // is persisted once so the second write does not rescan the
      // source; the reject write is a single parquet append partitioned
      // by the rejecting operator.
      val annotated = df.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        writer(Disposition.passed(annotated)) // fills every observation
        RejectedWriter.writeAll(Disposition.rejected(annotated), outputPath, tableName)
      } finally annotated.unpersist()
    } else {
      writer(df) // the one action — fills every observation
    }

    val stages = instrumented.map { case (name, counts) =>
      MetricsRollup.stage(name, counts())
    }

    // writes committed — mark this run's input files as processed
    ckpt.foreach(cp => ResumeManifest.record(spark, cp, thisRunFiles))
    // staged frames release at the run's scope exit (see run) — repeated
    // runs in one long-lived session don't accumulate cache blocks

    val durationSec = (System.nanoTime() - t0) / 1e9
    val run = MetricsRollup.run(MetricsWriter.newRunId(), stages, durationSec)
    if (conf.executor.metricsEnabled) {
      val mp = conf.executor.metricsPath.getOrElse(s"$outputPath/_metrics")
      MetricsWriter.write(spark, run, mp)
      conf.executor.reportPath.foreach(rp => HtmlReport.write(run, rp))
      conf.executor.reportPublishPath.foreach(pp =>
        HtmlReport.publish(run, pp, spark.sparkContext.hadoopConfiguration))
    }
    RunResult(run, outputPath, tableName)
  }
}
