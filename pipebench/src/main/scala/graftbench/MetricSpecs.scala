package graftbench

/** Every metric the benchmark prints, with its unit and which direction is
  * better. `BENCHMARK.json` lists the same names (a test keeps them in step).
  */
object MetricSpecs {
  final case class Spec(name: String, unit: String, better: String)

  private def lower(name: String, unit: String) = Spec(name, unit, "lower")
  private def higher(name: String, unit: String) = Spec(name, unit, "higher")

  val endToEnd: Seq[Spec] = Seq(
    lower("setup_s", "s"),
    lower("cold_run_s", "s"),
    lower("run_s_p50", "s"),
    higher("records_per_s", "records/s"),
    lower("micro_batch_s_p50", "s"),
    lower("live_heap_peak_mb", "MB"))

  /** Operators of all four workloads, by their config names. */
  val operatorNames: Seq[String] = Seq(
    "url_filter", "text_length_filter", "c4_clean", "c4_quality_filter",
    "gopher_quality_filter", "gopher_repetition_filter", "pii_redaction",
    "text_exact_deduplicator", "minhash_lsh_deduplicator", "dup_ngram", "ngram_novelty",
    "embedding_cosine_deduplicator")

  /** Layers jobs are attributed to: the modules plus Spark-internal jobs. */
  val jobLayers: Seq[String] = Layers.All :+ "spark"

  val perLayer: Seq[Spec] = Seq(
    lower("trace.overhead_ratio", "ratio"),
    lower("driver.outside_jobs_s", "s"),
    lower("driver.jobs", "count"),
    lower("driver.result_bytes", "bytes"),
    lower("catalyst.executions", "count"),
    lower("catalyst.analysis_ms", "ms"),
    lower("catalyst.optimization_ms", "ms"),
    lower("catalyst.planning_ms", "ms"),
    lower("codegen.compile_ms", "ms"),
    lower("codegen.classes", "count"),
    lower("plans.interpreted_exprs", "count"),
    higher("plans.kernel_exprs", "count"),
    lower("plans.non_codegen_nodes", "count"),
    lower("plans.exchanges", "count"),
    lower("plans.inmemory_scans", "count"),
    lower("scheduler.stages", "count"),
    lower("scheduler.one_task_stages", "count"),
    lower("scheduler.tasks", "count"),
    lower("scheduler.task_run_s", "s"),
    lower("scheduler.task_cpu_s", "s"),
    higher("scheduler.core_util", "ratio"),
    lower("scheduler.task_skew", "ratio"),
    lower("scheduler.gc_s", "s"),
    higher("scheduler.speedup_vs_1core", "ratio"),
    lower("shuffle.write_bytes", "bytes"),
    lower("shuffle.read_bytes", "bytes"),
    lower("shuffle.fetch_wait_s", "s"),
    lower("shuffle.spill_bytes", "bytes"),
    lower("scan.input_bytes", "bytes"),
    higher("scan.tasks", "count"),
    lower("staging.jobs", "count"),
    lower("staging.cached_peak_bytes", "bytes"),
    lower("staging.leaked_frames", "count"),
    lower("runner.load_s", "s"),
    lower("io.write_s", "s"),
    lower("io.rejected_write_s", "s"),
    lower("io.bytes_written", "bytes"),
    lower("io.files_written", "count"),
    lower("io.write_amplification", "ratio"),
    lower("metrics.write_s", "s"),
    lower("metrics.report_s", "s"),
    lower("streaming.triggers", "count"),
    lower("streaming.add_batch_ms_p50", "ms"),
    lower("streaming.query_planning_ms_p50", "ms"),
    lower("streaming.wal_commit_ms_p50", "ms"),
    lower("streaming.prior_store_bytes", "bytes"),
    lower("streaming.last_to_first_trigger_ratio", "ratio"),
    lower("streaming.kept_ratio", "ratio"),
  ) ++ jobLayers.flatMap(l => Seq(lower(s"$l.jobs", "count"), lower(s"$l.job_s", "s"))) ++
    operatorNames.flatMap(o => Seq(
      lower(s"op.$o.self_s", "s"), lower(s"op.$o.build_s", "s"), higher(s"op.$o.pass_rate", "ratio")))
}
