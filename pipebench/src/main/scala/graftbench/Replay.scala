package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Disposition, Staging}
import graft.io.{ParquetDataWriter, RejectedWriter}
import graft.metrics.{HtmlReport, MetricsWriter, RunRollup}
import graft.runner.{OperatorRegistry, PipelineConf, PipelineRunner}

/** Per-layer numbers of one traced run, read from the [[Tracer]] after
  * the run's events have drained.
  */
object TraceMetrics {

  /** Total length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  def fromRun(t: Tracer, secs: Double, cores: Int, prepared: Prepared, out: RunOutput)
      : Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val jobs = t.jobs.values.toSeq
    val done = jobs.filter(_.end >= 0)
    m("driver.outside_jobs_s") = math.max(0.0, secs - unionMs(done.map(j => (j.start, j.end))) / 1000.0)
    m("driver.jobs") = jobs.size
    m("driver.result_bytes") = t.totals.resultBytes
    m("catalyst.executions") = t.executions
    m("catalyst.analysis_ms") = t.phasesMs("analysis")
    m("catalyst.optimization_ms") = t.phasesMs("optimization")
    m("catalyst.planning_ms") = t.phasesMs("planning")
    Seq("interpreted_exprs", "kernel_exprs", "non_codegen_nodes", "exchanges", "inmemory_scans")
      .foreach(k => m(s"plans.$k") = t.planCounts(k))
    val ran = t.stages.values.toSeq.filter(_.submitted >= 0)
    m("scheduler.stages") = ran.size
    m("scheduler.one_task_stages") = ran.count(_.numTasks == 1)
    m("scheduler.tasks") = t.totals.tasks
    m("scheduler.task_run_s") = t.totals.runMs / 1000.0
    m("scheduler.task_cpu_s") = t.totals.cpuNs / 1e9
    m("scheduler.core_util") = if (secs > 0) t.totals.runMs / 1000.0 / (secs * cores) else 0.0
    val skews = ran.filter(_.taskRunMs.size >= 2).flatMap { s =>
      val mean = s.taskRunMs.sum.toDouble / s.taskRunMs.size
      if (mean > 0) Some(s.taskRunMs.max / mean) else None
    }
    m("scheduler.task_skew") = if (skews.isEmpty) 1.0 else Stats.median(skews)
    m("scheduler.gc_s") = t.totals.gcMs / 1000.0
    m("shuffle.write_bytes") = t.totals.shuffleWriteBytes
    m("shuffle.read_bytes") = t.totals.shuffleReadBytes
    m("shuffle.fetch_wait_s") = t.totals.fetchWaitMs / 1000.0
    m("shuffle.spill_bytes") = t.totals.spillBytes
    m("scan.input_bytes") = t.totals.inputBytes
    m("scan.tasks") = t.totals.scanTasks
    m("staging.jobs") = jobs.count(_.cls.startsWith("graft.core.Staging"))
    m("staging.cached_peak_bytes") = t.cachedPeakBytes
    m("io.bytes_written") = t.totals.outputBytes
    m("io.files_written") = prepared.outputFiles
    m("io.write_amplification") = prepared.outputBytes.toDouble / math.max(1L, prepared.inputBytes)
    MetricSpecs.jobLayers.foreach { l =>
      val mine = done.filter(_.layer == l)
      m(s"$l.jobs") = jobs.count(_.layer == l)
      m(s"$l.job_s") = mine.map(j => j.end - j.start).sum / 1000.0
    }
    if (out.progress.nonEmpty) {
      def durations(key: String): Seq[Double] =
        out.progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
      val trig = durations("triggerExecution")
      m("streaming.triggers") = out.progress.size
      m("streaming.add_batch_ms_p50") = Stats.median(durations("addBatch"))
      m("streaming.query_planning_ms_p50") = Stats.median(durations("queryPlanning"))
      m("streaming.wal_commit_ms_p50") = Stats.median(durations("walCommit"))
      m("streaming.prior_store_bytes") = FsUtil.bytes(s"${prepared.paths.run}/prior")
      val k = math.max(1, trig.size / 3)
      m("streaming.last_to_first_trigger_ratio") =
        Stats.median(trig.takeRight(k)) / math.max(1.0, Stats.median(trig.take(k)))
    }
    m.toMap
  }
}

/** The layer-by-layer replay: the batch run driven one public function at
  * a time, each call timed and recorded as a span.
  */
object Replay {

  private def timed[T](spans: mutable.Buffer[Span], name: String)(body: => T): (T, Double) = {
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    spans += Span(s"replay/$name", "replay", "call", name, s0, System.currentTimeMillis())
    (r, secs)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Returns the replay metrics and any disagreement between the replay's
    * per-operator row counts and the runner's metrics rollup.
    */
  def run(spark: SparkSession, conf: PipelineConf, rollup: RunRollup, paths: Paths,
      spans: mutable.Buffer[Span]): (Map[String, Double], Seq[String]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val issues = mutable.ArrayBuffer.empty[String]
    val dir = s"${paths.root}/replay"
    FsUtil.deleteTree(new java.io.File(dir))
    val r0 = System.currentTimeMillis()
    Staging.scoped {
      val (loaded, loadS) = timed(spans, "PipelineRunner.load")(PipelineRunner.load(spark, conf.loader))
      m("runner.load_s") = loadS
      val ops = conf.stages.flatMap(_.operators)
      val counted = rollup.stages.flatMap(_.operators)
      var prev = loaded.persist()
      var prevRows = prev.count()
      ops.zipWithIndex.foreach { case (o, i) =>
        val (df, buildS) = timed(spans, s"build:${o.name}") {
          OperatorRegistry.create(o.name, o.params)(prev)
        }
        val (_, selfS) = timed(spans, s"self:${o.name}")(noop(df))
        val next = df.persist()
        val rows = next.count()
        m(s"op.${o.name}.build_s") = buildS
        m(s"op.${o.name}.self_s") = selfS
        m(s"op.${o.name}.pass_rate") = if (prevRows > 0) rows.toDouble / prevRows else 0.0
        counted.lift(i) match {
          case Some(c) if c.input == prevRows && c.output == rows =>
          case Some(c) => issues += s"replay ${o.name}: ${prevRows} -> $rows rows, " +
            s"rollup says ${c.input} -> ${c.output}"
          case None => issues += s"replay ${o.name}: no rollup entry"
        }
        prev.unpersist()
        prev = next
        prevRows = rows
      }
      val wp = conf.writer.params
      val writer = new ParquetDataWriter(s"$dir/out", "curated", partitionBy = wp.str("partition_by"))
      m("io.write_s") = timed(spans, "ParquetDataWriter.write")(writer.write(prev))._2
      prev.unpersist()
      if (conf.executor.rejectedEnabled) {
        var d = Disposition.init(PipelineRunner.load(spark, conf.loader))
        ops.zipWithIndex.foreach { case (o, i) =>
          d = Disposition.step(d, OperatorRegistry.create(o.name, o.params), s"_r$i")
        }
        val annotated = d.persist()
        annotated.count()
        m("io.rejected_write_s") = timed(spans, "RejectedWriter.writeAll") {
          RejectedWriter.writeAll(Disposition.rejected(annotated), s"$dir/out", "curated")
        }._2
        annotated.unpersist()
      }
      m("metrics.write_s") = timed(spans, "MetricsWriter.write") {
        MetricsWriter.write(spark, rollup, s"$dir/metrics")
      }._2
      m("metrics.report_s") = timed(spans, "HtmlReport.write") {
        HtmlReport.write(rollup, s"$dir/report.html")
      }._2
    }
    spans += Span("replay", "", "replay", "layer replay", r0, System.currentTimeMillis())
    FsUtil.deleteTree(new java.io.File(dir))
    (m.toMap, issues.toSeq)
  }
}
