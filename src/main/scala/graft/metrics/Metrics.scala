package graft.metrics

import graft.core.{Operator, Staging}
import graft.io.DriverCommit
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Three-level metrics (operator / stage / run) with the reference's
  * rollup semantics (framework/metrics/collector.py:75-217,
  * aggregator.py:109-174):
  *  - operators in a stage run serially → stage input = FIRST operator's
  *    input, stage output = LAST operator's output (not sums);
  *  - stages in a run run serially → run input = first stage input, run
  *    output = last stage output;
  *  - stage time = MAX over operators (bottleneck), pass_rate =
  *    100·out/in guarded on in>0.
  *
  * Counting rides `df.observe` (CollectMetrics): every operator boundary
  * gets an observation and ONE terminal action fills them all in a single
  * pass — the Spark-native form of the reference's per-worker counters
  * summed by the aggregator (executor.py:760-823; the shuffle-free
  * cross-task sum IS the cross-worker aggregation, SURVEY.md §2.5 A2).
  *
  * Per-operator wall-clock latency percentiles are a record-batch concept
  * that does not survive whole-stage codegen fusion (operators fuse into
  * one stage by design); latency fields are populated only by the
  * separate [[MeteredPipeline.timedRunThrough]] mode, which executes one
  * action per boundary to attribute wall time, and are 0.0 in fused
  * mode.
  */
final case class OperatorCounts(
    opIndex: Int, name: String, input: Long, output: Long, timeSec: Double) {
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
}

final case class StageRollup(
    stageName: String, numOperators: Int, input: Long, output: Long,
    timeSec: Double, operators: Seq[OperatorCounts]) {
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
}

final case class RunRollup(
    runId: String, stages: Seq[StageRollup], durationSec: Double) {
  def input: Long = stages.headOption.map(_.input).getOrElse(0L)
  def output: Long = stages.lastOption.map(_.output).getOrElse(0L)
  def passRate: Double = if (input > 0) 100.0 * output / input else 0.0
  def avgThroughput: Double = if (durationSec > 0) input / durationSec else 0.0
}

object MetricsRollup {
  /** Stage rollup from serial operator counts (first-in / last-out / max-time). */
  def stage(stageName: String, counts: Seq[OperatorCounts]): StageRollup =
    StageRollup(
      stageName,
      counts.size,
      counts.headOption.map(_.input).getOrElse(0L),
      counts.lastOption.map(_.output).getOrElse(0L),
      if (counts.isEmpty) 0.0 else counts.map(_.timeSec).max,
      counts)

  def run(runId: String, stages: Seq[StageRollup], durationSec: Double): RunRollup =
    RunRollup(runId, stages, durationSec)
}

/** One pipeline stage with observation-instrumented operator boundaries. */
final class MeteredPipeline(val stageName: String, val ops: Seq[Operator]) {

  /** Instrument the chain: returns the output DataFrame plus a thunk that
    * yields per-operator counts AFTER the caller runs exactly one action
    * on the returned frame. Single pass, no extra jobs.
    */
  def instrument(input: DataFrame): (DataFrame, () => Seq[OperatorCounts]) = {
    val inObs = Observation()
    var df = input.observe(inObs, count(lit(1)).as("n"))
    val boundary = ops.map { op =>
      df = op(df)
      val obs = Observation()
      df = df.observe(obs, count(lit(1)).as("n"))
      op.name -> obs
    }
    def counts(): Seq[OperatorCounts] = {
      var prev = inObs.get("n").asInstanceOf[Long]
      boundary.zipWithIndex.map { case ((name, obs), i) =>
        val out = obs.get("n").asInstanceOf[Long]
        val c = OperatorCounts(i, name, prev, out, 0.0)
        prev = out
        c
      }
    }
    (df, counts)
  }

  /** Fused-mode run: one action (a `noop`-format write of the output)
    * fills every boundary.
    */
  def run(input: DataFrame): (Seq[OperatorCounts], StageRollup) = {
    val (df, counts) = instrument(input)
    df.write.format("noop").mode("overwrite").save()
    val cs = counts()
    (cs, MetricsRollup.stage(stageName, cs))
  }

  /** Disposition-mode twin of `instrument`: operators MARK rows dead
    * (graft.core.Disposition) instead of dropping them, so boundary
    * counts are alive-row counts. Phase 1 of two (r17): step the ops,
    * SNAPSHOTTING the alive flag at each boundary into an
    * `_ob<tagPrefix><i>` column — counting is deferred to
    * [[MeteredPipeline.observeBoundaries]], attached ONCE after the
    * whole run's chain is built. A per-boundary Observation attached
    * here could be fired — and frozen — with a zero-row `[null]` fill
    * by a LATER operator that runs its own eager Spark actions on the
    * chained frame during construction (a k-means fit in
    * `AutoBucketedCosineDedup.mark` fires every upstream CollectMetrics
    * that way — the tuned-semantic-dedup config read `input=0`); the
    * deferred single observation is only ever filled by the run's
    * terminal write. Disposition never drops rows, so every boundary
    * flag survives to the terminal frame by construction.
    */
  def dispositionChain(input: DataFrame, tagPrefix: String)
      : (DataFrame, Seq[(String, String)]) = {
    import graft.core.Disposition
    var df = input
    val bounds = ops.zipWithIndex.map { case (op, i) =>
      df = Disposition.step(df, op, s"$tagPrefix$i")
      val c = s"_ob$tagPrefix$i"
      df = df.withColumn(c, col(Disposition.AliveCol))
      op.name -> c
    }
    (df, bounds)
  }

  /** Instrumented-mode run: one action per boundary so wall time is
    * attributable per operator (the reference's per-operator
    * total_time) — use for profiling, not production. Returns the
    * stage's output frame too, so a runner can continue the chain. The
    * input and every boundary are staged ([[Staging.stage]]), so each
    * operator is charged only for its own work: operator i is timed
    * building and materializing `op(df_i)` over the staged `df_i`,
    * which is then released. The returned frame is the last stage,
    * still staged: the caller releases it (or its scope does).
    */
  def timedRunThrough(input: DataFrame): (DataFrame, Seq[OperatorCounts], StageRollup) = {
    var df = Staging.stage(input)
    var prev = df.count()
    val cs = ops.zipWithIndex.map { case (op, i) =>
      val t0 = System.nanoTime()
      val next = Staging.stage(op(df))
      val dt = (System.nanoTime() - t0) / 1e9
      Staging.release(df)
      df = next
      val out = df.count()
      val c = OperatorCounts(i, op.name, prev, out, dt)
      prev = out
      c
    }
    (df, cs, MetricsRollup.stage(stageName, cs))
  }
}

object MeteredPipeline {

  /** Phase 2 of disposition instrumentation (see
    * [[MeteredPipeline.dispositionChain]]): ONE observation over every
    * stage's boundary flags plus the run total, attached after the
    * whole chain is built — nothing can fire it but the run's terminal
    * write. Snapshot columns are dropped from the returned frame. The
    * per-stage thunks are valid after one action on the returned
    * frame; op input = the previous boundary's alive count, serial
    * across stages (the first op's input is the run total).
    */
  def observeBoundaries(df: DataFrame,
      stages: Seq[(String, Seq[(String, String)])])
      : (DataFrame, Seq[(String, () => Seq[OperatorCounts])]) = {
    val cols = stages.flatMap(_._2.map(_._2))
    val obs = Observation()
    val aggs = count(lit(1)).as("_n_in") +:
      cols.map(c => sum(when(col(c), 1L).otherwise(0L)).as(c))
    val observed = df.observe(obs, aggs.head, aggs.tail: _*).drop(cols: _*)
    lazy val all: Map[String, Long] = obs.get.map { case (k, v) =>
      k -> (v match { case null => 0L; case n => n.asInstanceOf[Long] })
    }
    def stageCounts(si: Int): Seq[OperatorCounts] = {
      var prev = stages.take(si).flatMap(_._2.map(_._2))
        .lastOption.map(all).getOrElse(all("_n_in"))
      stages(si)._2.zipWithIndex.map { case ((name, c), i) =>
        val out = all(c)
        val oc = OperatorCounts(i, name, prev, out, 0.0)
        prev = out
        oc
      }
    }
    (observed, stages.indices.map(si => stages(si)._1 -> (() => stageCounts(si))))
  }
}

/** W3: the three metrics parquet datasets with the reference's exact
  * column sets (framework/metrics/writer.py:28-82): `runs/`, `stages/`,
  * `operators/`. Latency/custom fields the fused engine cannot observe
  * are written as 0.0 / NULL, schema-compatible. Each run appends one
  * parquet file per dataset, written and committed on the driver with no
  * Spark job (see [[write]]).
  */
object MetricsWriter {

  val operatorSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("stage_name", StringType),
    StructField("operator_name", StringType), StructField("worker_id", StringType),
    StructField("timestamp", TimestampType), StructField("input_records", LongType),
    StructField("output_records", LongType), StructField("pass_rate", DoubleType),
    StructField("total_time", DoubleType), StructField("avg_latency", DoubleType),
    StructField("min_latency", DoubleType), StructField("max_latency", DoubleType),
    StructField("p50_latency", DoubleType), StructField("p95_latency", DoubleType),
    StructField("p99_latency", DoubleType), StructField("throughput", DoubleType),
    StructField("error_count", LongType), StructField("custom_metrics", StringType)))

  val stageSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("stage_name", StringType),
    StructField("timestamp", TimestampType), StructField("num_workers", LongType),
    StructField("input_records", LongType), StructField("output_records", LongType),
    StructField("pass_rate", DoubleType), StructField("total_time", DoubleType),
    StructField("avg_throughput", DoubleType), StructField("min_throughput", DoubleType),
    StructField("max_throughput", DoubleType), StructField("error_count", LongType)))

  val runSchema: StructType = StructType(Seq(
    StructField("run_id", StringType), StructField("start_time", TimestampType),
    StructField("end_time", TimestampType), StructField("duration", DoubleType),
    StructField("num_stages", LongType), StructField("total_input_records", LongType),
    StructField("total_output_records", LongType), StructField("overall_pass_rate", DoubleType),
    StructField("avg_throughput", DoubleType), StructField("total_errors", LongType),
    StructField("config", StringType)))

  def newRunId(): String = {
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    s"run_${ts}_${java.util.UUID.randomUUID.toString.take(8)}"
  }

  def operatorRows(run: RunRollup, at: java.sql.Timestamp): Seq[Row] =
    for (s <- run.stages; c <- s.operators) yield Row(
      run.runId, s.stageName, c.name, "spark", at, c.input, c.output, c.passRate,
      c.timeSec, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
      if (c.timeSec > 0) c.input / c.timeSec else 0.0, 0L, null)

  def stageRows(run: RunRollup, at: java.sql.Timestamp): Seq[Row] =
    run.stages.map { s =>
      val tps = s.operators.map(c => if (c.timeSec > 0) c.input / c.timeSec else 0.0).filter(_ > 0)
      Row(run.runId, s.stageName, at, 1L, s.input, s.output, s.passRate, s.timeSec,
        if (tps.nonEmpty) tps.sum / tps.size else 0.0,
        if (tps.nonEmpty) tps.min else 0.0,
        if (tps.nonEmpty) tps.max else 0.0, 0L)
    }

  def runRows(run: RunRollup, start: java.sql.Timestamp, end: java.sql.Timestamp,
      configJson: String): Seq[Row] =
    Seq(Row(run.runId, start, end, run.durationSec, run.stages.size.toLong,
      run.input, run.output, run.passRate, run.avgThroughput, 0L, configJson))

  /** Append one file to each of runs/ stages/ operators/ under `path`
    * (one file set per run, like the reference's per-timestamp files).
    * The rows are a handful of driver values, so they are written on the
    * driver with no Spark job: Spark's own parquet writer (same bytes as
    * a `DataFrame` write — INT96 timestamps, the session's codec, the
    * Spark row schema in the footer) writes `part-00000-<uuid>-c000<ext>`
    * under a hidden `_` name and a rename commits it ([[DriverCommit]]).
    * No `_SUCCESS` marker is written: the rename is the commit.
    */
  def write(spark: SparkSession, run: RunRollup, path: String,
      configJson: String = "{}"): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    writeFile(spark, s"$path/runs", runSchema, runRows(run, now, now, configJson))
    writeFile(spark, s"$path/stages", stageSchema, stageRows(run, now))
    writeFile(spark, s"$path/operators", operatorSchema, operatorRows(run, now))
  }

  private[graft] def writeFile(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft-metrics", 0), TaskType.MAP, 0), 0))
    val d = new Path(dir)
    val fs = d.getFileSystem(job.getConfiguration)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    DriverCommit.commit(fs, d, name) { tmp =>
      val w = factory.newInstance(tmp.toString, schema, ctx)
      try rows.foreach(r => w.write(toCatalyst(r).asInstanceOf[InternalRow]))
      finally w.close()
    }
  }
}
