package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run, SQL execution, job, stage, trigger or a
  * benchmark-side call into a layer. `parent` is the span that caused it.
  */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Long, endMs: Long, attrs: Seq[(String, String)] = Nil) {
  def json: String = Json(scala.collection.immutable.ListMap(
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs)
}

/** The repository's modules, used as the benchmark's layers. */
object Layers {
  val All: Seq[String] = Seq("runner", "operators.text", "operators.dedup",
    "operators.vector", "operators.ml", "plans", "functions", "core", "io",
    "metrics", "streaming")

  /** Layer of an engine class name (`graft.` prefix). */
  def ofClass(cls: String): String = {
    val pkg = cls.stripPrefix("graft.")
    val top = pkg.takeWhile(_ != '.')
    top match {
      case "operators" =>
        pkg.stripPrefix("operators.").takeWhile(_ != '.') match {
          case f @ ("text" | "dedup" | "vector" | "ml") => s"operators.$f"
          case _ => "operators.other"
        }
      case "ml" => "operators.ml"
      case "runner" | "plans" | "functions" | "core" | "io" | "metrics" | "streaming" => top
      case _ => "other"
    }
  }

  /** Class of the first engine frame of a call-site string (one frame a
    * line, innermost first), skipping the benchmark's own frames.
    */
  def firstEngineClass(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(_.trim).collectFirst {
      case line if line.startsWith("graft.") =>
        val method = line.takeWhile(_ != '(')
        method.substring(0, math.max(0, method.lastIndexOf('.')))
    }

  /** (layer, class) a call site is attributed to; "spark" when no engine frame. */
  def attribute(callSite: String): (String, String) =
    firstEngineClass(callSite) match {
      case Some(cls) => (ofClass(cls), cls)
      case None => ("spark", "")
    }
}

final class JobRec(val id: Int, val start: Long, val execId: Option[Long],
    val layer: String, val cls: String, val site: String) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int, val jobId: Int, val numTasks: Int, val layer: String) {
  var submitted: Long = -1L
  var completed: Long = -1L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** Task-metric totals over a set of tasks. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var scanTasks = 0L
  var outputBytes = 0L
}

/** Listener-side record of everything Spark reports while a traced run
  * executes. Registered once per session; [[reset]] between runs.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  @volatile var totals = new TaskTotals
  val sqlStarts = mutable.LinkedHashMap.empty[Long, (String, Long)]
  val sqlEnds = mutable.Map.empty[Long, Long]
  val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var executions = 0
  val planCounts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val triggers = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val rddBlocks = mutable.Map.empty[String, Long]
  var cachedBytes = 0L
  var cachedPeakBytes = 0L

  def reset(): Unit = lock.synchronized {
    jobs.clear(); stages.clear(); sqlStarts.clear(); sqlEnds.clear()
    phasesMs.clear(); planCounts.clear(); triggers.clear()
    executions = 0
    totals = new TaskTotals
    cachedPeakBytes = cachedBytes
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val props = Option(e.properties)
      // Spark pins every job of a streaming query to the call site of its
      // start(); those jobs are the streaming module's micro-batch work
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      val (layer, cls) =
        if (streaming) ("streaming", "graft.streaming.StreamingCuration$") else Layers.attribute(site)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs(e.jobId) = new JobRec(e.jobId, e.time, exec, layer, cls,
        site.linesIterator.take(4).mkString(" | "))
      e.stageInfos.foreach { si =>
        stages.getOrElseUpdate(si.stageId,
          new StageRec(si.stageId, e.jobId, si.numTasks,
            if (streaming) layer else Layers.attribute(si.details)._1))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach(s =>
        s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach(s =>
        s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        totals.tasks += 1
        totals.runMs += m.executorRunTime
        totals.cpuNs += m.executorCpuTime
        totals.gcMs += m.jvmGCTime
        totals.resultBytes += m.resultSize
        totals.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        totals.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        totals.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        totals.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        totals.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.bytesRead > 0) totals.scanTasks += 1
        totals.outputBytes += m.outputMetrics.bytesWritten
        stages.get(e.stageId).foreach(_.taskRunMs += m.executorRunTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        val prev = rddBlocks.getOrElse(info.blockId.name, 0L)
        if (size > 0) rddBlocks(info.blockId.name) = size else rddBlocks.remove(info.blockId.name)
        cachedBytes += size - prev
        cachedPeakBytes = math.max(cachedPeakBytes, cachedBytes)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => sqlStarts(s.executionId) = (s.description, s.time)
        case s: SparkListenerSQLExecutionEnd => sqlEnds(s.executionId) = s.time
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { triggers += e }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val counts = try PlanStats.of(qe.executedPlan) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Map.empty[String, Long]
    }
    lock.synchronized {
      executions += 1
      phases.foreach { case (name, p) => phasesMs(name) += p.durationMs }
      counts.foreach { case (k, v) => planCounts(k) += v }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans of everything recorded since the last reset, under `parent`. */
  def spans(parent: String): Seq[Span] = lock.synchronized {
    val sql = sqlStarts.toSeq.map { case (id, (desc, start)) =>
      Span(s"$parent/sql-$id", parent, "sql", desc.take(120), start, sqlEnds.getOrElse(id, start))
    }
    val js = jobs.values.toSeq.map { j =>
      val p = j.execId.filter(sqlStarts.contains).map(id => s"$parent/sql-$id").getOrElse(parent)
      Span(s"$parent/job-${j.id}", p, "job", j.cls, j.start, j.end,
        Seq("layer" -> j.layer, "call_site" -> j.site))
    }
    val ss = stages.values.toSeq.filter(_.submitted >= 0).map { s =>
      Span(s"$parent/stage-${s.id}", s"$parent/job-${s.jobId}", "stage", s"stage ${s.id}",
        s.submitted, s.completed, Seq("layer" -> s.layer, "tasks" -> s.numTasks.toString))
    }
    val ts = triggers.toSeq.map { e =>
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Span(s"$parent/trigger-${p.batchId}", parent, "trigger", s"batch ${p.batchId}",
        start, start + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        Seq("rows" -> p.numInputRows.toString))
    }
    sql ++ js ++ ss ++ ts
  }
}

/** Counts over a physical plan, AQE final plans and query stages included. */
object PlanStats {

  def of(plan: SparkPlan): Map[String, Long] = {
    val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def exprs(p: SparkPlan): Unit = p.expressions.foreach(_.foreach { e =>
      if (e.isInstanceOf[CodegenFallback]) c("interpreted_exprs") += 1
      if (e.getClass.getName.startsWith("graft.")) c("kernel_exprs") += 1
    })
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
      case q: QueryStageExec => walk(q.plan, inCodegen = false)
      case r: ReusedExchangeExec => walk(r.child, inCodegen = false)
      case w: WholeStageCodegenExec => w.children.foreach(walk(_, inCodegen = true))
      case i: InputAdapter => i.children.foreach(walk(_, inCodegen = false))
      case other =>
        other match {
          case _: ShuffleExchangeExec => c("exchanges") += 1
          case _: InMemoryTableScanExec => c("inmemory_scans") += 1
          case _ if !inCodegen => c("non_codegen_nodes") += 1
          case _ =>
        }
        exprs(other)
        other.subqueries.foreach(walk(_, inCodegen = false))
        other.children.foreach(walk(_, inCodegen))
    }
    walk(plan, inCodegen = false)
    c.toMap
  }
}
