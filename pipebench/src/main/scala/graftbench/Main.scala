package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The pipeline benchmark's entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`): builds the session several times (`setup_s`),
  * generates the workload's input from the seed (not timed), makes one cold
  * run, then closed-loop warm runs for `--seconds`, checking every run's
  * output. Prints the end-to-end metrics.
  *
  * Traced (`--trace 1`): the same runs with listeners attached, the
  * layer-by-layer replay, and a single-core baseline. Prints the per-layer
  * metrics and writes the spans to the work directory.
  *
  * The last line of standard output is the JSON result record.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cores: Int)

  def parse(args: Seq[String]): Args = {
    val m = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = m.getOrElse("work", "pipebench/work"),
      cores = Runtime.getRuntime.availableProcessors())
  }

  /** Untraced setup builds per run; the median is `setup_s`. */
  val SetupBuilds = 15
  /** Timed warm runs (batch runs or stream drains) at least, whatever
    * `--seconds` says.
    */
  val MinWarmRuns = 3
  /** Stop starting new runs after this long, so a run ends well inside 180 s. */
  val WallBudgetSeconds = 140.0

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        run(parse(argv.toSeq))
      } catch {
        case e: Throwable =>
          System.err.println(s"benchmark error: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(a: Args, master: String, cores: Int): SparkSession = {
    val s = GraftSession.builder(master, cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // session state (parser, analyzer, the graft extensions) builds lazily
    s.sql("SELECT 1").schema
    s
  }

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[pipebench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def run(a: Args): Int = {
    val started = System.nanoTime()
    def elapsed = (System.nanoTime() - started) / 1e9
    // long call sites, so a job's first engine frame is always in them
    System.setProperty("spark.callstack.depth", "200")
    val workload = Workloads.byName(a.workload)
    val paths = Paths(s"${a.work}/${a.workload}")
    FsUtil.deleteTree(new java.io.File(paths.root))

    // ---- set-up: build the session several times, keep the last ----
    var spark: SparkSession = null
    val setupTimes = (1 to (if (a.trace) 1 else SetupBuilds)).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a, s"local[${a.cores}]", a.cores)
      (System.nanoTime() - t0) / 1e9
    }
    log(f"setup builds: ${setupTimes.map(t => f"$t%.3f").mkString(", ")}")

    val files = 2 * a.cores
    val g0 = System.nanoTime()
    val prepared = workload.prepare(spark, a.seed, files, paths)
    log(f"generated ${prepared.inputRows} rows, ${prepared.inputBytes} bytes in ${(System.nanoTime() - g0) / 1e9}%.1f s")

    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    var referenceHash: Option[String] = None
    /** The output checks, plus the content hash against the first run's. */
    def check(session: SparkSession)(out: RunOutput): Seq[String] = {
      val problems = prepared.check(session, out)
      val h = prepared.contentHash(session, out)
      referenceHash match {
        case None => referenceHash = Some(h); problems
        case Some(ref) if ref == h => problems
        case Some(ref) => problems :+ s"output content hash $h differs from first run's $ref"
      }
    }
    var lastHeapMb = 0.0
    def attemptRun(): Outcome[RunOutput] = {
      prepared.clean()
      Heap.start()
      val o = Stats.attempt {
        val out = prepared.run(spark)
        lastHeapMb = Heap.stop() / 1048576.0
        out
      }(check(spark))
      o match {
        case Ok(s, out) => log(f"${a.workload} run ok in $s%.3f s, heap peak $lastHeapMb%.1f MB" +
          (if (out.progress.isEmpty) "" else s", triggers ${out.triggerSeconds.mkString(" ")} s"))
        case Failed(r) => log(s"${a.workload} run FAILED: $r")
      }
      o
    }

    // ---- cold run ----
    val cg0 = CodegenCounters.snapshot()
    val cold = attemptRun()
    val coldCodegen = CodegenCounters.snapshot().minus(cg0)
    val isStream = workload == Workloads.StreamDedup
    val warmup = (1 to workload.warmupRuns).map(_ => attemptRun())

    // ---- warm runs: closed loop, one client ----
    def warmLoop(seconds: Double, minRuns: Int): (Seq[Outcome[RunOutput]], Seq[Double]) = {
      val outcomes = mutable.ArrayBuffer.empty[Outcome[RunOutput]]
      val heaps = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def loopElapsed = (System.nanoTime() - t0) / 1e9
      var consecutiveFailures = 0
      while ((loopElapsed < seconds || outcomes.count(_.isInstanceOf[Ok[_]]) < minRuns) &&
          consecutiveFailures < 3 && elapsed < WallBudgetSeconds) {
        val o = attemptRun()
        outcomes += o
        o match {
          case Ok(_, _) => heaps += lastHeapMb; consecutiveFailures = 0
          case _ => consecutiveFailures += 1
        }
      }
      (outcomes.toSeq, heaps.toSeq)
    }
    if (!a.trace) {
      val (warm, heaps) = warmLoop(a.seconds, MinWarmRuns)
      val all = (cold +: warmup) ++ warm
      val failures = Stats.failures(all)
      val warmTimes = Stats.timings(warm)
      val commits: Seq[Double] =
        if (isStream) warm.collect { case Ok(_, r) => r.triggerSeconds }.flatten
        else warmTimes
      val metrics = mutable.ArrayBuffer.empty[Metric]
      metrics += Metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
      cold match {
        case Ok(s, _) => metrics += Metric("cold_run_s", s, "s", 1)
        case _ =>
      }
      if (warmTimes.nonEmpty) {
        val p50 = Stats.median(warmTimes)
        metrics += Metric("run_s_p50", p50, "s", warmTimes.size)
        metrics += Metric("records_per_s", prepared.inputRows / p50, "records/s", warmTimes.size)
        metrics += Metric("micro_batch_s_p50", Stats.median(commits), "s", commits.size)
        metrics += Metric("live_heap_peak_mb", Stats.median(heaps), "MB", heaps.size)
      }
      val errorRate = failures.size.toDouble / all.size
      println(Json(ListMap(
        "workload" -> a.workload, "seed" -> a.seed,
        "input_rows" -> prepared.inputRows, "input_bytes" -> prepared.inputBytes,
        "cores" -> a.cores, "error_rate" -> errorRate,
        "failures" -> failures,
        "metrics" -> Json.detailed(metrics.toSeq),
        // the highest commit-latency percentile with ten samples beyond it
        "micro_batch_tail" -> Stats.tailRank(commits.size).map(q => ListMap(
          "rank" -> q, "value_s" -> Stats.percentile(commits, q))))))
      if (a.workload == Workloads.WebClean.name || a.workload == Workloads.NearDedup.name)
        metrics.find(_.name == "records_per_s").foreach(m => println(f"context: ${m.value}%.0f records/s on ${a.cores} cores " +
          "(reference pipeline: 20,362 rec/s for url + length filters on 8 cores; not a gate)"))
      spark.stop()
      val correct = failures.isEmpty && metrics.size == MetricSpecs.endToEnd.size
      println(Json.result(correct, all.size, failures.size, metrics.toSeq))
      0
    } else {
      runTraced(a, spark, workload, prepared, tracer.get, cold +: warmup, coldCodegen,
        attemptRun _, s => check(s), elapsed _)
    }
  }

  /** The traced run: untraced and traced warm runs for the overhead ratio,
    * per-run listener metrics, the layer replay and the one-core baseline.
    */
  private def runTraced(a: Args, spark0: SparkSession, workload: Workload, prepared: Prepared,
      tracer: Tracer, untimed: Seq[Outcome[RunOutput]], coldCodegen: CodegenCounters.Counts,
      attemptRun: () => Outcome[RunOutput], check: SparkSession => RunOutput => Seq[String],
      elapsed: () => Double): Int = {
    var spark = spark0
    val spans = mutable.ArrayBuffer.empty[Span]
    val problems = mutable.ArrayBuffer.empty[String]
    val outcomes = mutable.ArrayBuffer[Outcome[RunOutput]](untimed: _*)

    // untraced and traced warm runs come in pairs, in alternating order, so
    // JIT warm-up over the process's life does not bias the overhead ratio
    val untraced = mutable.ArrayBuffer.empty[Outcome[RunOutput]]
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    var lastOk: Option[RunOutput] = None
    val pairsStart = System.nanoTime()
    val minPairs = if (workload == Workloads.StreamDedup) 1 else 2
    var k = 0
    def untracedRun(): Unit = {
      tracer.uninstall()
      untraced += attemptRun()
    }
    def tracedRun(k: Int): Unit = {
      tracer.install()
      tracer.drain(); tracer.reset()
      prepared.clean()
      val runId = s"run-$k"
      var startMs, endMs = 0L
      var runSpans = Seq.empty[Span]
      var snapshot = Map.empty[String, Double]
      val o = Stats.attempt {
        startMs = System.currentTimeMillis()
        val out = prepared.run(spark)
        endMs = System.currentTimeMillis()
        out
      } { out =>
        // read the listeners before the checks add jobs of their own
        tracer.drain()
        runSpans = tracer.spans(runId)
        snapshot = TraceMetrics.fromRun(tracer, (endMs - startMs) / 1000.0, a.cores, prepared, out)
        if (out.progress.nonEmpty)
          snapshot += "streaming.kept_ratio" -> spark.read.parquet(prepared.paths.out).count().toDouble / prepared.inputRows
        check(spark)(out)
      }
      outcomes += o
      o match {
        case Ok(secs, out) =>
          tracedTimes += secs
          lastOk = Some(out)
          spans += Span(runId, "", "run", a.workload, startMs, endMs)
          spans ++= runSpans
          perRun += snapshot
          log(f"${a.workload} traced run ok in $secs%.3f s")
        case Failed(r) => problems += s"traced run: $r"
      }
    }
    while ((k < minPairs || (System.nanoTime() - pairsStart) / 1e9 < a.seconds) &&
        k < 8 && elapsed() < WallBudgetSeconds) {
      // alternate which side of the pair goes first
      if (k % 2 == 0) { untracedRun(); tracedRun(k) } else { tracedRun(k); untracedRun() }
      k += 1
    }
    tracer.uninstall()
    outcomes ++= untraced
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    MetricSpecs.perLayer.foreach(s => metrics(s.name) = 0.0)
    if (perRun.nonEmpty)
      perRun.head.keys.foreach(key => metrics(key) = Stats.median(perRun.map(_(key)).toSeq))
    metrics("codegen.compile_ms") = coldCodegen.compileMs
    metrics("codegen.classes") = coldCodegen.compilations.toDouble
    metrics("staging.leaked_frames") = graft.core.Staging.liveCount.toDouble
    val untracedTimes = Stats.timings(untraced.toSeq)
    if (untracedTimes.nonEmpty && tracedTimes.nonEmpty)
      metrics("trace.overhead_ratio") = Stats.median(tracedTimes.toSeq) / Stats.median(untracedTimes)

    // ---- layer-by-layer replay through the public functions ----
    for (conf <- prepared.conf; result <- lastOk.flatMap(_.result)) {
      val (values, issues) = Replay.run(spark, conf, result.run, prepared.paths, spans)
      values.foreach { case (key, v) => metrics(key) = v }
      problems ++= issues
    }

    // ---- single-core baseline ----
    val scaled = Set(Workloads.WebClean.name, Workloads.NearDedup.name)
    if (scaled(a.workload) && untracedTimes.nonEmpty && elapsed() < WallBudgetSeconds) {
      spark.stop()
      spark = session(a, "local[1]", 1)
      val one = (1 to 2).map { _ =>
        prepared.clean()
        Stats.attempt(prepared.run(spark))(check(spark))
      }
      outcomes ++= one
      Stats.failures(one).foreach(r => problems += s"single-core run: $r")
      one.last match {
        case Ok(s, _) =>
          metrics("scheduler.speedup_vs_1core") = s / Stats.median(untracedTimes)
          log(f"single-core run $s%.3f s vs ${a.cores}-core ${Stats.median(untracedTimes)}%.3f s")
        case _ =>
      }
    }
    spark.stop()

    val spanFile = new java.io.File(s"${a.work}/spans-${a.workload}-seed${a.seed}.jsonl")
    val w = new java.io.PrintWriter(spanFile, "UTF-8")
    try spans.foreach(s => w.println(s.json)) finally w.close()

    val failures = Stats.failures(outcomes.toSeq)
    val specs = MetricSpecs.perLayer.map(s => s.name -> s).toMap
    val out = metrics.toSeq.filter { case (k, _) => specs.contains(k) }
      .map { case (k, v) => Metric(k, v, specs(k).unit, perRun.size) }
    println(Json(ListMap(
      "workload" -> a.workload, "seed" -> a.seed,
      "spans" -> spanFile.getPath, "span_count" -> spans.size,
      "traced_runs" -> perRun.size,
      "failures" -> (failures ++ problems).distinct)))
    val correct = failures.isEmpty && problems.isEmpty && perRun.nonEmpty
    println(Json.result(correct, outcomes.size, failures.size, out))
    0
  }
}

/** Live heap after GC: the peak, over the collections during a run, of
  * heap still in use after the collection.
  */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  @volatile private var active = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (active && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, live) }
          }
        }, null, null)
      case _ =>
    }

  /** Collect, then start tracking from the heap live right now. */
  def start(): Unit = {
    installed
    active = false
    System.gc()
    val live = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    synchronized { peak = live }
    active = true
  }

  def stop(): Long = { active = false; peak }
}

/** Spark's JVM-wide codegen counters (compilations and compile time). */
object CodegenCounters {
  import org.apache.spark.metrics.source.CodegenMetrics

  final case class Counts(compilations: Long, compileMs: Double) {
    def minus(o: Counts): Counts = Counts(compilations - o.compilations, compileMs - o.compileMs)
  }

  /** Compile time is the histogram's mean times its count: the histogram
    * keeps a sample of recent compilations, not their exact sum.
    */
  def snapshot(): Counts = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Counts(h.getCount, h.getSnapshot.getMean * h.getCount)
  }
}
