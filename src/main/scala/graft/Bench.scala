package graft
import graft.core.BenchHarness
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 223-query suite: the full 10k codegen-cache bound (see GraftSession)
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", cpus.toInt, codegenCacheEntries = 10000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      // scoped staging: frames release at block exit, INSIDE the timed
      // region — staging cost is the query's honest cost, and leaked
      // blocks would bleed memory pressure into LATER queries'
      // measurements.
      //
      // ESTIMATOR NOTE for cross-round comparisons: pre-r14 records
      // never released, so a staging operator's 2nd/3rd rep found the
      // 1st rep's still-registered cache (CacheManager matches by
      // canonical plan) and its "min" was a warm-cache artifact —
      // ks_statistic read 0.19 s warm vs 0.82 s honest-cold, with the
      // same ~2-4x on vocab_coverage / quantile_rank / mutual_information
      // / events_anomaly / language_confusion. r14+ legs for those
      // operators measure the full per-invocation cost.
      graft.core.Staging.scoped {
        // noop sink materializes every output column (count() would let
        // Catalyst prune the computed columns and fake the numbers)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    // Deterministic order + warmup + WARM MIN of n>=3: without the
    // warmup the first Map-ordered query eats JVM/codegen warmup (~9s in
    // round 1). The per-query record is the MINIMUM over warm reps, not
    // the median: ambient host load is strictly additive noise, and the
    // r12 official record proved sustained contention can poison 2 of 3
    // reps (minhash_lsh_dedup_capped read 5.62 s official vs 1.15 s on
    // the identical code clean — a phantom 5x regression the min
    // estimator is robust to, the median is not).
    //
    // Wall guard: under host contention single queries have swung 160x
    // (r9 driver run: rc 124, no parseable record at all). Once any rep
    // of a query exceeds `wallLimit` seconds, that measurement is kept
    // and the remaining passes are skipped — the bench's worst case is
    // bounded at ~(warmup + 1 slow rep + 1 retry) per query instead of
    // 4x the blowup. Guarded queries are listed in "wall_guarded"; each
    // gets ONE end-of-suite retry (min over all observed runs stays the
    // official value) and per-run evidence in "reps_detail" — the r15
    // driver record canonized a 39.3 s contended rep of a 1.3 s leg, and
    // the retry + evidence make that artifact impossible to mistake for
    // a regression (VERDICT r15 #2).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val wallLimit = sys.env.getOrElse("SPARK_GRAFT_BENCH_WALL_SEC", "30").toDouble
    // Builder-local iteration aid (mirrors Verify's SPARK_GRAFT_ONLY):
    // restrict the run to a comma-list of query names. The official
    // driver run never sets it — the full sweep is the record.
    // an EMPTY value means "no restriction", not "run nothing" — an
    // empty set would silently emit a plausible-looking all-zero record
    val benchOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => benchOnly.forall(_(n)) }

    // AMBIENT CONTROL (r20, VERDICT r19 #2): one pinned, deterministic,
    // NEVER-TO-BE-OPTIMIZED leg interleaved with the gate reps and
    // emitted as "control_sec" (separate field — NOT a queries entry, so
    // the total and the per-query list stay round-over-round comparable).
    // Rationale: the r19 driver window ran ~1.45x slower than r18's on
    // byte-identical code and 13 of 15 "regressions" were window drift
    // nothing in the record could prove. The control's round-over-round
    // ratio IS that proof: normalize per-query speedups by it before
    // calling anything a regression. The leg body is raw Spark built-ins
    // only (scan -> split -> explode -> hash -> partial agg -> exchange
    // -> final agg: the text family's canonical shape); it deliberately
    // bypasses every graft operator and kernel so no future optimization
    // can touch it. DO NOT OPTIMIZE, RENAME, OR RESHAPE THIS LEG.
    val controlName = "__ambient_control"
    def controlLeg(): Unit = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("_w"))
        .groupBy(pmod(xxhash64(col("_w")), lit(1024)).as("_k"))
        .agg(count(lit(1)).as("_n"), bit_xor(xxhash64(col("_w"))).as("_x"))
        .write.format("noop").mode("overwrite").save()
    }

    // Results accumulate inside the harness as each query lands so the
    // shutdown hook can emit a parseable partial record even when the
    // driver's timeout kills the JVM mid-run (SIGTERM runs shutdown
    // hooks; rc 124 in r9 left "parsed": null because the summary only
    // printed at the end). r16: the measurement protocol (warmup +
    // interleaved warm-min + wall guard + end-of-suite retry) lives in
    // graft.core.BenchHarness, unit-tested in BenchHarnessSpec — a
    // guarded leg now carries per-run evidence and ONE retry, so a
    // single contended rep can't canonize a 30x artifact (the r15
    // driver record's minhash_lsh_dedup_transitive lesson).
    val harness = new BenchHarness(reps, wallLimit)
    def results = harness.results
    @volatile var probeRecord: Option[ListMap[String, Any]] = None
    // trimmed probe for the compact line: the full probe record grew past
    // the driver's 2000-char parse window (BENCH_r16 carried
    // "parsed": null because the compact line embedded all ~2.2 KB of
    // scale_probe) — the compact line carries only each leg's derived
    // throughput; the full probe stays in bench_out.json (committed) and
    // the full printed record.
    @volatile var probeCompact: Option[ListMap[String, Any]] = None
    @volatile var finishedNormally = false
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")

    // the control is read out of the harness results lazily so partial
    // (shutdown-hook) records also carry whatever was measured; a
    // control leg that threw reads null
    def controlSec = results.get(controlName).map(BenchHarness.sec)
    // measured gate legs in order; a failed leg keeps its key and reads null
    def gateSecs(m: collection.Map[String, Double]) = ListMap(ordered.collect {
      case (n, _) if m.contains(n) || harness.failed.contains(n) => n -> m.get(n).map(BenchHarness.sec)
    }: _*)
    def gateResults = results.toSeq.filter(_._1 != controlName)
    def total = BenchHarness.sec(gateResults.map(_._2).sum)
    def partialFlag(partial: Boolean) =
      if (partial) ListMap("partial" -> true) else ListMap.empty[String, Any]

    // legs whose median reads >2x their min are contention-suspect OR
    // genuinely intermittent (memory-pressure-dependent): the harness
    // surfaces them so a real regression can't hide behind the min
    // estimator (VERDICT r14 #8), and the record carries per-run
    // evidence for every flagged leg (VERDICT r15 #2)
    def fullJson(partial: Boolean): String = BenchHarness.json(
      ListMap("metric" -> "total", "value" -> total, "unit" -> "sec", "reps" -> reps,
        "estimator" -> "warm_min_interleaved_retry", "control_sec" -> controlSec) ++
        harness.evidence(BenchHarness.GateKeys) ++
        ListMap("queries" -> gateSecs(results), "queries_median" -> gateSecs(harness.medians),
          "sf" -> sfDir, "scale_probe" -> probeRecord) ++ partialFlag(partial))
    // The driver keeps only the LAST 2000 chars of output and parses the
    // final JSON line out of that window (BENCH_r7/r8 both carried
    // "parsed": null because the full record is wider than the window —
    // the query names alone exceed it). So: the FULL record goes to
    // bench_out.json (committed, self-contained) and is printed first;
    // the LAST line is a compact summary guaranteed to fit the window —
    // total + scale probe + the slowest queries, added in descending
    // cost until a 1900-char budget (the cheap tail of the distribution
    // is the part that carries no grading signal).
    def compactJson(partial: Boolean): String = {
      val head = ListMap("metric" -> "total", "value" -> total, "unit" -> "sec",
        "reps" -> reps, "control_sec" -> controlSec, "sf" -> sfDir,
        "n_queries" -> gateResults.size, "queries_file" -> outFile) ++ partialFlag(partial) ++
        ListMap("scale_probe" -> probeCompact)
      val budget = 1900 - BenchHarness.json(head + ("queries" -> ListMap.empty)).length
      val slow = gateResults.sortBy(-_._2).map { case (k, v) => k -> BenchHarness.sec(v) }
      // `"k":v,` per entry
      val used = slow.map { case (k, v) => k.length + v.toString.length + 4 }.scanLeft(0)(_ + _).tail
      BenchHarness.json(head + ("queries" -> ListMap(slow.zip(used).takeWhile(_._2 <= budget).map(_._1): _*)))
    }
    def emit(partial: Boolean): Unit = {
      val json = fullJson(partial)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (json + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(_) => () }
      println(json)
      println(compactJson(partial))
      System.out.flush()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finishedNormally) emit(partial = true)
    }))

    // Reps are INTERLEAVED round-robin across the whole query list
    // (warmup pass, then `reps` full suite passes, then ONE retry per
    // wall-guarded leg) — see graft.core.BenchHarness for the protocol
    // and its rationale (r13 interleaving lesson, r15 guard-artifact
    // lesson).
    // the control leg joins the harness list UNCONDITIONALLY (even under
    // SPARK_GRAFT_BENCH_ONLY) so every A/B run self-reports its window;
    // it interleaves round-robin with the gate reps like any other leg
    // and is filtered back out of "queries"/total above.
    harness.run((controlName -> (() => controlLeg())) +:
      ordered.map { case (name, fn) => name -> (() => runOne(fn)) })

    // 10x scale probe: the documents table replicated 10x under
    // re-keyed ids (≈90% duplicate rate, raw-CommonCrawl shape) drives
    // the shuffle-bound dedup paths at 10x volume, so the
    // round-over-round trend tracks the scale shape, not only sf-sized
    // absolutes. Every leg comes from the graft.ProbeLegs registry.
    //
    // r17: the probe legs run through the SAME BenchHarness protocol as
    // the gate legs (warmup pass excluded from the record, reps
    // INTERLEAVED round-robin, wall guard + ONE end-of-suite retry,
    // per-run evidence for flagged legs, one failure rule). The old
    // per-leg min-of-3 ran its reps BACK-TO-BACK, so a sustained
    // contention burst poisoned all three reps of one leg at once — the
    // r16 record's phash_hash 0.38→0.75 s / knn_join_100q 0.31→1.12 s
    // wobble on byte-identical code (VERDICT r16 #2). All staged inputs
    // persist up front (untimed) so legs can interleave; peak concurrent
    // cache is a few GB — well inside the bench JVM.
    val probeReps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    // SPARK_GRAFT_SKIP_PROBE=1: builder-local iteration aid (like
    // SPARK_GRAFT_BENCH_ONLY) — run the full GATE suite but skip the
    // scale probe, for full-suite-context A/B runs where only the gate
    // legs are under comparison. The official driver run never sets it.
    val skipProbe = sys.env.get("SPARK_GRAFT_SKIP_PROBE").contains("1")
    if (benchOnly.isEmpty && !skipProbe) {
      val probeHarness = new BenchHarness(probeReps, wallLimit)
      val replication = 10
      val rows = ProbeLegs.run(ProbeLegs.all,
        new ProbeLegs.Inputs(spark, sfDir, replication), probeHarness)
      probeRecord = Some(ProbeLegs.record(rows, probeHarness, replication))
      probeCompact = Some(ListMap("replication" -> replication,
        "probe_failed" -> probeHarness.failed.toSeq,
        "per_sec" -> ProbeLegs.perSec(rows, probeHarness)))
    }

    finishedNormally = true
    spark.stop()
    emit(partial = false)
  }
}
