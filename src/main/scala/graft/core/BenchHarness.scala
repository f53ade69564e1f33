package graft.core

/** Interleaved warm-min measurement harness (r16, VERDICT r15 #2) — the
  * bench's estimator, extracted so the guard/retry path is unit-testable
  * instead of only observable in a contended driver run.
  *
  * Protocol: one warmup pass over every leg (JIT/codegen cost never
  * enters the record), then `reps` full INTERLEAVED passes (a sustained
  * contention burst costs each leg at most one rep — the r13 lesson),
  * with a wall guard: any single run past `wallLimit` seconds keeps that
  * measurement and exempts the leg from later passes, bounding the
  * suite's worst case. NEW in r16: every guarded leg gets exactly ONE
  * retry at END of suite — a transient burst has the whole remaining
  * suite's wall time to clear — and the official value stays the MIN
  * over ALL observed runs (warmup included for a warmup-guarded leg), so
  * one contended rep can no longer canonize a 30x artifact the way the
  * r15 driver record did for `minhash_lsh_dedup_transitive` (39.3 s
  * guarded vs 1.32 s clean, code byte-identical). Per-run evidence for
  * flagged legs is kept ([[detail]]) so the record is self-evidencing.
  *
  * One failure rule for every leg: a leg that throws on ANY run is
  * marked [[failed]], all of its times are dropped, and it is never run
  * again — so a time-to-exception can never become a leg's value.
  *
  * State is live-updated per measurement: a shutdown hook reading
  * [[results]] mid-run emits an honest partial record.
  */
final class BenchHarness(val reps: Int, wallLimit: Double) {
  import scala.collection.immutable.ListMap
  import scala.collection.mutable

  /** Official per-leg seconds: min over all observed runs (warm reps +
    * any guard-triggering run + the end-of-suite retry).
    */
  val results: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Median over the same observed runs (warmup excluded unless it
    * triggered the guard) — the cross-check estimator.
    */
  val medians: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Legs that tripped the wall guard (kept listed even when the retry
    * came back fast — the flag says "this record needed the retry").
    */
  val guarded: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Guarded legs whose end-of-suite retry actually ran. */
  val retried: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Legs that got the end-of-suite stabilization run (median was >2x
    * min after the warm passes — see [[unstableLegs]]).
    */
  val stabilized: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Warmup seconds per leg. */
  val warmups: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Every measured run per leg, in observation order (guard-triggering
    * warmups included — they are part of the leg's official min).
    */
  val repTimes: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Legs that threw on some run; none of their times is kept. */
  val failed: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  private def medianOf(ts: Seq[Double]): Double = {
    val s = ts.sorted; val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  private def record(name: String, t: Double): Unit = {
    val ts = repTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double])
    ts += t
    results(name) = ts.min
    medians(name) = medianOf(ts.toSeq)
  }

  /** Run the whole protocol. `legs` execute in the given order each
    * pass. A leg that throws is logged, marked [[failed]] and dropped
    * from every record field and every later pass.
    */
  def run(legs: Seq[(String, () => Unit)]): Unit = {
    val skip = scala.collection.mutable.Set.empty[String]
    // one run of `name`: its seconds, or None if it threw — then the
    // leg leaves every pass, list and time map (a failed leg is neither
    // guarded nor unstable, so no retry or stabilization run reaches it)
    def measure(name: String, fn: () => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(); Some((System.nanoTime() - t0) / 1e9) }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name; skip += name; guarded -= name
          Seq(results, medians, warmups, repTimes).foreach(_.remove(name))
          None
      }
    }
    def legNamed(name: String) = legs.find(_._1 == name).map(_._2)
    legs.foreach { case (name, fn) =>
      measure(name, fn).foreach { w =>
        warmups(name) = w
        // a leg pathological enough to blow the limit COLD is recorded
        // from its warmup and skips the warm passes (it still gets the
        // end-of-suite retry)
        if (w > wallLimit) { record(name, w); guarded += name; skip += name }
      }
    }
    var pass = 0
    while (pass < reps) {
      legs.foreach { case (name, fn) =>
        if (!skip(name)) measure(name, fn).foreach { t =>
          record(name, t)
          if (t > wallLimit) { guarded += name; skip += name }
        }
      }
      pass += 1
    }
    // end-of-suite retry: exactly one more run per guarded leg, after
    // every other measurement — min over all observed runs stays official
    guarded.toSeq.foreach { name =>
      legNamed(name).foreach { fn =>
        measure(name, fn).foreach { t => record(name, t); retried += name }
      }
    }
    // stabilization run (r17): a leg whose MEDIAN reads >2x its min
    // after the warm passes is contention-suspect — at 2 reps that flag
    // is a two-sample coin flip (the r17 record carried
    // minhash_precollapse [4.29, 1.22] from one adjacent-staging
    // burst). ONE extra measurement per such leg either pulls the
    // median back under the threshold (transient burst — flag clears
    // honestly) or confirms the spread with a third observation; either
    // way the surviving flag is evidence-backed. Guarded legs already
    // got their retry above and are excluded.
    unstableLegs.filterNot(guarded.contains).foreach { name =>
      legNamed(name).foreach { fn =>
        measure(name, fn).foreach { t =>
          record(name, t)
          stabilized += name
          // the stabilization run is still under the wall budget's
          // contract: a blow-out here is evidence, not a freebie
          if (t > wallLimit) guarded += name
        }
      }
    }
  }

  /** Contention-suspect legs: median >2x the official min (tiny legs
    * under 0.1 s min are skipped — scheduler jitter alone doubles
    * those). Live state — read AFTER [[run]] for the record's flag.
    */
  def unstableLegs: Seq[String] = medians.toSeq.collect {
    case (k, m) if results.get(k).exists(mn => mn >= 0.1 && m > 2.0 * mn) => k
  }

  /** Per-run evidence for the given legs:
    * `{"leg":{"warmup":w,"runs":[...]}}` — emitted for flagged legs so a
    * flagged record carries its own proof.
    */
  def detail(names: Seq[String]): ListMap[String, ListMap[String, Any]] =
    ListMap(names.distinct.filter(repTimes.contains).map { n =>
      n -> ListMap("warmup" -> warmups.get(n).map(BenchHarness.sec),
        "runs" -> repTimes(n).toSeq.map(BenchHarness.sec))
    }: _*)

  /** The record's evidence fields, rendered once for every block that
    * carries them; `keys` names them in the order guarded, retried,
    * unstable, stabilized, failed, detail (see [[BenchHarness.GateKeys]]).
    * Detail covers every flagged leg, including stabilized legs whose
    * flag cleared — the run that produced the official min stays visible.
    */
  def evidence(keys: Seq[String]): ListMap[String, Any] = {
    val unstable = unstableLegs
    ListMap(keys.zip(Seq(guarded.toSeq, retried.toSeq, unstable, stabilized.toSeq,
      failed.toSeq, detail(guarded.toSeq ++ unstable ++ stabilized))): _*)
  }
}

object BenchHarness {
  /** Evidence key names of the gate record (see [[BenchHarness.evidence]]). */
  val GateKeys: Seq[String] = Seq("wall_guarded", "retried", "unstable_legs",
    "stabilized", "failed_legs", "reps_detail")
  /** Evidence key names of the scale-probe record. */
  val ProbeKeys: Seq[String] = Seq("probe_guarded", "probe_retried", "probe_unstable",
    "probe_stabilized", "probe_failed", "probe_detail")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** A record (nested `ListMap`s, `Seq`s, `Option`s) as one JSON line;
    * `None` renders as null.
    */
  def json(record: Any): String = mapper.writeValueAsString(record)

  /** Seconds as every record prints them: three decimals. */
  def sec(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(3, java.math.RoundingMode.HALF_UP)
}
