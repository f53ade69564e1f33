package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench measurement protocol (graft.core.BenchHarness):
  * warmup excluded from the record, interleaved warm-min, wall guard,
  * and — the r16 additions (VERDICT r15 #2) — the end-of-suite retry
  * for guarded legs plus per-run evidence, so one contended rep can
  * never canonize a wall-guard artifact as the official value.
  */
class BenchHarnessSpec extends AnyFunSuite {

  // a leg that sleeps `slowMs` on the invocation numbers in `slowOn`
  // (1-based: 1 = warmup, 2 = first warm rep, ...) and `fastMs` otherwise
  private def leg(slowOn: Set[Int], slowMs: Long = 120, fastMs: Long = 2)
      : () => Unit = {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    () => Thread.sleep(if (slowOn(calls.incrementAndGet())) slowMs else fastMs)
  }

  test("stable legs: warmup excluded, min/median over exactly `reps` warm runs, nothing guarded") {
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("a" -> leg(Set.empty), "b" -> leg(Set.empty)))
    assert(h.guarded.isEmpty && h.retried.isEmpty)
    Seq("a", "b").foreach { n =>
      assert(h.repTimes(n).length == 3, s"$n must have 3 warm runs")
      assert(h.results(n) < 0.05 && h.medians(n) < 0.05)
      assert(h.warmups.contains(n))
    }
  }

  test("a leg guarded mid-pass is retried once at end of suite; official value = min over ALL runs") {
    // slow on invocation 3 = second warm rep: warm rep 1 fast, rep 2
    // trips the guard, passes 3.. skipped, retry at end fast
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("burst" -> leg(Set(3)), "calm" -> leg(Set.empty)))
    assert(h.guarded.toSeq == Seq("burst") && h.retried.toSeq == Seq("burst"))
    // runs observed: fast rep, slow rep, retry — never the skipped passes
    assert(h.repTimes("burst").length == 3, h.repTimes("burst").toString)
    assert(h.repTimes("burst").count(_ > 0.05) == 1)
    // the official value is the fast min, NOT the 120ms artifact
    assert(h.results("burst") < 0.05,
      s"guard artifact canonized: ${h.results("burst")}")
    assert(h.repTimes("calm").length == 3)
  }

  test("a leg guarded AT WARMUP skips all passes, and the retry rescues its official value") {
    val h = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h.run(Seq("coldslow" -> leg(Set(1))))
    assert(h.guarded.toSeq == Seq("coldslow") && h.retried.toSeq == Seq("coldslow"))
    // runs: the guard-tripping warmup + the retry
    assert(h.repTimes("coldslow").length == 2)
    assert(h.results("coldslow") < 0.05,
      s"retry must rescue a warmup-guarded leg: ${h.results("coldslow")}")
    // a leg slow on BOTH warmup and retry keeps the honest slow value
    val h2 = new graft.core.BenchHarness(reps = 2, wallLimit = 0.05)
    h2.run(Seq("trulyslow" -> leg(Set(1, 2))))
    assert(h2.guarded.toSeq == Seq("trulyslow"))
    assert(h2.results("trulyslow") > 0.05,
      "a genuinely slow leg must not be laundered by the retry")
  }

  test("an unstable-but-unguarded leg gets ONE stabilization run; a transient burst clears the flag") {
    // slow on warm rep 1 only (invocation 2), far under the wall limit:
    // after 2 reps the median > 2x min (two-sample coin flip) — the
    // stabilization run adds a third fast observation and the flag
    // clears honestly. fast ~120ms keeps min >= 0.1 so the leg
    // QUALIFIES for the flag at all (tiny legs are exempt).
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 10.0)
    h.run(Seq("wobble" -> leg(Set(2), slowMs = 700, fastMs = 120)))
    assert(h.guarded.isEmpty && h.retried.isEmpty)
    assert(h.stabilized.toSeq == Seq("wobble"), h.stabilized.toString)
    assert(h.repTimes("wobble").length == 3, h.repTimes("wobble").toString)
    // runs [700, 120, 120]: median 120 <= 2x min — flag cleared
    assert(h.unstableLegs.isEmpty,
      s"flag must clear after stabilization: runs=${h.repTimes("wobble")}")
    // a leg whose stabilization run comes back slow AGAIN keeps the
    // flag (confirmed intermittency), evidence now holds three runs
    val h2 = new graft.core.BenchHarness(reps = 2, wallLimit = 10.0)
    h2.run(Seq("steadyslow" -> leg(Set(2, 4), slowMs = 700, fastMs = 120)))
    assert(h2.stabilized.toSeq == Seq("steadyslow"))
    assert(h2.unstableLegs == Seq("steadyslow"),
      s"confirmed spread must keep the flag: runs=${h2.repTimes("steadyslow")}")
  }

  test("a stabilization run that blows the wall limit marks the leg guarded — no unguarded budget escape") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    // warm runs [120, 450] (unstable at median 285 > 2x120, under the
    // 1s wall); the stabilization run itself takes 1.2s — over the wall
    val fn: () => Unit = () => Thread.sleep(calls.incrementAndGet() match {
      case 3 => 450L
      case 4 => 1200L
      case _ => 120L
    })
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 1.0)
    h.run(Seq("esc" -> fn))
    assert(h.stabilized.toSeq == Seq("esc"))
    assert(h.guarded.toSeq == Seq("esc"),
      "an over-limit stabilization run must surface in wall_guarded")
    assert(h.results("esc") < 0.2) // official min stays the honest fast run
  }

  test("detail carries warmup + every observed run for the asked legs") {
    val h = new graft.core.BenchHarness(reps = 2, wallLimit = 0.05)
    h.run(Seq("x" -> leg(Set(2)), "y" -> leg(Set.empty)))
    val d = h.detail(Seq("x", "x", "zzz_never_ran"))
    // duplicate names collapse; unknown legs are omitted, not fabricated
    assert(d.keys.toSeq == Seq("x"), d)
    assert(d("x")("warmup").isInstanceOf[Some[_]], d)
    // the evidence must show the guard-tripping run AND the fast retry
    val runs = d("x")("runs").asInstanceOf[Seq[java.math.BigDecimal]].map(_.doubleValue)
    assert(runs.count(_ > 0.05) == 1 && runs.count(_ <= 0.05) >= 1, d)
    val json = graft.core.BenchHarness.json(d)
    assert(json.startsWith("{\"x\":{\"warmup\":") && json.contains("\"runs\":["), json)
  }

  // a leg that throws on the invocation numbers in `throwOn` (1-based,
  // as in `leg`) and otherwise sleeps `slowMs` on `slowOn`, `fastMs` else
  private def flaky(throwOn: Set[Int], slowOn: Set[Int] = Set.empty,
      slowMs: Long = 120, fastMs: Long = 2): () => Unit = {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    () => {
      val c = calls.incrementAndGet()
      Thread.sleep(if (slowOn(c)) slowMs else fastMs)
      if (throwOn(c)) throw new IllegalStateException(s"boom on call $c")
    }
  }

  private def assertFailed(h: graft.core.BenchHarness, name: String): Unit = {
    assert(h.failed.toSeq == Seq(name), h.failed.toString)
    assert(!h.results.contains(name) && !h.medians.contains(name),
      s"a failed leg must carry no time: ${h.results.get(name)}")
    assert(!h.repTimes.contains(name) && !h.warmups.contains(name))
    assert(!h.retried.contains(name) && !h.stabilized.contains(name))
    assert(h.evidence(graft.core.BenchHarness.GateKeys)("failed_legs") == Seq(name))
    assert(h.detail(Seq(name)).isEmpty, "no per-run evidence of a failed leg's times")
  }

  test("a leg that throws on its warmup, a warm rep, or only its retry reads as failed, never as a time") {
    // throws at warmup: never run again
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val h1 = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h1.run(Seq("cold" -> (() => { calls.incrementAndGet(); throw new RuntimeException("cold") }),
      "ok" -> leg(Set.empty)))
    assertFailed(h1, "cold")
    assert(calls.get == 1, s"a failed leg must not be run again: ${calls.get} runs")
    assert(h1.results.contains("ok") && h1.repTimes("ok").length == 3)
    // throws on the second warm rep: its fast first rep is dropped too
    val h2 = new graft.core.BenchHarness(reps = 3, wallLimit = 0.05)
    h2.run(Seq("mid" -> flaky(Set(3)), "ok" -> leg(Set.empty)))
    assertFailed(h2, "mid")
    // slow (guarded) warm rep, then the end-of-suite retry throws: the
    // guard-tripping time must not survive as the leg's value
    val h3 = new graft.core.BenchHarness(reps = 2, wallLimit = 0.05)
    h3.run(Seq("retry" -> flaky(throwOn = Set(4), slowOn = Set(3))))
    assertFailed(h3, "retry")
    assert(!h3.guarded.contains("retry"))
    // an unstable leg whose stabilization run throws is failed as well
    val h4 = new graft.core.BenchHarness(reps = 2, wallLimit = 10.0)
    h4.run(Seq("stab" -> flaky(throwOn = Set(4), slowOn = Set(2), slowMs = 700, fastMs = 120)))
    assertFailed(h4, "stab")
  }

  test("probe registry: leg names are unique") {
    val names = ProbeLegs.all.map(_.name)
    assert(names.nonEmpty && names.distinct == names,
      s"duplicate legs: ${names.diff(names.distinct)}")
  }

  test("probe record: exactly one <name>_sec and <name>_rows per registry leg, null for a failed leg") {
    val h = new graft.core.BenchHarness(reps = 1, wallLimit = 10.0)
    val failing = ProbeLegs.all(1).name
    h.run(ProbeLegs.all.map(l => l.name -> (if (l.name == failing)
      (() => throw new RuntimeException("boom")) else leg(Set.empty))))
    val rows = ProbeLegs.all.map(_.name -> 1000L)
    val rec = ProbeLegs.record(rows, h, replication = 10)
    val secs = rec.keys.filter(k => k.endsWith("_sec") && !k.endsWith("_per_sec")).toSeq
    assert(secs.sorted == ProbeLegs.all.map(_.name + "_sec").sorted)
    assert(rec.keys.count(_.endsWith("_rows")) == ProbeLegs.all.size)
    assert(rec(failing + "_sec") == None && rec("probe_failed") == Seq(failing))
    ProbeLegs.all.map(_.name).filter(_ != failing).foreach(n =>
      assert(rec(n + "_sec").isInstanceOf[Some[_]], n))
    val json = graft.core.BenchHarness.json(rec)
    assert(json.contains("\"" + failing + "_sec\":null"), json)
    assert(ProbeLegs.perSec(rows, h)(failing).isEmpty)
  }
}
