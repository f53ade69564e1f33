package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("a percentile is reportable only with ten samples beyond it") {
    assert(Stats.beyond(20, 0.5) == 10)
    assert(Stats.samplesFor(0.5) == 20)
    assert(Stats.samplesFor(0.75) == 40)
    assert(Stats.samplesFor(0.9) == 100)
    assert(Stats.beyond(19, 0.5) == 9)
    assert(Stats.beyond(99, 0.9) == 9)
    assert(Stats.tailRank(12).isEmpty)
    assert(Stats.tailRank(39).isEmpty)
    assert(Stats.tailRank(40).contains(0.75))
    assert(Stats.tailRank(100).contains(0.9))
    assert(Stats.tailRank(1000).contains(0.99))
  }

  test("a run that throws becomes an error, never a time") {
    val o = Stats.attempt[Int] { Thread.sleep(20); throw new IllegalStateException("boom") } (_ => Nil)
    assert(o.isInstanceOf[Failed])
    assert(o.asInstanceOf[Failed].reason.contains("boom"))
    assert(Stats.timings(Seq(o)).isEmpty)
  }

  test("a run whose output check fails becomes an error, never a time") {
    val o = Stats.attempt(42)(r => if (r == 42) Seq("wrong answer") else Nil)
    assert(o == Failed("wrong answer"))
    val thrownInCheck = Stats.attempt(1)(_ => throw new RuntimeException("check crashed"))
    assert(thrownInCheck.isInstanceOf[Failed])
  }

  test("passing runs carry their time and only they count") {
    val ok = Stats.attempt { Thread.sleep(5); 7 } (_ => Nil)
    ok match {
      case Ok(secs, r) => assert(r == 7 && secs >= 0.005)
      case other => fail(s"expected Ok, got $other")
    }
    val mixed = Seq(ok, Failed("x"), Stats.attempt(1)(_ => Nil))
    assert(Stats.timings(mixed).size == 2)
    assert(Stats.failures(mixed) == Seq("x"))
  }

  test("the result record has exactly its four keys") {
    val line = Json.result(correct = true, attempted = 3, failed = 0,
      Seq(Metric("run_s_p50", 1.25, "s"), Metric("records_per_s", 800.0, "records/s")))
    assert(line == """{"correct":true,"attempted":3,"failed":0,"metrics":""" +
      """{"run_s_p50":{"value":1.25,"unit":"s"},"records_per_s":{"value":800.0,"unit":"records/s"}}}""")
    assert(Json(Seq("a\"b\n")) == "[\"a\\\"b\\n\"]")
    assert(Json(Json.num(Double.NaN)) == "null")
  }
}
