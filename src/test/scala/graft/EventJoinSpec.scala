package graft

import graft.operators.events.{AsofJoin, IntervalJoinBucketed}
import org.apache.spark.sql.functions._

class EventJoinSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  // ---- as-of join ----

  private def asof(inclusive: Boolean) = new AsofJoin(
    keyCol = "k", leftTsCol = "t", rightTsCol = "rt",
    rightOrderCol = Some("rid"), inclusive = inclusive)

  private val left = Seq((1L, 5L, "a"), (1L, 10L, "b"), (2L, 7L, "c"), (3L, 1L, "d"))
    .toDF("k", "t", "lv")
  private val right = Seq((1L, 5L, 100L), (1L, 8L, 101L), (2L, 9L, 102L))
    .toDF("k", "rt", "rid")

  test("asof inclusive: latest right at-or-before each left; no-match keeps nulls") {
    val out = asof(inclusive = true)(left, right)
      .select("lv", "rid").as[(String, Option[Long])].collect().toMap
    // t=5 matches rt=5 (inclusive); t=10 matches rt=8; k=2 t=7 has only rt=9 (after);
    // k=3 has no right rows at all
    assert(out == Map("a" -> Some(100L), "b" -> Some(101L), "c" -> None, "d" -> None))
  }

  test("asof strict: equal timestamps do NOT match") {
    val out = asof(inclusive = false)(left, right)
      .select("lv", "rid").as[(String, Option[Long])].collect().toMap
    assert(out == Map("a" -> None, "b" -> Some(101L), "c" -> None, "d" -> None))
  }

  test("asof: right-side ties at one (key, ts) resolve to greatest rightOrderCol") {
    val dupRight = Seq((1L, 5L, 100L), (1L, 5L, 107L), (1L, 5L, 103L)).toDF("k", "rt", "rid")
    val out = asof(inclusive = true)(left.where($"lv" === "a"), dupRight)
      .select("rid").as[Long].collect().toList
    assert(out == List(107L))
  }

  test("asof: exactly one hash exchange, no join node in the plan") {
    val p = asof(inclusive = true)(left, right)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("asof: clashing payload names are rejected, not silently suffixed") {
    val bad = Seq((1L, 5L, "x")).toDF("k", "rt", "lv")
    intercept[IllegalArgumentException](asof(inclusive = true)(left, bad))
  }

  // ---- interval join ----

  private val iv = new IntervalJoinBucketed(bucketWidthUs = 10L,
    startCol = "s", endCol = "e", pointCol = "p")

  test("interval join: half-open boundaries, multi-bucket spans, empty intervals") {
    val intervals = Seq(
      (1L, 10L, 20L),   // [10,20): catches 10..19
      (2L, 5L, 35L),    // spans buckets 0..3
      (3L, 40L, 40L),   // empty -> matches nothing
      (4L, 50L, 45L)    // negative length -> matches nothing
    ).toDF("iid", "s", "e")
    val points = Seq((10L, 9L), (11L, 10L), (12L, 19L), (13L, 20L), (14L, 34L))
      .toDF("pid", "p")
    val pairs = iv.pairs(intervals, points)
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(pairs == Set(
      (1L, 11L), (1L, 12L),                       // 10 and 19 in; 9 and 20 (end) out
      (2L, 10L), (2L, 11L), (2L, 12L), (2L, 13L), (2L, 14L)))
  }

  test("interval join: each qualifying pair emitted exactly once (no bucket dedup pass)") {
    // one interval spanning many buckets, points sprinkled across them
    val intervals = Seq((1L, 0L, 100L)).toDF("iid", "s", "e")
    val points = (0L until 100L by 7L).map(t => (t, t)).toDF("pid", "p")
    val out = iv.pairs(intervals, points).groupBy("pid").count()
      .where($"count" =!= 1L).count()
    assert(out == 0L)
  }

  test("funnel: order matters, and the step chain costs one exchange") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, t("2024-01-01 10:00:00"), "view"),
      (1L, t("2024-01-01 10:05:00"), "click"),
      (1L, t("2024-01-01 10:10:00"), "purchase"),
      // user 2: purchase BEFORE click — must not count as completing
      (2L, t("2024-01-01 10:00:00"), "view"),
      (2L, t("2024-01-01 10:01:00"), "purchase"),
      (2L, t("2024-01-01 10:02:00"), "click"),
      // user 3: stops at view
      (3L, t("2024-01-01 11:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val out = new graft.operators.events.Funnel(Seq("view", "click", "purchase"))(ev)
    val counts = out.select("step", "n_users").as[(String, Long)].collect().toMap
    assert(counts == Map("view" -> 3L, "click" -> 2L, "purchase" -> 1L))
    val p = out.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("cohort retention: offsets count distinct returning users") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-09 10:00:00")), // w0 + w1
      (1L, t("2024-01-09 11:00:00")),                                 // same week, once
      (2L, t("2024-01-02 10:00:00")),                                 // w0 only
      (3L, t("2024-01-10 10:00:00"))                                  // cohort w1
    ).toDF("user_id", "ts")
    val out = new graft.operators.events.CohortRetention()(ev)
      .select("week_offset", "n_users")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // offset 0: all 3 users in their own cohort week; offset 1: user 1 returns
    assert(out == Map(0L -> 3L, 1L -> 1L))
  }

  test("interval join: plans a hash join on the bucket, not a nested loop") {
    val intervals = Seq((1L, 10L, 20L)).toDF("iid", "s", "e")
    val points = Seq((10L, 12L)).toDF("pid", "p")
    val p = iv.pairs(intervals, points).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("interval overlap: bucketed == naive on random intervals, each pair once") {
    import graft.operators.events.IntervalOverlapJoin
    val op = new IntervalOverlapJoin(bucketWidthUs = 10L)
    val rnd = new scala.util.Random(42)
    // lengths 1..40 (up to 4x the bucket width: multi-bucket spans)
    val as = (0 until 120).map { i =>
      val st = rnd.nextInt(300).toLong; (i.toLong, st, st + 1 + rnd.nextInt(40)) }
    val bs = (0 until 120).map { i =>
      val st = rnd.nextInt(300).toLong; (i.toLong, st, st + 1 + rnd.nextInt(40)) }
    val aDf = as.toDF("aid", "a_start_us", "a_end_us")
    val bDf = bs.toDF("bid", "b_start_us", "b_end_us")
    val got = op.pairs(aDf, bDf).select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = for {
      (ai, asrt, aend) <- as; (bi, bsrt, bend) <- bs
      if asrt < bend && bsrt < aend
    } yield (ai, bi)
    assert(got.sorted == want.sorted, "bucketed must equal naive")
    assert(got.size == got.distinct.size, "each pair exactly once")
    // touching intervals [0,10) and [10,20) never match
    val t = op.pairs(Seq((1L, 0L, 10L)).toDF("aid", "a_start_us", "a_end_us"),
      Seq((2L, 10L, 20L)).toDF("bid", "b_start_us", "b_end_us"))
    assert(t.count() == 0L)
    // the join is an equi hash/merge join, never a nested loop
    val plan = op.pairs(aDf, bDf).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("interval overlap: an interval over the bucket cap fails LOUDLY, never a silent fan-out") {
    import graft.operators.events.IntervalOverlapJoin
    val op = new IntervalOverlapJoin(bucketWidthUs = 10L, maxBucketsPerInterval = 5L)
    val aDf = Seq((1L, 0L, 51L)).toDF("aid", "a_start_us", "a_end_us") // 6 buckets
    val bDf = Seq((2L, 0L, 10L)).toDF("bid", "b_start_us", "b_end_us")
    val e = intercept[Exception] { op.pairs(aDf, bDf).collect() }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("|"))
    assert(rootMsg(e).contains("maxBucketsPerInterval"), rootMsg(e))
    // b over the cap trips too (guard is on BOTH sides)
    val e2 = intercept[Exception] { op.pairs(
      Seq((1L, 0L, 10L)).toDF("aid", "a_start_us", "a_end_us"),
      Seq((2L, 0L, 51L)).toDF("bid", "b_start_us", "b_end_us")).collect() }
    assert(rootMsg(e2).contains("maxBucketsPerInterval"), rootMsg(e2))
    // exactly AT the cap is fine (5 buckets for [0,50) at W=10)
    val ok = op.pairs(Seq((1L, 0L, 50L)).toDF("aid", "a_start_us", "a_end_us"),
      Seq((2L, 0L, 10L)).toDF("bid", "b_start_us", "b_end_us"))
    assert(ok.count() == 1L)
  }
}
