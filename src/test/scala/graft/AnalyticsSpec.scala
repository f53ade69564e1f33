package graft

import graft.operators.events.Sessionize
import graft.operators.text.{BpePairCounts, BpeVocabInduction, CorpusOverlapReport}
import org.apache.spark.sql.functions._

class AnalyticsSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  // ---- sessionization ----

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("sessionize: gap splits sessions, idx dense per user, aggregates correct") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, 1.0),
      (2L, ts("2024-01-01 10:10:00"), 7L, 2.0),  // 10 min  -> same session
      (3L, ts("2024-01-01 11:00:00"), 7L, 4.0),  // 50 min  -> new session
      (4L, ts("2024-01-01 11:29:59"), 7L, 8.0),  // 29:59   -> same session
      (5L, ts("2024-01-01 10:05:00"), 9L, 1.0)   // other user
    ).toDF("event_id", "ts", "user_id", "value")
    val out = new Sessionize(gapMinutes = 30).sessions(ev)
      .orderBy("user_id", "session_idx")
      .select("user_id", "session_idx", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out == List((7L, 1L, 2L, 3.0), (7L, 2L, 2L, 12.0), (9L, 1L, 1L, 1.0)))
  }

  test("sessionize: a boundary event exactly at the gap stays in-session") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, 1.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, 1.0)) // exactly 30 min: NOT > gap
      .toDF("event_id", "ts", "user_id", "value")
    val n = new Sessionize(gapMinutes = 30).sessions(ev).count()
    assert(n == 1)
  }

  test("sessionize: window and rollup share one user-keyed exchange") {
    val plan = planOf(new Sessionize().sessions(table("events")
      .withColumn("ts", col("ts").cast("timestamp"))))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected the groupBy to reuse the window's partitioning:\n$plan")
  }

  // ---- BPE ----

  test("bpe pair counts: weighted by word frequency, includes end-of-word pairs") {
    val tiny = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val pairs = new BpePairCounts(topK = 10).pairCounts(tiny)
      .as[(String, Long)].collect().toMap
    assert(pairs("a b") == 2L)      // ab occurs twice
    assert(pairs("b </w>") == 2L)
    assert(pairs("c d") == 1L)
    assert(pairs("d </w>") == 1L)
  }

  test("bpe trainer reproduces the canonical Sennrich merges") {
    // low:5 lower:2 newest:6 widest:3 — the worked example from the paper
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((1L, text)).toDF("doc_id", "text")
    val bpe = new BpeVocabInduction(numMerges = 5)
    val merges = bpe.train(corpus)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
    // the learned merges generalize to an unseen word
    assert(bpe.encode("lowest", merges) == Seq("low", "est</w>"))
  }

  test("bpe trainer stops when no pair repeats") {
    val corpus = Seq((1L, "xy")).toDF("doc_id", "text")
    val merges = new BpeVocabInduction(numMerges = 10).train(corpus)
    assert(merges.isEmpty) // every pair occurs once — merging singletons is noise
  }

  test("induced-vocab fertility: trained merges drive the count; early stop is a no-op tail") {
    import graft.operators.text.TokenFertility
    // Sennrich corpus: train saturates useful merges well before
    // numMerges=10, so withMerges must apply the SHORT list (the SQL
    // twin degrades the tail steps to chr(3) no-ops — same result)
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val corpus = Seq((1L, text, "srcA"), (2L, "lowest newest", "srcB"))
      .toDF("doc_id", "text", "source")
    val bpe = new BpeVocabInduction(numMerges = 10)
    val merges = bpe.train(corpus)
    val out = new TokenFertility("text", "source").withMerges(corpus, merges)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // reference counts via the driver-side encode (the JVM semantics oracle)
    def enc(ws: String*) = ws.map(w => bpe.encode(w, merges).length.toLong).sum
    assert(out("srcA") == ((1L, 16L,
      enc(Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"): _*))))
    assert(out("srcB") == ((1L, 2L, enc("lowest", "newest"))))
  }

  // ---- corpus overlap ----

  test("overlap report: counts docs whose text appears in another source") {
    val docs = Seq(
      (1L, "shared text", "a"),
      (2L, "shared text", "b"),   // cross-source dup
      (3L, "only in a", "a"),
      (4L, "b private", "b"),
      (5L, "shared text", "a")    // same-source second copy still overlaps via b
    ).toDF("doc_id", "text", "source")
    val rep = new CorpusOverlapReport().report(docs)
      .orderBy("source")
      .select("source", "n_docs", "n_overlap")
      .as[(String, Long, Long)].collect().toList
    assert(rep == List(("a", 3L, 2L), ("b", 2L, 1L)))
  }

  test("overlap report: zero when sources are disjoint") {
    val docs = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("doc_id", "text", "source")
    val rep = new CorpusOverlapReport().report(docs)
      .agg(sum("n_overlap")).as[Long].first()
    assert(rep == 0L)
  }

  test("overlap matrix: pair counts are distinct-text, ordered a<b, dup docs don't inflate") {
    import graft.operators.text.CorpusOverlapMatrix
    val docs = Seq(
      (1L, "shared one", "a"), (2L, "shared one", "b"),   // a-b via text 1
      (3L, "shared one", "b"),                            // dup doc: same text, same src
      (4L, "shared two", "a"), (5L, "shared two", "b"),   // a-b via text 2
      (6L, "shared two", "c"),                            // and b-c, a-c
      (7L, "loner", "c")
    ).toDF("doc_id", "text", "source")
    val out = new CorpusOverlapMatrix().matrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("overlap matrix: disjoint sources yield an empty matrix") {
    import graft.operators.text.CorpusOverlapMatrix
    val docs = Seq((1L, "x", "a"), (2L, "y", "b")).toDF("doc_id", "text", "source")
    assert(new CorpusOverlapMatrix().matrix(docs).count() == 0L)
  }

  test("events_anomaly: planted spike and silent hour both flagged; flat stream clean") {
    import graft.operators.events.EventAnomaly
    import spark.implicits._
    val op = new EventAnomaly(trailing = 24, minPrior = 12, zThreshold = 3.0)
    // 80 hours of type A: ~10/hour with a deterministic +-1 wobble (so
    // variance > 0), except hour 30 spikes to 60 and hour 60 is silent
    // (the outage sits OUTSIDE the spike's 24 h shadow — a z-score
    // window poisoned by a 6x spike can't flag a same-window outage,
    // which is the documented non-robust-detector contract)
    def hourTs(h: Int, i: Int) = h * 3600000000L + i * 1000000L
    val rows = for {
      h <- 0 until 80
      n = if (h == 30) 60 else if (h == 60) 0 else 10 + (h % 3) - 1
      i <- 0 until n
    } yield (hourTs(h, i), "A")
    val df = rows.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = op(df).collect()
      .map(r => (r.getTimestamp(1).toInstant.getEpochSecond / 3600).toInt -> r.getDouble(4)).toMap
    assert(out.contains(30) && out(30) > 3.0, s"spike must flag: $out")
    assert(out.contains(60) && out(60) < -3.0, s"outage must flag: $out")
    // the spike's aftermath (hours 31..54 see the spike in their trailing
    // window) must not flood the report: only the two planted hours flag
    assert(out.keySet == Set(30, 60), s"only planted anomalies: $out")
    // constant stream: zero variance -> nothing scoreable, nothing thrown
    val flat = (for { h <- 0 until 48; i <- 0 until 5 } yield (hourTs(h, i), "B"))
      .toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    assert(op(flat).count() == 0L)
  }

  // ---- Mann-Kendall trend ----

  test("events trend: monotone series hit tau ±1, constants NULL, spike-robust") {
    import spark.implicits._
    val op = new graft.operators.events.EventTrend("ts", "event_type")
    def hourTs(h: Int, i: Int) = h * 3600000000L + i * 1000000L
    val rows =
      (for { h <- 0 until 6; i <- 0 until (h + 1) } yield (hourTs(h, i), "up")) ++
      (for { h <- 0 until 6; i <- 0 until (7 - h) } yield (hourTs(h, i), "down")) ++
      (for { h <- 0 until 6; i <- 0 until 3 } yield (hourTs(h, i), "flat")) ++
      Seq((hourTs(0, 0), "single"))
    val df = rows.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = op(df).collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out("up") == ((6L, 15L, Some(1.0))))    // all 15 pairs ascend
    assert(out("down") == ((6L, -15L, Some(-1.0))))
    assert(out("flat") == ((6L, 0L, None)))        // all tied: no signal
    assert(out("single") == ((1L, 0L, None)))      // no pairs
    // robustness: one wild spike cannot flip a consistent downtrend,
    // unlike a least-squares slope
    val spiky = (for { h <- 0 until 8; i <- 0 until (if (h == 1) 500 else 20 - h) }
      yield (hourTs(h, i), "s")).toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val tau = op(spiky).collect().head.getDouble(3)
    assert(tau < -0.7, s"spike must not mask the downtrend: $tau")
    // NULL type is a real slice (the EventAnomaly contract) and must
    // survive the typed groupByKey of the r15 Fenwick rewrite — ordered
    // first, statistics intact
    val withNull = (for { h <- 0 until 4; i <- 0 until (h + 1) }
      yield (hourTs(h, i), null.asInstanceOf[String])) ++
      (for { h <- 0 until 3; i <- 0 until 2 } yield (hourTs(h, i), "t"))
    val nOut = op(withNull.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")).collect()
    assert(nOut.length == 2 && nOut.head.isNullAt(0), s"NULL slice first: ${nOut.toSeq}")
    assert(nOut.head.getLong(1) == 4L && nOut.head.getLong(2) == 6L &&
      nOut.head.getDouble(3) == 1.0, s"NULL slice stats: ${nOut.head}")
    assert(nOut(1).getString(0) == "t" && nOut(1).getLong(2) == 0L &&
      nOut(1).isNullAt(3), s"tied slice: ${nOut(1)}")
    // NULL ts rows truncate to a NULL hour: counted in n_hours, never
    // paired — the twin's `a.h < b.h` semantics (ADVICE r15: the
    // primitive hour encoder crashed here)
    val nullTs = (for { h <- 0 until 4; i <- 0 until (h + 1) }
      yield (Some(hourTs(h, i)), "u")) ++
      Seq((None, "u"), (None, "u"), (None, "onlynull"))
    val tOut = op(nullTs.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // "u": 4 real hours ascending (s=6, n0=6, tau=1) + ONE NULL-hour group
    assert(tOut("u") == ((5L, 6L, Some(1.0))), s"NULL-hour slice: $tOut")
    // a type with ONLY NULL ts: one hour group, zero pairs, NULL tau
    assert(tOut("onlynull") == ((1L, 0L, None)), s"all-NULL-ts type: $tOut")
  }

  test("events trend: Fenwick S/ties match the brute-force pair definition on random series") {
    import spark.implicits._
    val op = new graft.operators.events.EventTrend("ts", "event_type")
    val rnd = new scala.util.Random(4242)
    // 12 random series (varied lengths, heavy ties from the small count
    // range) — brute-force S = sum sign(x_j - x_i) over i<j in hour order
    val series = (0 until 12).map { s =>
      val n = 2 + rnd.nextInt(40)
      s"t$s" -> (0 until n).map(h => (h, 1 + rnd.nextInt(4)))
    }
    val rows = for {
      (tpe, pts) <- series
      (h, c) <- pts
      i <- 0 until c
    } yield (h * 3600000000L + i * 1000000L, tpe)
    val out = op(rows.toDF("us", "event_type")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    for ((tpe, pts) <- series) {
      val xs = pts.map(_._2.toLong)
      val n = xs.length
      var s = 0L; var t = 0L
      for (i <- 0 until n; j <- i + 1 until n) {
        s += java.lang.Long.signum(xs(j) - xs(i))
        if (xs(j) == xs(i)) t += 1
      }
      val n0 = n.toLong * (n - 1) / 2
      val tau = if (n0 > t)
        Some(BigDecimal(s.toDouble / math.sqrt((n0 - t).toDouble * n0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
      assert(out(tpe) == ((n.toLong, s, tau)),
        s"$tpe: got ${out(tpe)} want (${n.toLong}, $s, $tau)")
    }
  }

  // ---- SFT conversation assembly ----

  test("sft pack: ordered role-tagged transcript, first-maxTurns truncation, exact md5") {
    import spark.implicits._
    val op = new graft.operators.text.ConversationAssembly(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "props", maxTurns = 2)
    // user 1: ts tie broken by event_id; NULL content renders empty;
    // 3rd turn truncated. user 2: single turn.
    val df = Seq(
      (1L, 100L, 11L, "user", "hi"),
      (1L, 100L, 10L, "assistant", null.asInstanceOf[String]),
      (1L, 200L, 12L, "user", "bye"),
      (2L, 50L, 20L, "user", "solo"))
      .toDF("user_id", "us", "event_id", "event_type", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = op(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val convo1 = "assistant: \nuser: hi" // event 10 sorts before 11 on the tie
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((3L, 2L, convo1.length.toLong, md5hex(convo1))))
    assert(out(2L) == ((1L, 1L, 10L, md5hex("user: solo"))))
    // partition-invariant: the sorted-struct serialization must not
    // depend on collect_list encounter order
    val out7 = op(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out7(1L) == md5hex(convo1) && out7(2L) == md5hex("user: solo"))
  }

  test("sft pack keep-last: tail truncation in chronological order, partition-invariant md5") {
    import spark.implicits._
    val op = new graft.operators.text.ConversationAssembly(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "props", maxTurns = 2,
      keep = "last")
    val df = Seq(
      (1L, 100L, 11L, "user", "hi"),
      (1L, 100L, 10L, "assistant", null.asInstanceOf[String]),
      (1L, 200L, 12L, "user", "bye"),
      (2L, 50L, 20L, "user", "solo"))
      .toDF("user_id", "us", "event_id", "event_type", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // user 1 in ts/tie order: (10 assistant), (11 user hi), (12 user bye)
    // -> keep LAST two, serialized chronologically
    val convo1 = "user: hi\nuser: bye"
    val out = op(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 2L, convo1.length.toLong, md5hex(convo1))))
    assert(out(2L) == ((1L, 1L, 10L, md5hex("user: solo"))))
    // partition invariance for the tail ordering too
    val out7 = op(df.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(out7(1L) == md5hex(convo1) && out7(2L) == md5hex("user: solo"))
    assertThrows[IllegalArgumentException](
      new graft.operators.text.ConversationAssembly(keep = "middle"))
  }

  test("conversation quality: alternation repeats, empty turns, NULL-role edges") {
    import spark.implicits._
    val op = new graft.operators.text.ConversationQuality(
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      roleCol = "event_type", contentCol = "props")
    val df = Seq(
      // user 1: user,user (repeat), assistant, assistant (repeat) -> 2
      (1L, 1L, 10L, "user", "hi"),
      (1L, 2L, 11L, "user", "again"),
      (1L, 3L, 12L, "assistant", ""),   // empty turn
      (1L, 4L, 13L, "assistant", null.asInstanceOf[String]), // repeat + empty
      // user 2: single NULL-role first turn -> NOT a repeat
      (2L, 1L, 20L, null.asInstanceOf[String], "x"),
      // user 3: two consecutive NULL roles ARE a repeat
      (3L, 1L, 30L, null.asInstanceOf[String], "abcd"),
      (3L, 2L, 31L, null.asInstanceOf[String], "ef"))
      .toDF("user_id", "us", "event_id", "event_type", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = op(df).collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 2L, 2L, 1.75))) // lens 2,5,0,0 -> avg 1.75
    assert(out(2L) == ((1L, 0L, 0L, 1.0)))
    assert(out(3L) == ((2L, 1L, 0L, 3.0)))
  }

  test("sft pack: windows and aggregation are conversation-key partitioned") {
    val p = TestSpark.planOf(new graft.operators.text.ConversationAssembly()(
      graft.core.Tables.events(spark, sfDir)))
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("user_id"),
      s"turn-rank window must partition by the conversation key: $w"))
    // keep-last adds a count window on the SAME key partitioning: still
    // every window key-partitioned, and no extra exchange beyond the
    // keep-first plan's
    val pl = TestSpark.planOf(new graft.operators.text.ConversationAssembly(
      keep = "last")(graft.core.Tables.events(spark, sfDir)))
    val wl = pl.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wl.nonEmpty, pl)
    wl.foreach(w => assert(w.contains("user_id"),
      s"keep-last windows must partition by the conversation key: $w"))
    def exchanges(s: String) = s.linesIterator.count(_.contains("Exchange"))
    assert(exchanges(pl) == exchanges(p),
      s"keep-last must not add an exchange: ${exchanges(pl)} vs ${exchanges(p)}")
  }
}
