package graft

import graft.operators.text.{C4CleanRefiner, C4QualityFilter, DupNgramRefiner, NgramLmScoreRefiner, SourceWeightedSampleFilter}
import graft.operators.vector.CrossModalAlignmentRefiner
import org.apache.spark.sql.functions._

/** Unit semantics of the round-6 training-data additions: C4 page
  * cleaning (including the NULL-text disposition guarantee), duplicated
  * n-gram span removal, corpus LM scoring, source-weighted sampling,
  * cross-modal alignment.
  */
class TrainingMixSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def pages = Seq(
    (1L, "This first sentence is long enough to survive the cut.\n" +
      "tiny line.\n" +
      "please enable the javascript framework to continue reading now.\n" +
      "a line with no terminal punctuation at all\n" +
      "Here is another good sentence padding out the page nicely.\n" +
      "And a third complete sentence keeps the document alive today."),
    (2L, "Lorem ipsum dolor sit amet fills this entire page body here.\n" +
      "A second proper sentence will not rescue the page at all.\n" +
      "Nor will a third one because the page level rule fires."),
    (3L, "A single surviving sentence is not enough for the minimum."),
    (4L, null.asInstanceOf[String]))
    .toDF("id", "text")

  test("c4 clean keeps only terminal-punctuated long lines and flags pages") {
    val out = new C4CleanRefiner("text")(pages).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    val p1 = out(1L)
    assert(p1.getAs[Long]("c4_lines_kept") == 3)
    assert(p1.getAs[Long]("c4_lines_removed") == 3)
    assert(p1.getAs[Long]("c4_sentences") == 3)
    assert(p1.getAs[Boolean]("c4_keep"))
    assert(!p1.getAs[String]("text_c4_clean").toLowerCase.contains("javascript"))
    assert(!out(2L).getAs[Boolean]("c4_keep")) // lorem ipsum page rule
    assert(!out(3L).getAs[Boolean]("c4_keep")) // below sentence minimum
  }

  test("c4 null text flows through as empty, never NULL, and is rejected") {
    val p4 = new C4CleanRefiner("text")(pages).filter(col("id") === 4L).head()
    assert(p4.getAs[String]("text_c4_clean") == "")
    assert(p4.getAs[Long]("c4_lines_kept") == 0L)
    assert(p4.getAs[Long]("c4_lines_removed") == 1L) // split('') = one empty line
    assert(p4.getAs[Long]("c4_sentences") == 0L)
    assert(p4.getAs[Boolean]("c4_keep") == false)    // non-NULL verdict

    // the row must land in exactly one output: rejected, not dropped
    val f = new C4QualityFilter("text")
    assert(!f(pages).collect().map(_.getAs[Long]("id")).contains(4L))
    val rejIds = f.rejected(pages).collect().map(_.getAs[Long]("id")).toSet
    assert(rejIds.contains(4L), s"null-text row missing from rejects: $rejIds")
    val m = f.mark(pages, lit(true), "t")
    val marked = m.df.select(col("id"), (!m.stillAlive).as("r")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("r")).toMap
    assert(marked(4L), "null-text row not marked rejected in disposition mode")
  }

  test("dup-ngram masks corpus-duplicated spans and counts instances") {
    val tail = " alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "completely unique first document about orchard irrigation" + tail),
      (2L, "a different second document concerning tidal power plants" + tail),
      (3L, "third document with no shared phrases whatsoever in it at all"))
      .toDF("id", "text")
    val out = new DupNgramRefiner("text", "id", ngramWidth = 8, minCount = 2)(docs)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(3L).getAs[Long]("dup_ngram_count") == 0L)
    assert(out(3L).getAs[Long]("dup_tokens_removed") == 0L)
    // the 8-token tail is duplicated; its single fully-interior gram covers it
    assert(out(1L).getAs[Long]("dup_ngram_count") >= 1L)
    assert(out(1L).getAs[Long]("dup_tokens_removed") >= 8L)
    assert(!out(1L).getAs[String]("text_dedup_spans").contains("theta"))
    assert(out(1L).getAs[String]("text_dedup_spans").contains("orchard"))
    assert(out(2L).getAs[String]("text_dedup_spans").contains("tidal"))
  }

  test("dup-ngram keepFirst: the corpus-first copy keeps its tokens, later copies lose the span") {
    val tail = " alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, "completely unique first document about orchard irrigation" + tail),
      (2L, "a different second document concerning tidal power plants" + tail),
      (3L, "third document with no shared phrases whatsoever in it at all"))
      .toDF("id", "text")
    def run(kf: Boolean) =
      new DupNgramRefiner("text", "id", ngramWidth = 8, minCount = 2,
        keepFirst = kf)(docs)
        .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val kept = run(true)
    val full = run(false)
    // doc 1 holds the corpus-first instance of the shared tail: with
    // keepFirst it keeps every token; doc 2 still loses the span
    assert(kept(1L).getAs[Long]("dup_tokens_removed") == 0L)
    assert(kept(1L).getAs[String]("text_dedup_spans").contains("theta"))
    assert(kept(2L).getAs[Long]("dup_tokens_removed") >= 8L)
    assert(!kept(2L).getAs[String]("text_dedup_spans").contains("theta"))
    assert(kept(3L).getAs[Long]("dup_ngram_count") == 0L)
    // keepFirst only ever uncovers: per doc, counts and removals are <=
    // the remove-all policy's
    Seq(1L, 2L, 3L).foreach { id =>
      assert(kept(id).getAs[Long]("dup_ngram_count") <=
        full(id).getAs[Long]("dup_ngram_count"))
      assert(kept(id).getAs[Long]("dup_tokens_removed") <=
        full(id).getAs[Long]("dup_tokens_removed"))
    }
    // an intra-doc repeat keeps exactly its first instance
    val intra = Seq(
      (1L, ("one two three four five six seven eight " * 2).trim))
      .toDF("id", "text")
    val io = new DupNgramRefiner("text", "id", ngramWidth = 8, minCount = 2,
      keepFirst = true)(intra).collect().head
    assert(io.getAs[String]("text_dedup_spans")
      .startsWith("one two three four five six seven eight"))
    assert(io.getAs[Long]("dup_tokens_removed") > 0L)
  }

  test("ngram LM scores corpus-typical text above gibberish") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat on the rug"),
      (2L, "the cat sat on the rug and the dog sat on the mat"),
      (3L, "zxqv wkjh pqrs mnbv lkjq asdf qwer zxcv tyui ghjk"))
      .toDF("id", "text")
    val out = new NgramLmScoreRefiner("text", "id")(docs).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Double]("lm_logprob_avg") > out(3L).getAs[Double]("lm_logprob_avg"))
    val avg = out(2L).getAs[Double]("lm_logprob_avg")
    val perp = out(2L).getAs[Double]("lm_perplexity")
    assert(math.abs(perp - math.pow(10.0, -avg)) < 1e-9)
  }

  test("ngram LM at width 2: staged-bigram path scores shared bigrams above unique ones, gated and partition-invariant") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the cat sat on the rug"),
      (2L, "the cat sat on the rug and the dog sat on the mat"),
      (3L, "zxqv wkjh pqrs mnbv lkjq asdf qwer zxcv tyui ghjk"))
      .toDF("id", "text")
    val op = new NgramLmScoreRefiner("text", "id", ngramWidth = 2)
    val out = op(docs).collect().map(r => r.getAs[Long]("id") -> r).toMap
    // docs 1/2 share bigrams ("the cat", "sat on", ...); doc 3's are unique
    assert(out(1L).getAs[Double]("lm_logprob_avg") > out(3L).getAs[Double]("lm_logprob_avg"))
    assert(out.values.forall(_.getAs[Double]("lm_perplexity") > 0.0))
    // partition-invariant (the staged projection boundary holds)
    val re = op(docs.repartition(7)).collect().map(r => r.getAs[Long]("id") ->
      r.getAs[Double]("lm_logprob_avg")).toMap
    assert(out.keys.forall(k => re(k) == out(k).getAs[Double]("lm_logprob_avg")))
    // gated: dead rows keep null LM columns and don't shape the corpus model
    val gated = op.applyGated(docs, org.apache.spark.sql.functions.col("id") =!= 3L)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(gated(3L).isNullAt(gated(3L).fieldIndex("lm_logprob_avg")))
    assert(gated(1L).getAs[Double]("lm_logprob_avg") > -10)
  }

  test("source-weighted sampling is deterministic and respects 0/1 fractions") {
    val docs = (1L to 400L).map(i => (i, s"src${i % 4}")).toDF("id", "source")
    val op = new SourceWeightedSampleFilter(
      weights = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.5),
      defaultFraction = 1.0, sourceCol = "source", idCol = "id")
    val kept = op(docs).select("id", "source").as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!bySrc.contains("src0"))
    assert(bySrc("src1") == 100)
    assert(bySrc("src3") == 100) // default fraction
    val mid = bySrc.getOrElse("src2", 0)
    assert(mid > 20 && mid < 80, s"src2 kept $mid of 100 at fraction 0.5")
    // reproducible across partition layouts
    val again = op(docs.repartition(13)).select("id").as[Long].collect().toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("cross-modal alignment scores rows and zeroes degenerate input") {
    val docs = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),   // identical → 1
      (2L, Array(1.0f, 0.0f), Array(-1.0f, 0.0f)),  // opposite → -1
      (3L, Array(1.0f, 2.0f), Array(0.0f, 0.0f)),   // zero norm → 0
      (4L, Array(1.0f, 2.0f), Array.empty[Float]),  // empty → 0
      (5L, Array(1.0f, 2.0f), null.asInstanceOf[Array[Float]]), // null → 0
      (6L, Array(1.0f, 2.0f), Array(1.0f)))         // length mismatch → 0
      .toDF("id", "embedding", "emb_b")
    val out = new CrossModalAlignmentRefiner("embedding", "emb_b")(docs)
      .select("id", "cross_modal_cosine").as[(Long, Double)].collect().toMap
    assert(math.abs(out(1L) - 1.0) < 1e-12)
    assert(math.abs(out(2L) + 1.0) < 1e-12)
    assert(out(3L) == 0.0 && out(4L) == 0.0 && out(5L) == 0.0 && out(6L) == 0.0)
  }

  // ---- water-filling budget allocator ----

  test("waterfill: hand-computed levels — small groups funded whole, surplus redistributed") {
    import spark.implicits._
    import graft.operators.text.BudgetWaterfill
    // avail: a=2, b=4, c=10 (one token per 'x'); budget = 16*3/4 = 12.
    // Equal split 4: a takes 2 (funded), surplus raises the level for
    // b,c to (12-2)/2 = 5: b takes 4 (funded), c capped at 12-6 = 6.
    val docs = (Seq.fill(2)("a") ++ Seq.fill(4)("b") ++ Seq.fill(10)("c"))
      .map(g => (g, "x")).toDF("source", "text")
    val out = new BudgetWaterfill("text", "source", 3L, 4L)(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getDouble(3)))).toMap
    assert(out("a") == ((2L, true, 2.0)))
    assert(out("b") == ((4L, true, 4.0)))
    assert(out("c") == ((10L, false, 6.0)))
  }

  test("waterfill: budget >= total funds everything; zero budget levels everyone at 0") {
    import spark.implicits._
    import graft.operators.text.BudgetWaterfill
    val docs = Seq(("a", "x x"), ("b", "x")).toDF("source", "text")
    val full = new BudgetWaterfill("text", "source", 1L, 1L)(docs)
      .collect().map(r => (r.getBoolean(2), r.getDouble(3))).toSeq
    assert(full == Seq((true, 2.0), (true, 1.0)))
    val zero = new BudgetWaterfill("text", "source", 0L, 1L)(docs)
      .collect().map(r => (r.getBoolean(2), r.getDouble(3))).toSeq
    assert(zero == Seq((false, 0.0), (false, 0.0)))
  }

  test("waterfill overflow property: token totals near 2^63/num match a BigInt reference (ADVICE r14)") {
    import spark.implicits._
    import graft.operators.text.BudgetWaterfill
    // totals this size are unreachable through row-level text fixtures;
    // fromCounts is the planner entry for metadata-table token counts.
    // total = 9e18 (near Long.Max), budgetNum = 3: the old long-space
    // product 2.7e19 overflow-errors under ANSI; decimal must not.
    val cases = Seq(
      Seq(("a", 4500000000000000000L), ("b", 4499999999999999999L), ("c", 17L)),
      Seq(("a", 9223372036854775807L / 2), ("b", 9223372036854775807L / 2 - 3L)),
      Seq(("a", 1L), ("b", 9000000000000000000L)))
    for (avails <- cases; (num, den) <- Seq((3L, 7L), (1L, 2L), (9L, 10L))) {
      val out = new BudgetWaterfill("text", "grp", num, den)
        .fromCounts(avails.toDF("grp", "avail"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getBoolean(2), r.getDouble(3)))).toMap
      // BigInt reference of the same water-filling algebra
      val sorted = avails.map(_._2).sorted
      val n = sorted.length
      val b = sorted.map(BigInt(_)).sum * num / den
      var pfx = BigInt(0); var k = 0; var pk = BigInt(0)
      for ((a, i) <- sorted.zipWithIndex) {
        pfx += a
        if (BigInt(a) * (n - i) <= b - pfx + a) { k = i + 1; pk = pfx }
      }
      val level = if (k < n) (b - pk).toDouble / (n - k) else 0.0
      for ((g, a) <- avails) {
        val rank = sorted.indexOf(a) + 1 // avails distinct per case
        val funded = rank <= k
        val want = if (funded) a.toDouble else level
        val (gotA, gotF, gotAlloc) = out(g)
        assert(gotA == a && gotF == funded,
          s"case $avails num=$num/$den grp=$g: got $gotF want $funded")
        assert(math.abs(gotAlloc - want) <= math.abs(want) * 1e-9 + 1e-6,
          s"case $avails num=$num/$den grp=$g: got $gotAlloc want $want")
      }
    }
  }
}
