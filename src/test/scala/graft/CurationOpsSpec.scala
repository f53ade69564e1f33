package graft

import graft.operators.text.{BenchmarkDecontaminationFilter, PiiRedaction, PiiRedactionRefiner, TextRepetitionRefiner}
import org.apache.spark.sql.functions._

/** Unit semantics of the training-data curation additions: benchmark
  * decontamination, PII redaction, repetition signals.
  */
class CurationOpsSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val benchText = "the held out benchmark question asks about prime factorization " +
    "of large composite numbers under time pressure"

  private def corpus = Seq(
    (1L, "a perfectly clean training document discussing cooking techniques " +
      "for seasonal vegetables and slow fermentation"),
    (2L, "students often struggle when a benchmark question asks about prime " +
      "factorization of large composite numbers under exam conditions"), // 8-gram overlap
    (3L, "another clean document on distributed systems consensus protocols " +
      "and quorum intersection proofs"),
    (4L, "short doc")) // < 8 tokens: no shingles, never contaminated
    .toDF("id", "text")

  test("decontamination drops docs sharing an n-gram with the benchmark") {
    val bench = Seq(benchText).toDF("text")
    val op = BenchmarkDecontaminationFilter(bench, "id", "text", ngramWidth = 8)
    val kept = op(corpus).select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L), s"got $kept")
    val rej = op.rejected(corpus)
    assert(rej.select("id").as[Long].collect().toSet == Set(2L))
    assert(rej.select(col("_rejection_details.reason")).head().getString(0) == "filtered")
  }

  test("decontamination disposition mark matches the drop path") {
    val bench = Seq(benchText).toDF("text")
    val op = BenchmarkDecontaminationFilter(bench, "id", "text", ngramWidth = 8)
    val m = op.mark(corpus, lit(true), "t")
    val out = m.df.withColumn("_alive", m.stillAlive)
      .select(col("id"), col("_alive")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true))
  }

  test("decontamination broadcasts the benchmark side") {
    val bench = Seq(benchText).toDF("text")
    val plan = BenchmarkDecontaminationFilter(bench, "id", "text", ngramWidth = 8)(corpus)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("pii counts and redaction on crafted text") {
    val df = Seq(
      (1L, "mail alice@example.com and bob.smith@sub.domain.org from 10.0.0.1 " +
        "or call 415-555-0199 then 650.555.0100"),
      (2L, "no pii in this entirely ordinary sentence"),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    val out = new PiiRedactionRefiner("text")(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 2 && out(1L).getLong(3) == 1 && out(1L).getLong(4) == 2)
    val red = out(1L).getString(5)
    assert(red.contains("[EMAIL]") && red.contains("[IP]") && red.contains("[PHONE]"))
    assert(!red.contains("alice") && !red.contains("10.0.0.1") && !red.contains("0199"))
    assert(out(2L).getLong(2) == 0 && out(2L).getString(5).contains("ordinary"))
    assert(out(3L).getLong(2) == 0 && out(3L).isNullAt(5))
  }

  test("deterministic sample: reproducible, partition-independent, salt-independent") {
    import graft.operators.text.DeterministicSampleFilter
    val ids = (0L until 2000L).toDF("id")
    val op = new DeterministicSampleFilter(0.5, "id", salt = "a")
    val a = op(ids).as[Long].collect().toSet
    // same rows again, and identical when the data is partitioned differently
    assert(op(ids.repartition(13)).as[Long].collect().toSet == a)
    // roughly the requested fraction
    assert(math.abs(a.size / 2000.0 - 0.5) < 0.05, s"${a.size}")
    // a different salt draws an (almost surely) different sample
    val b = new DeterministicSampleFilter(0.5, "id", salt = "b")(ids).as[Long].collect().toSet
    assert(a != b)
    // fraction bounds enforced; 0 and 1 are exact
    assert(new DeterministicSampleFilter(1.0, "id")(ids).count() == 2000)
    assert(new DeterministicSampleFilter(0.0, "id")(ids).count() == 0)
    intercept[IllegalArgumentException] { new DeterministicSampleFilter(1.5, "id") }
  }

  test("line dedup: first doc keeps the shared line, later docs lose it") {
    import graft.operators.text.LineDedupRefiner
    val df = Seq(
      (1L, "alpha unique first\nshared boilerplate footer\nok"),
      (2L, "shared boilerplate footer\nbeta unique second\nok"),
      (3L, "gamma only content here")).toDF("id", "text")
    val out = new LineDedupRefiner("text", "id", "id", minLineLength = 5)(df)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("text_line_deduped"), r.getAs[Long]("lines_removed"))).toMap
    // doc 1 arrives first: keeps everything
    assert(out(1L)._1 == "alpha unique first\nshared boilerplate footer\nok")
    assert(out(1L)._2 == 0L)
    // doc 2 loses the shared line; the short "ok" line is EXEMPT
    // (< minLineLength) despite appearing in doc 1 too
    assert(out(2L)._1 == "beta unique second\nok", out(2L)._1)
    assert(out(2L)._2 == 1L)
    assert(out(3L) == (("gamma only content here", 0L)))
    // null text is total
    val nulls = new LineDedupRefiner("text", "id", "id")(
      Seq((9L, null.asInstanceOf[String])).toDF("id", "text")).collect()
    assert(nulls.head.getAs[String]("text_line_deduped") == "")
  }

  test("gopher repetition battery on crafted documents") {
    import graft.operators.text.GopherRepetitionRefiner
    val df = Seq(
      // 4 lines, one repeated once: dup_line_frac = 1/4; the repeated
      // line is 'dup' (3 chars) of 3+3+6+5=17 line chars -> 3/17
      (1L, "dup\ndup\nunique\nother"),
      // two identical paragraphs
      (2L, "same para here\n\nsame para here"),
      // 'spam spam spam spam': top 2-gram "spam spam" occurs 3x,
      // len 9 -> 27 / 19 chars normalized... >1 is fine (overlapping
      // grams can cover more mass than the doc holds)
      (3L, "spam spam spam spam"),
      (4L, ""))
      .toDF("id", "text")
    val out = new GopherRepetitionRefiner("text")(df).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(math.abs(out(1L).getAs[Double]("dup_line_frac") - 0.25) < 1e-9)
    assert(math.abs(out(1L).getAs[Double]("dup_line_char_frac") - 3.0 / 17) < 1e-9)
    assert(math.abs(out(2L).getAs[Double]("dup_para_frac") - 0.5) < 1e-9)
    assert(math.abs(out(2L).getAs[Double]("dup_para_char_frac") - 0.5) < 1e-9)
    assert(math.abs(out(3L).getAs[Double]("top_2gram_char_frac") - 27.0 / 19) < 1e-9)
    // empty doc: all zeros
    Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
      "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
      "top_4gram_char_frac").foreach(c =>
      assert(out(4L).getAs[Double](c) == 0.0, c))
  }

  test("unicode normalize: NFC composes, NFKC folds compatibility, controls strip") {
    import graft.operators.text.UnicodeNormalizeRefiner
    val df = Seq(
      (1L, "cafe\u0301"),            // decomposed acute -> composed e-acute
      (2L, "caf\u00e9"),             // already composed: unchanged
      (3L, "\ufb01le \uff41bc"),    // fi-ligature + full-width a (NFKC-only folds)
      (4L, "a\u200bb c\td\u0000")) // ZWSP (Cf) + NUL (Cc) strip, tab kept
      .toDF("id", "text")
    def run(form: String, strip: Boolean = false) =
      new UnicodeNormalizeRefiner("text", form, stripControls = strip)(df)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[String]("text_normalized"), r.getAs[Boolean]("unicode_changed"))).toMap
    val nfc = run("NFC")
    assert(nfc(1L) == (("caf\u00e9", true)))
    assert(nfc(2L) == (("caf\u00e9", false)))
    assert(nfc(3L)._1 == "\ufb01le \uff41bc") // NFC keeps compatibility chars
    val nfkc = run("NFKC")
    assert(nfkc(3L) == (("file abc", true)))
    val stripped = run("NFC", strip = true)
    assert(stripped(4L) == (("ab c\td", true)))
  }

  test("paragraph dedup: \\n\\n units dedup whole paragraphs, inner newlines intact") {
    import graft.operators.text.LineDedupRefiner
    val shared = "shared footer paragraph\nwith an inner newline"
    val df = Seq(
      (1L, s"alpha first paragraph\n\n$shared"),
      (2L, s"$shared\n\nbeta own paragraph"),
      (3L, "single paragraph\nwith inner newline only")).toDF("id", "text")
    val op = new LineDedupRefiner("text", "id", "id", minLineLength = 5,
      outputCol = "text_paragraph_deduped", removedCol = "paragraphs_removed",
      separator = "\n\n")
    val out = op(df).collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("text_paragraph_deduped"), r.getAs[Long]("paragraphs_removed"))).toMap
    // doc 1 first: keeps both paragraphs, inner \n untouched (a LINE
    // dedup would have cut "with an inner newline" as its own unit)
    assert(out(1L)._1 == s"alpha first paragraph\n\n$shared")
    assert(out(1L)._2 == 0L)
    // doc 2 loses only the shared paragraph as one unit
    assert(out(2L)._1 == "beta own paragraph", out(2L)._1)
    assert(out(2L)._2 == 1L)
    assert(out(3L) == (("single paragraph\nwith inner newline only", 0L)))
    assert(op.name == "paragraph_dedup")
  }

  test("url canonicalization: case, ports, tracking params, fragments, slashes") {
    import graft.operators.text.UrlCanonicalizeRefiner
    val df = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/Deep/Path/?utm_source=x&q=Keep&utm_medium=y#frag"),
      (2L, "http://host.org:80/a?utm_campaign=z"),
      (3L, "http://host.org:8080/a"),   // non-default port survives
      (4L, "https://example.com/"),     // bare root slash trims
      (5L, "no scheme at all"),
      (6L, null.asInstanceOf[String])).toDF("id", "url")
    val out = new UrlCanonicalizeRefiner("url")(df)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "https://www.example.com/Deep/Path?q=Keep", out(1L))
    assert(out(2L) == "http://host.org/a", out(2L))
    assert(out(3L) == "http://host.org:8080/a")
    assert(out(4L) == "https://example.com")
    assert(out(5L) == "no scheme at all")
    assert(out(6L) == null)
  }

  test("repetition ratios on crafted token streams") {
    val df = Seq(
      (1L, "spam spam spam spam"),            // 4 toks 1 distinct; 3 2grams 1 distinct
      (2L, "all words here are unique okay"), // 0 and 0
      (3L, "one"),                            // single token: no 2-grams
      (4L, "")).toDF("id", "text")
    val out = new TextRepetitionRefiner("text")(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.75, 1.0 - 1.0 / 3.0)))
    assert(out(2L) == ((0.0, 0.0)))
    assert(out(3L) == ((0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0)))
  }

  test("intra-doc line dedup keeps first occurrences in order, counts removals") {
    import spark.implicits._
    val df = Seq(
      (1L, "a\nb\na\nc\nb\na"),
      (2L, "x\ny"),
      (3L, "")).toDF("id", "text")
    val out = new graft.operators.text.IntraDocLineDedup("text")(df)
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a\nb\nc", 3L)))
    assert(out(2L) == (("x\ny", 0L)))
    assert(out(3L) == (("", 0L)))
  }

  test("intra-doc line dedup is a pure map: no exchange in the plan") {
    val df = TestSpark.table("documents")
    val plan = TestSpark.planOf(new graft.operators.text.IntraDocLineDedup("text")(df))
    assert(!plan.contains("Exchange"), plan)
  }

  test("canonical url dedup: messy spellings of one page collapse; null url keeps by id") {
    import spark.implicits._
    import graft.functions.HashFunctions
    import graft.operators.text.UrlCanonicalize
    val op = new graft.operators.dedup.ExactDedup("canonical_url_dedup",
      d => when(col("url").isNull, col("id").cast("string"))
        .otherwise(HashFunctions.portableHash64(
          expr(UrlCanonicalize.canonicalSqlSpark("url"))).cast("string")),
      orderCol = "id", repCol = "id")
    val df = Seq(
      (1L, "HTTPS://Example.COM:443/a/?utm_source=f&q=1"),
      (2L, "https://example.com/a?q=1#top"), // same page as 1
      (3L, "https://example.com/a?q=2"),     // different query value
      (4L, null.asInstanceOf[String]),       // null url: no dedup evidence
      (5L, null.asInstanceOf[String]))
      .toDF("id", "url")
    val kept = op(df).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L), s"kept $kept")
  }
}
