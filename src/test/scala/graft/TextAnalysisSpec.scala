package graft

import graft.operators.text.{TextAnalysis, TextAnalysisRefiner}
import org.apache.spark.sql.functions._

/** Semantic invariants of the text-analysis family (the oracle gate
  * covers cross-engine equality; these pin the intended behavior).
  */
class TextAnalysisSpec extends ScopedSuite {
  import TestSpark._

  private def one(text: String): org.apache.spark.sql.Row =
    new TextAnalysisRefiner("text")(
      spark.createDataFrame(Seq((1L, text))).toDF("doc_id", "text"))
      .select(col("lang_id"), col("quality_score"), col("bpe_token_count"),
        col("doc_fingerprint")).head()

  test("fingerprint is whitespace/case-normalization invariant") {
    assert(one("The  Quick\tBrown").getLong(3) == one("the quick brown").getLong(3))
    assert(one("the quick brown").getLong(3) != one("the quick browns").getLong(3))
  }

  test("bpe token count: runs split into max-6 pieces, punctuation counts singly") {
    // "hello world!" -> ceil(5/6) + ceil(5/6) + 1
    assert(one("hello world!").getLong(2) == 3L)
    // 13-letter run -> ceil(13/6) = 3 pieces
    assert(one("extraordinary").getLong(2) == 3L)
    assert(one("").getLong(2) == 0L)
  }

  test("language id picks the profile with most function-word hits") {
    assert(one("the cat sat on the mat and it is that").getString(0) == "en")
    assert(one("der hund ist nicht mit der katze und das").getString(0) == "de")
    assert(one("xyzzy qwerty plugh").getString(0) == "und")
  }

  test("quality: empty text scores 0; english prose scores high") {
    assert(one("").getDouble(1) == 0.0)
    val prose = one("The quick brown fox jumps over the lazy dog and it is fine.").getDouble(1)
    assert(prose > 0.8, s"prose=$prose")
  }

  test("fused quality-score kernel is bit-identical to the declarative tree") {
    val fixtures = Seq(
      "The quick brown fox jumps over the lazy dog and it is fine.",
      "der hund ist nicht mit der katze und das haus",
      "", "   \t\n  ", "11 22 33 44 55 66 77 88 99 00",
      "short", "Ünïcode café Ångström 한국어 text the and of to",
      "a b c d e f g h i j k l m n o p", // mtl below band
      "supercalifragilisticexpialidocious antidisestablishmentarianism", // mtl above band
      "!!! ??? ,,, ... ;;;", null)
    val df = spark.createDataFrame(
      fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val toks = graft.functions.TextFunctions.tokensOf(col("text"))
    val rows = df.select(
      TextAnalysis.qualityScore(col("text"), toks).as("fused"),
      TextAnalysis.qualityScoreDeclarative(col("text"), toks).as("decl"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"value mismatch: $r")
    }
  }

  test("one-pass repetition_keep equals the 7-field thresholded struct form") {
    val fixtures = Seq(
      "dup\ndup\ndup\ndup\nunique",             // dup-line reject
      "same para here\n\nsame para here",       // dup-para reject
      "spam spam spam spam",                    // top-gram reject
      // clean keep — long enough that any single-occurrence top gram is
      // a small char fraction (short docs fail the t3/t4 cutoffs on
      // their first gram alone)
      ("The quick brown fox jumps over the lazy dog while the sun sets " +
        "slowly behind distant purple mountains and rivers wind their way " +
        "through quiet green valleys toward a calm silver sea at dusk."),
      "", null)
    val df = spark.createDataFrame(
      fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val maxes = Seq(0.30, 0.20, 0.30, 0.20, 0.20, 0.18, 0.16)
    val s = graft.plans.kernels.repetition_signals(col("text"))
    val declarative = s("dup_line_frac") <= maxes(0) &&
      s("dup_line_char_frac") <= maxes(1) &&
      s("dup_para_frac") <= maxes(2) &&
      s("dup_para_char_frac") <= maxes(3) &&
      s("top_2gram_char_frac") <= maxes(4) &&
      s("top_3gram_char_frac") <= maxes(5) &&
      s("top_4gram_char_frac") <= maxes(6)
    val rows = df.select(
      graft.plans.kernels.repetition_keep(col("text"), maxes).as("fused"),
      declarative.as("decl")).collect()
    rows.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), s"$r"))
    // the crafted rejects actually reject and the clean doc keeps
    val verdicts = df.orderBy("doc_id").select(
      graft.plans.kernels.repetition_keep(col("text"), maxes)).collect().map(_.getBoolean(0))
    assert(verdicts.toSeq == Seq(false, false, false, true, true, true))
  }

  test("compression ratio: repetition compresses below prose, bounds hold, partition-invariant") {
    import graft.operators.text.{CompressionRatioFilter, CompressionRatioRefiner}
    val prose = ("The quick brown fox jumps over the lazy dog while seventeen " +
      "curious researchers watch from a distant hill recording every single " +
      "movement with battered field notebooks and cheap pencils at dusk.") * 3
    val boiler = "click here to subscribe now " * 40
    // high MIXED bits, not a modular cycle — `i*c % 93` is periodic and
    // compresses BETTER than prose
    val noise = Seq.tabulate(600)(i =>
      (((i * 0x9E3779B97F4A7C15L) >>> 41) % 94 + 33).toChar).mkString
    val df = spark.createDataFrame(Seq(
      (1L, prose), (2L, boiler), (3L, noise), (4L, ""), (5L, null)))
      .toDF("doc_id", "text")
    val out = new CompressionRatioRefiner()(df)
      .select("doc_id", "compression_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) < out(1L), s"boilerplate ${out(2L)} not below prose ${out(1L)}")
    assert(out(1L) < out(3L), s"prose ${out(1L)} not below noise ${out(3L)}")
    assert(out(4L) == 1.0 && out(5L) == 1.0)
    out.values.foreach(r => assert(r > 0.0 && r < 1.2, s"ratio $r out of range"))
    // filter: one-pass verdict equals the ratio-column comparison
    val f = new CompressionRatioFilter(minRatio = 0.25, maxRatio = 0.95)
    val kept = df.where(f.keep(df)).select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = out.filter { case (_, r) => r >= 0.25 && r <= 0.95 }.keySet
    assert(kept == expected)
    // partition-invariant (deterministic zlib, stateless per row)
    val repart = new CompressionRatioRefiner()(df.repartition(5))
      .select("doc_id", "compression_ratio")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(repart == out)
  }

  test("fingerprint stays in [0, 2^31) and token counts are non-negative on random input") {
    val gen = org.scalacheck.Gen.listOfN(200,
      org.scalacheck.Gen.listOf(org.scalacheck.Gen.oneOf(
        org.scalacheck.Gen.alphaNumStr, org.scalacheck.Gen.const(" "),
        org.scalacheck.Gen.const("\t"), org.scalacheck.Gen.const("!?.,"),
        org.scalacheck.Gen.const("Ünïcode"))).map(_.mkString))
    val samples = gen.sample.get
    val df = spark.createDataFrame(samples.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val rows = new TextAnalysisRefiner("text")(df)
      .select(col("doc_fingerprint"), col("bpe_token_count")).collect()
    rows.foreach { r =>
      val fp = r.getLong(0)
      assert(fp >= 0L && fp < 2147483647L, s"fingerprint out of field: $fp")
      assert(r.getLong(1) >= 0L)
    }
  }

  test("wordlist tagger/filter: exact-token matching, no-token docs keep, dual bound") {
    import spark.implicits._
    import graft.operators.text.{WordlistFilter, WordlistTagger}
    val docs = Seq(
      (1L, "bad word and more words here"),     // 1 hit of 6 tokens
      (2L, "bad bad bad"),                      // 3 of 3
      (3L, "badge abaddon embad"),              // substrings must NOT match
      (4L, ""),                                 // no tokens -> keeps, null frac
      (5L, null.asInstanceOf[String]),
      (6L, "BAD Word")                          // normalization lowercases
    ).toDF("doc_id", "text")
    val tagged = new WordlistTagger(Seq("bad", "word"), prefix = "tox")(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(tagged(1L) == ((2L, BigDecimal(2.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(tagged(2L) == ((3L, 1.0)))
    assert(tagged(3L) == ((0L, 0.0)))
    assert(tagged(4L) == ((0L, -1.0)) && tagged(5L) == ((0L, -1.0)))
    assert(tagged(6L) == ((2L, 1.0)))
    // filter: frac bound keeps doc1 (0.33 <= 0.5) but count bound (<=1) rejects it
    val kept = new WordlistFilter(Seq("bad", "word"), maxHitFrac = 0.5,
      maxHits = 1L, prefix = "tox")(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 5L))
    // registry path round-trips the params
    val fromReg = graft.runner.OperatorRegistry.create("wordlist_filter",
      graft.runner.Params(Map(
        "words" -> java.util.Arrays.asList("bad", "word"),
        "max_hit_frac" -> 0.5, "max_hits" -> 1)))
    assert(fromReg(docs).count() == 3L)
    intercept[IllegalArgumentException](new WordlistTagger(Seq("Bad")))
    intercept[IllegalArgumentException](new WordlistTagger(Seq.empty))
  }

  test("refiner drops its staging columns") {
    val out = new TextAnalysisRefiner("text")(table("documents"))
    assert(!out.columns.exists(_.startsWith("_")))
    assert(out.count() == table("documents").count())
  }

  test("readability: hand-derived syllable/sentence/word counts and Flesch") {
    import spark.implicits._
    val op = new graft.operators.text.Readability("text", "src")
    // the cat sat. -> 3 words, 1 sentence, 3 syllables ("the" silent-e
    //   keeps floor 1); beautiful(3) code(2 runs - silent e = 1)
    //   example(3; ends 'le' so no subtraction) -> 7 syllables
    val df = Seq(("a", "the cat sat."), ("b", "beautiful code example!"))
      .toDF("src", "text")
    val counts = op.docCounts(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(counts("a") == ((3L, 1L, 3L)))
    assert(counts("b") == ((3L, 1L, 7L)))
    val rep = op(df).collect().map(r => r.getString(0) -> r).toMap
    // flesch(a) = 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(math.abs(rep("a").getDouble(4) - 119.19) < 1e-9)
    // fk(b) = 0.39*3 + 11.8*(7/3) - 15.59
    assert(math.abs(rep("b").getDouble(5) - (0.39 * 3 + 11.8 * 7.0 / 3 - 15.59)) < 1e-3)
  }

  test("charclass profile: exact class fractions incl. non-ascii and derived other") {
    import spark.implicits._
    val op = new graft.operators.text.CharClassProfile("text", "src")
    // 19 chars: 8 alpha, 3 digit, 3 ws (space+tab+newline), 2 non-ascii,
    // 3 other (! ? .)
    val df = Seq(("s", "ab cd12\u00e9\u00fc!?\tx3yz.\nq")).toDF("src", "text")
    val r = op(df).head()
    assert(r.getLong(1) == 19, s"total ${r.getLong(1)}")
    assert(math.abs(r.getDouble(2) - 8.0 / 19) < 1e-6)   // alpha
    assert(math.abs(r.getDouble(3) - 3.0 / 19) < 1e-6)   // digits
    assert(math.abs(r.getDouble(4) - 3.0 / 19) < 1e-6)   // whitespace
    assert(math.abs(r.getDouble(5) - 2.0 / 19) < 1e-6)   // non-ascii
    assert(math.abs(r.getDouble(6) - 3.0 / 19) < 1e-6)   // other
    // fractions sum to 1 over each source
    val tot = (2 to 6).map(r.getDouble).sum
    assert(math.abs(tot - 1.0) < 1e-5)
    // zero-char source: NULL fractions
    val z = op(Seq(("z", "")).toDF("src", "text")).head()
    assert(z.getLong(1) == 0 && z.isNullAt(2))
  }

  test("rake: degree/frequency favors long-phrase members; exact scaled scores") {
    import spark.implicits._
    val op = new graft.operators.text.RakeKeywords("text", "id", topN = 3)
    val df = Seq((7L, "red apple pie. apple pie crust of red wine")).toDF("id", "text")
    // phrases: "red apple pie" / "apple pie crust" / "red wine"
    // red: deg 5 freq 2 -> 2.5; apple,pie: deg 6 freq 2 -> 3; crust: 3/1; wine: 2/1
    val out = op(df).collect().map(r => r.getInt(1) -> (r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      1 -> (("apple pie crust", 9000000L)),
      2 -> (("red apple pie", 8500000L)),
      3 -> (("red wine", 4500000L))))
    // stopword-only / empty docs yield no phrases, not errors
    val empty = op(Seq((1L, "the of and"), (2L, "")).toDF("id", "text"))
    assert(empty.count() == 0L)
  }

  test("readability: empty/whitespace docs yield NULL metrics, not division errors") {
    import spark.implicits._
    val op = new graft.operators.text.Readability("text", "src")
    val rep = op(Seq(("a", ""), ("a", "   ")).toDF("src", "text")).collect()
    assert(rep.length == 1 && rep(0).getLong(1) == 2 && rep(0).isNullAt(4))
  }
}
