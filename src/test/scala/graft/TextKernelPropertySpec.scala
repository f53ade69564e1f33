package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators.text.{C4Clean, GopherQuality, PiiRedaction, TextAnalysis, UrlFilter}
import graft.plans.kernels
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

/** The five web-text kernels and the shared tokenizer against their
  * declarative twins on generated adversarial text. Every batch runs on
  * both evaluation paths: a DataFrame over an RDD (so the projection is
  * whole-stage generated; `spark.sql.codegen.fallback=false` makes a
  * failed compile throw) and direct `eval` of the kernel expression.
  */
class TextKernelPropertySpec extends ScopedSuite {
  import TestSpark._

  // ---- the adversarial alphabet ----
  private val atoms: Seq[String] = Seq(
    // mixed-case ASCII and digits, and PII-shaped fragments
    "a", "Z", "Word", "mIxEd", "0", "42", "7", "1.2.3.4", "10.0.0.255",
    "999.1.1.1", "555-867-5309", "123 456 7890", "123.456.7890",
    "user.name+tag@mail.example.org", "x@y.zz", "a@b.cc1.2.3.4", "@",
    // punctuation, symbols and bullets
    ".", "@", "-", "_", "%", "+", "#", "\"", "!", "?", "{", "}", "...",
    "....", "…", "•", "‣", "▪", "*",
    // whitespace, line terminators, no-break space and control chars
    " ", "  ", "\t", "\u000B", "\f", "\r", "\n", "\n\n", "\u0085",
    "\u2028", "\u2029", "\u00A0", "\u0001", "\u001F", "\u007F",
    // case mapping: dotted I, Kelvin sign, sigmas, combining marks,
    // surrogate pairs, and a BMP char above the surrogates
    "\u0130", "\u212A", "Σ", "σ", "ς", "ΑΣ",
    "\u0301", "\u0345", "\uD83D\uDE00", "\uD835\uDD38", "\uFF01",
    // mixed-case filter phrases and stopwords
    "JavaScript", "jAvAsCrIpT", "Lorem Ipsum", "LOREM IPSUM", "lorem  ipsum",
    "the", "of", "and", "that", "have", "with", "be", "to")

  private val genLongRun: Gen[String] = for {
    k <- Gen.choose(20, 300)
    unit <- Gen.oneOf("a.", "b_%", "x+-", "Z9")
    tail <- Gen.oneOf("", "@", "@host.example.com", "@x", " ")
  } yield unit * k + tail

  private val genText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(""),
    2 -> genLongRun,
    20 -> Gen.choose(0, 50).flatMap(k =>
      Gen.listOfN(k, Gen.zip(Gen.oneOf(atoms), Gen.oneOf("", "", " ", " ", "\n")))
        .map(_.map { case (a, sep) => a + sep }.mkString)))

  private val batchSize = 80

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(6)
        .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), p)
    assert(res.passed, res.status match {
      case org.scalacheck.Test.Failed(_, labels) => labels.mkString("\n")
      case other => other.toString
    })
  }

  private def show(s: String): String =
    if (s == null) "null"
    else s.flatMap(c => if (c >= 0x20 && c < 0x7F) c.toString else f"\\u${c.toInt}%04X")

  private def textLit(t: String): Expression = Literal.create(t, StringType)
  private def coalesced(t: String): Expression = Coalesce(Seq(textLit(t), Literal("")))

  /** Mismatches of `kernel` against `reference` over one batch.
    * `reference`/`kernel` map an `(id, text)` frame to `(id, a)` /
    * `(id, b)`; `direct` evaluates the kernel expression on one text,
    * whose Catalyst value converts through the type of `a`.
    */
  private def mismatches(batch: Seq[String],
      reference: DataFrame => DataFrame, kernel: DataFrame => DataFrame,
      direct: String => Any): Seq[String] = {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          batch.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
        new StructType().add("id", LongType).add("text", StringType))
      val joined = reference(df).join(kernel(df), "id")
      val rows = joined.collect()
      assert(rows.length == batch.length)
      val toScala = CatalystTypeConverters.createToScalaConverter(joined.schema("a").dataType)
      rows.toSeq.flatMap { r =>
        val t = batch(r.getLong(0).toInt)
        val a = r.get(1)
        val viaEval = toScala(direct(t))
        Seq(
          if (a == r.get(2)) None else Some(s"dataframe: ${show(t)}\n  want $a\n  got  ${r.get(2)}"),
          if (a == viaEval) None else Some(s"eval: ${show(t)}\n  want $a\n  got  $viaEval")
        ).flatten
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  private def columns(ref: Column, ker: Column): (DataFrame => DataFrame, DataFrame => DataFrame) =
    (df => df.select(col("id"), ref.as("a")), df => df.select(col("id"), ker.as("b")))

  private def holds(reference: DataFrame => DataFrame, kernel: DataFrame => DataFrame,
      direct: String => Any, gen: Gen[String] = genText): Unit =
    check(Prop.forAllNoShrink(Gen.listOfN(batchSize, gen)) { batch =>
      val bad = mismatches(batch, reference, kernel, direct)
      Prop(bad.isEmpty) :| bad.take(3).mkString("\n")
    })

  test("tokenizeJvm == TextFunctions.tokensOf (direct) and through a codegen'd kernel") {
    val t = coalesce(col("text"), lit(""))
    // per-token portable hashes: the tokenizer's output through
    // ShingleHashesPositional(w = 1) vs the declarative token chain
    val (ref, ker) = columns(
      transform(TextFunctions.shingles(TextFunctions.tokensOf(t), 1),
        g => HashFunctions.hashByName("portable")(g)),
      kernels.shingle_hashes_positional(t, 1, "portable"))
    holds(ref, ker, s => kernels.ShingleHashesPositional(coalesced(s), 1, "portable")
      .eval(null))
    check(Prop.forAllNoShrink(Gen.listOfN(batchSize, genText)) { batch =>
      val want = spark.createDataFrame(
          spark.sparkContext.parallelize(batch.map(Row(_)), 2),
          new StructType().add("text", StringType))
        .select(TextFunctions.tokensOf(col("text"))).collect().map(_.getSeq[String](0))
      val bad = batch.zip(want).filter { case (s, w) =>
        val got = if (s == null) Seq.empty else kernels.tokenizeJvm(UTF8String.fromString(s)).toSeq
        got != w
      }
      Prop(bad.isEmpty) :| bad.take(3).map { case (s, w) => s"${show(s)} want ${w.map(show)}" }
        .mkString("\n")
    })
  }

  test("GopherSignals == the GopherQuality columns") {
    val t = col("text")
    val toks = TextFunctions.tokensOf(t)
    val (minW, maxW, minS) = (3L, 40L, 1)
    val ref = struct(
      GopherQuality.wordCount(toks).as("word_count"),
      TextAnalysis.meanTokenLength(toks).as("mean_word_len"),
      GopherQuality.symbolRatio(t, toks).as("symbol_ratio"),
      GopherQuality.bulletLineFrac(t).as("bullet_line_frac"),
      GopherQuality.ellipsisLineFrac(t).as("ellipsis_line_frac"),
      GopherQuality.alphaWordFrac(toks).as("alpha_word_frac"),
      GopherQuality.stopwordHits(toks).as("stopword_hits"),
      GopherQuality.keep(t, toks, minW, maxW, minS).as("keep"))
    val (r, k) = columns(ref,
      kernels.gopher_signals(t, GopherQuality.StopWords, minW, maxW, minS))
    holds(r, k, s => kernels.GopherSignals(coalesced(s), GopherQuality.StopWords,
      minW, maxW, minS).eval(null))
  }

  test("C4Signals == the C4Clean columns") {
    val t = col("text")
    val kept = C4Clean.keptLines(t, 2)
    val clean = array_join(kept, "\n")
    val ref = struct(
      clean.as("text_clean"),
      size(kept).cast("long").as("lines_kept"),
      size(split(coalesce(t, lit("")), "\n", -1)).cast("long").as("lines_total"),
      C4Clean.sentenceCount(clean).as("sentences"),
      C4Clean.docKeep(t, C4Clean.sentenceCount(clean), 2).as("keep"))
    val (r, k) = columns(ref, kernels.c4_signals(t, 2, 2))
    holds(r, k, s => kernels.C4Signals(coalesced(s), 2, 2).eval(null))
  }

  test("PiiSignals == PiiRedaction.countOf / redact") {
    val t = col("text")
    val ref = struct((PiiRedaction.patterns.map { case (kind, _, _) =>
      PiiRedaction.countOf(t, kind).as(s"${kind}_count")
    } :+ PiiRedaction.redact(t).as("redacted")): _*)
    val pii = kernels.pii_signals(t, PiiRedaction.patterns)
    val ker = struct((PiiRedaction.patterns.map { case (kind, _, _) =>
      coalesce(pii.getField(s"${kind}_count"), lit(0L)).as(s"${kind}_count")
    } :+ pii.getField("redacted").as("redacted")): _*)
    val (r, k) = columns(ref, ker)
    val kinds = PiiRedaction.patterns.length
    // direct eval: null text → null struct; the operator coalesces the
    // counts to 0 and keeps the redaction null
    holds(r, k, s => {
      val v = kernels.PiiSignals(textLit(s), PiiRedaction.patterns).eval(null)
      if (v != null) v
      else org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq.fill(kinds)(0L) :+ null)
    })
  }

  /** The DuckDB repetition twin (`GopherQueries`) as Spark DataFrame
    * algebra: units via split + group counts, top grams via a
    * `count DESC, gram ASC` row_number, lengths in code points.
    */
  private def repetitionReference(df: DataFrame): DataFrame = {
    val aug = df.select(col("id"), coalesce(col("text"), lit("")).as("t"))
    def dupUnits(sep: String, pfx: String): DataFrame =
      aug.select(col("id"), explode(split(col("t"), sep, -1)).as("u"))
        .groupBy("id", "u").agg(count(lit(1)).as("c"))
        .groupBy("id").agg(
          (sum(col("c") - 1).cast("double") / sum(col("c")).cast("double")).as(s"${pfx}uf"),
          when(sum(length(col("u")) * col("c")) === 0, lit(0.0)).otherwise(
            sum(length(col("u")) * (col("c") - 1)).cast("double") /
              sum(length(col("u")) * col("c")).cast("double")).as(s"${pfx}cf"))
    val tk = aug.select(col("id"), TextFunctions.tokensOf(col("t")).as("tk"),
      length(TextFunctions.normalizeText(col("t"))).cast("double").as("d"))
    def top(n: Int): DataFrame =
      tk.select(col("id"), explode(TextFunctions.shingles(col("tk"), n)).as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(col("c").desc, col("g").asc)))
        .where(col("rn") === 1)
        .select(col("id"), (length(col("g")).cast("double") * col("c")).as(s"m$n"))
    val joined = Seq(2, 3, 4).foldLeft(
        aug.select("id").join(dupUnits("\n", "l"), "id")
          .join(dupUnits("\n\n", "p"), "id").join(tk.select("id", "d"), "id")) {
      (acc, n) => acc.join(top(n), Seq("id"), "left")
    }
    def frac(n: Int): Column =
      when(col("d") === 0, lit(0.0)).otherwise(coalesce(col(s"m$n"), lit(0.0)) / col("d"))
    val signals = Seq(col("luf"), col("lcf"), col("puf"), col("pcf"), frac(2), frac(3), frac(4))
    joined.select(col("id"), struct(
      (signals.zip(repetitionNames).map { case (c, n) => c.as(n) } :+
        signals.zip(repetitionMaxes).map { case (c, m) => c <= m }.reduce(_ && _)
          .as("keep")): _*).as("a"))
  }

  private val repetitionNames = Seq("dup_line_frac", "dup_line_char_frac",
    "dup_para_frac", "dup_para_char_frac", "top_2gram_char_frac",
    "top_3gram_char_frac", "top_4gram_char_frac")
  // the filter's default cutoffs, in signal order
  private val repetitionMaxes = Seq(0.30, 0.20, 0.30, 0.20, 0.20, 0.18, 0.16)

  test("RepetitionSignals / RepetitionKeep == the repetition SQL semantics") {
    val t = col("text")
    val sig = kernels.repetition_signals(t)
    val ker: DataFrame => DataFrame = df => df.select(col("id"), struct(
      (repetitionNames.map(n => sig.getField(n).as(n)) :+
        kernels.repetition_keep(t, repetitionMaxes).as("keep")): _*).as("b"))
    holds(repetitionReference, ker, s => {
      val v = kernels.RepetitionSignals(coalesced(s)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        (0 until 7).map(v.getDouble) :+
          kernels.RepetitionKeep(coalesced(s), repetitionMaxes).eval(null))
    })
  }

  // ---- URLs: schemes, userinfo, ports, case mapping, look-alike suffixes ----

  private val genUrl: Gen[String] = {
    val label = Gen.oneOf("a", "www", "blocked", "xblocked", "Blocked", "BLOCKED", "net", "NET",
      "org", "ex\u0130", "EX\u0130", "\u212Aelvin", "kelvin", "\u03A3", "\u0391\u03A3",
      "wikipedia", "WikiPedia", "casino", "", "x-y")
    val host = for {
      n <- Gen.choose(1, 4)
      ls <- Gen.listOfN(n, label)
      dot <- Gen.oneOf("", "", ".")
    } yield ls.mkString(".") + dot
    val url = for {
      scheme <- Gen.oneOf("", "http://", "HTTPS://", "ftp+x.y-z://", "1http://",
        "\u212Ahttp://", "http:/", "h://")
      user <- Gen.oneOf("", "", "user:pass@", "u@")
      h <- host
      port <- Gen.oneOf("", "", ":8080", ":")
      path <- Gen.oneOf("", "/", "?q=1", "#frag", "?#", "/casino-royale/free-money",
        "/Casino", "/freemoney?x=poker", "/CASINO/Poker/free-money-money", "/\u212Aasino",
        "/slot/bet", "/casinocasino-royale", "/money/free/money")
    } yield scheme + user + h + port + path
    Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""), 20 -> url)
  }

  test("UrlDrop == UrlFilter.declarativeKeep, both flags both ways, with and without a lexicon") {
    val blocked = Seq("blocked.net", "exi\u0307.org", "kelvin.org", "\u03B1\u03C2.net", "casino")
    val lexicon = Map("casino" -> 0.9, "casino-royale" -> 0.3, "free" -> 0.2,
      "free-money" -> 0.8, "money" -> 0.1, "poker" -> 0.7)
    // NaN sorts above every weight (array_max / least order); a negative weight
    val odd = Map("slot" -> Double.NaN, "bet" -> -0.5, "money" -> 0.45, "free" -> 0.05)
    val quality = Seq("wikipedia.org", "org")
    Seq((true, false, lexicon), (false, true, odd), (true, true, Map.empty[String, Double]),
        (false, false, lexicon)).foreach { case (subdomains, excludeQuality, words) =>
      val op = new UrlFilter(blockedDomains = blocked, wordWeights = words,
        checkSubdomains = subdomains, excludeQualitySources = excludeQuality,
        qualitySourceDomains = quality, urlCol = "text")
      val (r, k) = columns(op.declarativeKeep(col("text")), op.keep(null))
      // the analyzed keep expression, its url attribute bound per value
      val keepExpr = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        new StructType().add("text", StringType)).select(op.keep(null))
        .queryExecution.analyzed.expressions.head
      assert(keepExpr.exists(_.isInstanceOf[kernels.UrlDrop]))
      holds(r, k, s => keepExpr.transform {
        case _: org.apache.spark.sql.catalyst.expressions.AttributeReference => textLit(s)
      }.eval(null), genUrl)
    }
  }
}
