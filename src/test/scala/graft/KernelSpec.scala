package graft

import graft.functions.{HashFunctions, TextFunctions}
import graft.plans.kernels
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

/** The fused kernel expressions must be bit-identical to the declarative
  * Catalyst forms they replace (that's the whole contract that lets the
  * DuckDB oracles keep passing after the swap). Checked two ways: direct
  * expression eval with ScalaCheck generators, and whole-column parity on
  * the fixture documents table.
  */
class KernelSpec extends ScopedSuite {
  import TestSpark._

  /** Minimal ScalaCheck bridge (scalatestplus isn't in the offline cache). */
  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  private def evalLongArray(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Long] = {
    val r = e.eval(null)
    if (r == null) null
    else r.asInstanceOf[ArrayData].toLongArray().toSeq
  }

  // ---- direct eval properties (no Spark jobs) ----

  test("tokenizeJvm: no empty tokens, no surrounding whitespace, lowercase result") {
    val gen = Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" "), Gen.const("\t"),
      Gen.const("\n"), Gen.const("MiXeD"))).map(_.mkString)
    check(Prop.forAll(gen) { s =>
      val toks = kernels.tokenizeJvm(UTF8String.fromString(s))
      toks.forall(t => t.nonEmpty && t == t.toLowerCase && t.trim == t)
    })
  }

  test("ShingleHashes equals hash(shingle strings) computed by hand") {
    val text = "  The quick\tbrown Fox  jumps over\nthe lazy dog "
    val toks = "the quick brown fox jumps over the lazy dog".split(' ')
    val expected = toks.sliding(3).map(_.mkString(" "))
      .map(s => kernels.portableHashJvm(UTF8String.fromString(s))).toSeq.distinct
    val got = evalLongArray(kernels.ShingleHashes(Literal(UTF8String.fromString(text), StringType), 3))
    assert(got == expected)
  }

  test("ShingleHashes: fewer than w tokens yields an empty array, not null") {
    val got = evalLongArray(kernels.ShingleHashes(Literal(UTF8String.fromString("one two"), StringType), 3))
    assert(got == Seq.empty)
  }

  test("NearestCentroids: random vectors match the (l2sq, index) argsort; element 0 is NearestCentroid") {
    val dims = 5
    val genVec = Gen.listOfN(dims, Gen.chooseNum(-4.0f, 4.0f))
    val genCents = Gen.chooseNum(2, 7).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(dims, Gen.chooseNum(-4.0, 4.0))))
    val gen = for {
      v <- genVec; cs <- genCents
      np <- Gen.chooseNum(1, cs.length)
    } yield (v, cs.map(_.toSeq), np)
    def lit(v: List[Float]) = Literal(
      new GenericArrayData(v.map(x => x: Any).toArray), ArrayType(FloatType))
    check(Prop.forAll(gen) { case (v, cs, np) =>
      val got = kernels.NearestCentroids(lit(v), cs, np).eval(null)
        .asInstanceOf[ArrayData].toIntArray().toSeq
      // reference: the same left-to-right double fold, (dist, index) order
      val want = cs.zipWithIndex.map { case (c, i) =>
        (graft.functions.VectorFunctions.l2sq(v.map(_.toDouble), c), i)
      }.sorted.take(np).map(_._2)
      val first = kernels.NearestCentroid(lit(v), cs).eval(null)
        .asInstanceOf[Int]
      got == want && got.head == first
    })
  }

  test("NearestCentroids: NaN coordinates order last with index ties — never a bogus Int.MaxValue cell") {
    def lit(v: List[Float]) = Literal(
      new GenericArrayData(v.map(x => x: Any).toArray), ArrayType(FloatType))
    val cs: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    // all-NaN vector: every distance is NaN → cells [0, .., nprobe-1],
    // exactly the DuckDB twin's row_number over (NaN dist, cidx) ties
    val allNaN = kernels.NearestCentroids(lit(List(Float.NaN, 0.5f)), cs, 2)
      .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
    assert(allNaN == Seq(0, 1), s"all-NaN must probe the first cells, got $allNaN")
    val single = kernels.NearestCentroid(lit(List(Float.NaN, 0.5f)), cs)
      .eval(null).asInstanceOf[Int]
    assert(single == 0 && allNaN.head == single)
    // full probe of an all-NaN vector lists every cell in index order
    val full = kernels.NearestCentroids(lit(List(Float.NaN, 0.5f)), cs, 3)
      .eval(null).asInstanceOf[ArrayData].toIntArray().toSeq
    assert(full == Seq(0, 1, 2))
  }

  test("MinHashFromHashes: signature of a union is the element-wise min of signatures") {
    val genArr = Gen.nonEmptyListOf(Gen.choose(0L, 1L << 59)).map(_.distinct)
    check(Prop.forAll(genArr, genArr) { (a, b) =>
      def sig(xs: Seq[Long]): Seq[Long] = evalLongArray(kernels.MinHashFromHashes(
        Literal.create(xs, ArrayType(LongType, containsNull = false)), 8, true))
      val u = sig((a ++ b).distinct)
      val m = sig(a).zip(sig(b)).map { case (x, y) => math.min(x, y) }
      u == m
    })
  }

  test("MinHashFromHashes on empty input is null (no signature for shingle-less docs)") {
    val r = kernels.MinHashFromHashes(
      Literal.create(Seq.empty[Long], ArrayType(LongType, containsNull = false)), 8, true).eval(null)
    assert(r == null)
  }

  test("ArrayJaccard: identity=1, disjoint=0, symmetric") {
    val t = ArrayType(LongType, containsNull = false)
    def jac(a: Seq[Long], b: Seq[Long]): Any =
      kernels.ArrayJaccard(Literal.create(a, t), Literal.create(b, t)).eval(null)
    assert(jac(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 1.0)
    assert(jac(Seq(1L, 2L), Seq(3L, 4L)) == 0.0)
    val genArr = Gen.nonEmptyListOf(Gen.choose(0L, 64L)).map(_.distinct)
    check(Prop.forAll(genArr, genArr) { (a, b) => jac(a, b) == jac(b, a) })
  }

  test("SimHash of a single token equals that token's hash bit pattern") {
    val tok = UTF8String.fromString("hello")
    val h = kernels.portableHashJvm(tok)
    val got = kernels.SimHash(Literal.create(Seq("hello"),
      ArrayType(StringType, containsNull = false)), 32).eval(null)
    assert(got == (h & 0xFFFFFFFFL))
  }

  test("ArrayCosine: cos(v,v)=1 for nonzero v, zero vector yields null") {
    val t = ArrayType(DoubleType, containsNull = false)
    def cos(a: Seq[Double], b: Seq[Double]): Any =
      kernels.ArrayCosine(Literal.create(a, t), Literal.create(b, t)).eval(null)
    val c = cos(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)).asInstanceOf[Double]
    assert(math.abs(c - 1.0) < 1e-12)
    assert(cos(Seq(0.0, 0.0), Seq(1.0, 2.0)) == null)
  }

  // ---- whole-column parity against the declarative Catalyst forms ----

  private lazy val docs = table("documents").select(col("doc_id"), col("text"))

  /** The declarative 60-bit portable hash chain (the expression the
    * oracle SQL mirrors) — the non-kernel reference for hashed pins.
    */
  private def declaredHash(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")

  test("fused ShingleHashes set-equals the declarative tokensOf→shingles→hash chain") {
    val declarative = array_sort(array_distinct(transform(
      TextFunctions.shingles(TextFunctions.tokensOf(col("text")), 3), declaredHash(_))))
    val fused = array_sort(kernels.shingle_hashes(col("text"), 3))
    val diff = docs.select(declarative.as("a"), fused.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("fused MinHashFromHashes equals the declarative per-seed array_min chain") {
    val hashes = transform(
      array_distinct(TextFunctions.shingles(TextFunctions.tokensOf(col("text")), 3)),
      declaredHash(_))
    val declarative = array((0 until 16).map(j =>
      array_min(transform(hashes, x => HashFunctions.mixed(x, j)))): _*)
    val fused = kernels.minhash_from_hashes(kernels.shingle_hashes(col("text"), 3), 16, portable = true)
    val compared = docs.select(declarative.as("a"), fused.as("b"))
      .filter(size(col("b")) > 0)
    assert(compared.count() > 0)
    assert(compared.filter(col("a") =!= col("b")).count() == 0)
  }

  test("tokenizeJvm matches the Catalyst tokensOf column on every fixture text") {
    val rows = docs.select(col("text"), TextFunctions.tokensOf(col("text")).as("toks")).collect()
    rows.foreach { r =>
      val jvm = kernels.tokenizeJvm(UTF8String.fromString(
        if (r.isNullAt(0)) "" else r.getString(0))).toSeq
      val catalyst = r.getSeq[String](1)
      assert(jvm == catalyst, s"text=${r.get(0)}")
    }
  }

  test("portableHashJvm matches the portableHash64 Catalyst column") {
    val rows = docs.limit(200)
      .select(col("text"), HashFunctions.portableHash64(col("text")).as("h"))
      .filter(col("text").isNotNull).collect()
    rows.foreach { r =>
      assert(kernels.portableHashJvm(UTF8String.fromString(r.getString(0))) == r.getLong(1))
    }
  }

  test("portable_hash64 kernel == the declarative conv(substring(md5)) chain") {
    // r19: HashFunctions.portableHash64 routes through the PortableHash64
    // kernel; this pin keeps the DuckDB-twin contract honest by checking
    // the kernel against the ORIGINAL declarative chain (the exact
    // expression the oracle SQL mirrors), incl. a non-string input whose
    // cast must match and NULLs.
    import spark.implicits._
    val declared = declaredHash(col("v"))
    val df = docs.limit(200).select(col("text").as("v"))
      .unionByName(spark.range(50).select(col("id").cast("string").as("v")))
      .unionByName(Seq[Option[String]](None, Some(""), Some(" a\tB "))
        .toDF("v"))
    val rows = df.select(HashFunctions.portableHash64(col("v")).as("k"),
      declared.as("d")).collect()
    assert(rows.length > 0)
    rows.foreach(r => assert(r.get(0) == r.get(1)))
  }

  test("token_bigrams kernel == paired token_hashes + mixPair declarative form") {
    import spark.implicits._
    // the EXACT pre-r19 BigramLm.occurrences chain: staged hash array,
    // interpreted pair transform, mixed(h1,0)+mixed(h2,1) bigram key
    val hts = transform(TextFunctions.tokensOf(col("text")), declaredHash(_))
    val declaredPairs = when(size(col("_hts")) < 2,
      array().cast("array<struct<_h1:bigint,_h2:bigint>>"))
      .otherwise(transform(sequence(lit(0), size(col("_hts")) - 2),
        i => struct(element_at(col("_hts"), i + 1).as("_h1"),
          element_at(col("_hts"), i + 2).as("_h2"))))
    val declared = transform(col("_dp"), p => struct(
      p.getField("_h1").as("_h1"), p.getField("_h2").as("_h2"),
      (HashFunctions.mixed(p.getField("_h1"), 0) +
        HashFunctions.mixed(p.getField("_h2"), 1)).as("_hb")))
    val rows = docs.limit(200).select(col("text"))
      .unionByName(Seq[Option[String]](None, Some(""), Some("solo"),
        Some("a b"), Some("One two TWO one  two"), Some(" tab\tsep ")).toDF("text"))
      .select(col("text"), hts.as("_hts"))
      .select(kernels.token_bigrams(col("text")).as("k"), declaredPairs.as("_dp"))
      .select(col("k"), declared.as("d"))
      .filter(not(col("k") <=> col("d")))
      .count()
    assert(rows == 0)
  }

  test("chargram_hashes kernel == distinct transform(sequence→substring→hash) (both families)") {
    import spark.implicits._
    val q = 3
    val sample = docs.limit(200).select(col("text").as("v"))
      .unionByName(Seq[Option[String]](None, Some(""), Some("ab"), Some("abc"),
        Some("héllo wörld ♥ab¢ñ"), Some("aaaaaa"), Some("Customer#000000042")).toDF("v"))
    for (portable <- Seq(true, false)) {
      val hash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (portable) HashFunctions.portableHash64 else (c => xxhash64(c))
      // the EXACT pre-r19 FuzzyJoin.grams chain (guarded to len >= q the
      // way the operator's where() did), deduped order-insensitively
      val declared = array_sort(array_distinct(transform(expr(
        s"transform(sequence(1, length(v) - ${q - 1}), i -> substring(v, i, $q))"),
        g => hash(g))))
      val bad = sample
        .filter(length(col("v")) >= q)
        .select(array_sort(kernels.chargram_hashes(col("v"), q, portable)).as("k"),
          declared.as("d"))
        .filter(not(col("k") <=> col("d"))).count()
      assert(bad == 0, s"portable=$portable")
      // short/NULL strings: empty array, never null
      val shorts = sample.filter(coalesce(length(col("v")), lit(0)) < q)
        .select(kernels.chargram_hashes(col("v"), q, portable).as("k"))
        .collect()
      shorts.foreach(r => assert(r.getSeq[Long](0).isEmpty))
    }
  }

  test("wordlist_hits kernel == size(filter(toks, array_contains)) declarative form") {
    import spark.implicits._
    val words = Seq("the", "dup", "skew", "slow")
    val lst = typedLit(words)
    val toks = TextFunctions.tokensOf(col("text"))
    val declared = size(filter(toks, t => array_contains(lst, t))).cast("long")
    val bad = docs.limit(200).select(col("text"))
      .unionByName(Seq[Option[String]](None, Some(""), Some("the THE dup x dup"),
        Some("nohits at all")).toDF("text"))
      .select(kernels.wordlist_hits(toks, words).as("k"), declared.as("d"))
      .filter(not(col("k") <=> col("d"))).count()
    assert(bad == 0)
    // arbitrary token columns may carry null slots (hitsExpr takes any
    // Column): a null element is a NON-hit, same as the declarative
    // filter dropping the null predicate (ADVICE r19 guard)
    val withNulls = Seq(Seq[String]("the", null, "dup"), Seq[String](null))
      .toDF("toks")
    val declared2 = size(filter(col("toks"),
      t => array_contains(lst, t))).cast("long")
    val bad2 = withNulls
      .select(kernels.wordlist_hits(col("toks"), words).as("k"), declared2.as("d"))
      .filter(not(col("k") <=> col("d"))).count()
    assert(bad2 == 0)
  }

  test("wordlist_keep kernel == the declarative threshold predicate") {
    import spark.implicits._
    val words = Seq("the", "dup", "skew", "slow")
    val (frac, cap) = (0.12, 2L)
    val toks = TextFunctions.tokensOf(col("text"))
    val hits = kernels.wordlist_hits(toks, words)
    val n = size(toks).cast("long")
    val declared = (n === 0L) ||
      (hits <= cap && hits.cast("double") <= lit(frac) * n.cast("double"))
    val bad = docs.limit(200).select(col("text"))
      .unionByName(Seq[Option[String]](None, Some(""), Some("dup dup dup"),
        Some("the x y z q w e r t u i o p"), Some("clean words only")).toDF("text"))
      .select(kernels.wordlist_keep(col("text"), words, frac, cap).as("k"),
        declared.as("d"))
      .filter(not(col("k") <=> col("d"))).count()
    assert(bad == 0)
  }

  test("kernel codegen COMPILES with fallback disabled — nullable and non-nullable children") {
    // spark.sql.codegen.fallback=true (the default) silently demotes a
    // failed compile to interpreted execution — this pin is what keeps
    // the ref-codegen traits honest (the non-nullable branch once
    // emitted a write to an undeclared isNull variable)
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = table("documents")
      // deflate_keep coalesces text to '' => NON-nullable child
      assert(docs.select(kernels.deflate_keep(col("text"), 0.05, 0.999).as("k"))
        .filter(col("k")).count() > 0)
      // repetition battery struct over the coalesced (non-nullable) child
      assert(docs.select(kernels.repetition_signals(col("text")).as("r"))
        .select(col("r.dup_line_frac")).count() > 0)
      // nullable children across return types: array, double, long
      assert(docs.select(kernels.shingle_hashes(col("text"), 3).as("h"))
        .select(org.apache.spark.sql.functions.size(col("h"))).count() > 0)
      assert(docs.select(graft.operators.text.TextAnalysis.qualityScore(
        col("text"), TextFunctions.tokensOf(col("text")))).count() > 0)
      val emb = table("embeddings")
      assert(emb.select(kernels.array_cosine(col("embedding"), col("embedding"))).count() > 0)
      assert(emb.select(kernels.pq_encode_packed(col("embedding"),
        new graft.operators.vector.ProductQuantizer().codebook
          .map(_.map(_.toSeq).toSeq).toSeq)).count() > 0)
      // scaled viterbi count over a coalesced (non-nullable) child
      assert(docs.select(kernels.unigram_scaled_token_count(
        org.apache.spark.sql.functions.coalesce(col("text"),
          org.apache.spark.sql.functions.lit("")),
        Seq("a" -> -5L, "e" -> -5L, "th" -> -6L), 4).as("v"))
        .filter(col("v") >= 0L).count() > 0)
      // the four web-text kernels, each read by a filter so column
      // pruning cannot drop it: pii_signals over the nullable text, the
      // others over their coalesced (non-nullable) children
      assert(docs.filter(kernels.pii_signals(col("text"),
        graft.operators.text.PiiRedaction.patterns).getField("redacted").isNotNull)
        .count() > 0)
      assert(docs.filter(kernels.gopher_signals(col("text"),
        graft.operators.text.GopherQuality.StopWords, 10L, 100000L, 2)
        .getField("word_count") > 0L).count() > 0)
      assert(docs.filter(kernels.c4_signals(col("text"), 5, 3)
        .getField("lines_total") > 0L).count() > 0)
      assert(docs.filter(kernels.repetition_keep(col("text"), Seq.fill(7)(1.0)))
        .count() > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("repetition battery counts code points and breaks ties in code-point order") {
    // the DuckDB twin's len() counts code points and its `g ASC` compares
    // UTF-8 bytes; UTF-16 units disagree on surrogate pairs
    def signals(text: String): Seq[Double] = {
      val r = kernels.RepetitionSignals(Literal(UTF8String.fromString(text), StringType))
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (0 until 7).map(r.getDouble)
    }
    // "😀😀\n😀😀\nab": lines of 2, 2 and 2 code points, one duplicate;
    // top 2-gram "😀😀 ab" (5 code points) over the normalized 8
    assert(signals("\uD83D\uDE00\uD83D\uDE00\n\uD83D\uDE00\uD83D\uDE00\nab") ==
      Seq(1.0 / 3, 2.0 / 6, 0.0, 0.0, 5.0 * 1 / 8, 8.0 * 1 / 8, 0.0))
    // "x 😀 y" twice: top 2-gram (3) x2, 3-gram (5) x2, and the 4-gram
    // tie goes to "x 😀 y q" (7), all over 13
    assert(signals("x \uD83D\uDE00 y x \uD83D\uDE00 y q") ==
      Seq(0.0, 0.0, 0.0, 0.0, 3.0 * 2 / 13, 5.0 * 2 / 13, 7.0 * 1 / 13))
    // all 2-grams tie: U+FF01 sorts before U+1F600 by code point (not by
    // UTF-16 unit), so "a ！！" (4) wins over "a 😀" (3)
    assert(signals("a \uD83D\uDE00 a \uFF01\uFF01") ==
      Seq(0.0, 0.0, 0.0, 0.0, 4.0 * 1 / 8, 5.0 * 1 / 8, 8.0 * 1 / 8))
  }

  test("PqEncodePacked matches a by-hand argmin on random vectors (direct eval)") {
    val pq = new graft.operators.vector.ProductQuantizer()
    val gen = Gen.listOfN(64, Gen.chooseNum(-1.0, 1.0))
    check(Prop.forAll(gen) { vec =>
      val arr = new GenericArrayData(vec.toArray)
      val got = kernels.PqEncodePacked(
        Literal.create(arr, ArrayType(DoubleType)), pq.codebook.map(_.map(_.toSeq).toSeq).toSeq)
        .eval(null).asInstanceOf[Long]
      // by-hand: per subspace, argmin of the same left-to-right fold
      var expected = 0L
      var radix = 1L
      for (m <- 0 until 8) {
        val best = (0 until 16).minBy { k =>
          var d = 0.0
          for (i <- 0 until 8) { val x = vec(m * 8 + i) - pq.codebook(m)(k)(i); d += x * x }
          (d, k)
        }
        expected += best * radix; radix *= 16
      }
      got == expected
    })
  }

  test("PqEncodePacked kernel is bit-identical to the declarative argmin/pack tree") {
    val pq = new graft.operators.vector.ProductQuantizer()
    val emb = table("embeddings").select(col("vec_id"), col("embedding"))
    def codes(c: org.apache.spark.sql.Column) =
      emb.select(col("vec_id"), c).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val kernel = codes(pq.packedCode(col("embedding")))
    // the declarative tree outgrows one whole-stage method (the JVM's
    // 64 KB limit); outside whole-stage codegen Spark compiles each
    // large subexpression as its own method
    val prev = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val declarative =
      try codes(pq.packedCodeDeclarative(col("embedding")))
      finally prev.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
    assert(kernel.size == emb.count())
    val diff = kernel.filter { case (id, k) => declarative.get(id) != Some(k) }
    assert(declarative.size == kernel.size && diff.isEmpty,
      s"${diff.size} rows differ, first ${diff.headOption}")
    // centroid-exact vector encodes to exactly those codes through the kernel
    val ks = Seq(3, 0, 15, 7, 1, 9, 12, 5)
    val vec = (0 until 8).flatMap(m => pq.codebook(m)(ks(m)).map(_.toFloat))
    val df = spark.createDataFrame(Seq(Tuple1(vec))).toDF("embedding")
    val packed = df.select(pq.packedCode(col("embedding"))).head().getLong(0)
    val expected = ks.zipWithIndex.map { case (k, m) => k * math.pow(16, m).toLong }.sum
    assert(packed == expected)
  }

  test("StopwordScores kernel matches the declarative per-language filter form") {
    import graft.operators.text.TextAnalysis
    val langs = TextAnalysis.languageProfiles.keys.toSeq.sorted
    val toks = TextFunctions.tokensOf(col("text"))
    val kernel = TextAnalysis.allLanguageScores(toks)
    val diff = docs.select(
        array(langs.map(l => TextAnalysis.languageScore(toks, l)): _*).as("a"),
        kernel.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("PiiSignals matches the declarative count/redact columns, fixture + crafted spans") {
    import graft.operators.text.PiiRedaction
    // crafted rows cover the divergence-prone shapes: ipv4 inside an
    // email domain (counted on original, redacted as email), a phone
    // whose span overlaps a later email start (chained order keeps the
    // email), adjacency after replacement, and null text
    val crafted = Seq(
      "reach me at bob.smith+tag@mail.example.org or 555-867-5309 x12",
      "host a@1.2.3.4.com and raw 10.0.0.255 plus 999.1.1.1",
      "123 456 7890@x.yy overlap case",
      "a@b.cc1.2.3.4 adjacency",
      "plain text, no pii at all.",
      null)
    val craftedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(crafted.zipWithIndex.map {
        case (t, i) => org.apache.spark.sql.Row(i.toLong, t) }),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
    for (df <- Seq(docs, craftedDf)) {
      val declarative = struct(
        (PiiRedaction.patterns.map { case (kind, _, _) =>
          PiiRedaction.countOf(col("text"), kind).as(s"${kind}_count")
        } :+ PiiRedaction.redact(col("text")).as("redacted")): _*)
      val fused = struct(
        (PiiRedaction.patterns.map { case (kind, _, _) =>
          coalesce(kernels.pii_signals(col("text"), PiiRedaction.patterns)
            .getField(s"${kind}_count"), lit(0L)).as(s"${kind}_count")
        } :+ kernels.pii_signals(col("text"), PiiRedaction.patterns)
          .getField("redacted").as("redacted")): _*)
      val diff = df.select(declarative.as("a"), fused.as("b"))
        .filter(not(col("a") <=> col("b"))).count()
      assert(diff == 0)
    }
  }

  test("ArrayCosine column matches the declarative dot/norm form") {
    val emb = table("embeddings")
    val declarative = graft.functions.VectorFunctions.dot(col("embedding"), col("embedding")) /
      (graft.functions.VectorFunctions.norm2(col("embedding")) *
        graft.functions.VectorFunctions.norm2(col("embedding")))
    val diff = emb.select(
        kernels.array_cosine(col("embedding"), col("embedding")).as("a"),
        declarative.as("b"))
      .filter(abs(col("a") - col("b")) > 1e-12).count()
    assert(diff == 0)
  }

  test("ShingleHashesPositional equals the declarative shingles→hashByName chain (both families)") {
    for (family <- Seq("portable", "xxhash64")) {
      val declarative = transform(
        TextFunctions.shingles(TextFunctions.tokensOf(col("text")), 5),
        g => HashFunctions.hashByName(family)(g))
      val fused = kernels.shingle_hashes_positional(col("text"), 5, family)
      val diff = docs.select(declarative.as("a"), fused.as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(diff == 0, s"family=$family")
    }
  }

  test("ShingleHashesPositional keeps within-document duplicate grams in position order") {
    val text = "a b a b a b" // 3-gram "a b a" at 0 and 2, "b a b" at 1 and 3
    val got = evalLongArray(kernels.ShingleHashesPositional(
      Literal(UTF8String.fromString(text), StringType), 3, "portable"))
    assert(got.length == 4)
    assert(got(0) == got(2) && got(1) == got(3) && got(0) != got(1))
  }

  test("CoverageMask equals the declarative filter/exists HOF mask") {
    // duplicated 8-gram tails on doc_id%4 give realistic non-empty masks
    val toks = TextFunctions.tokensOf(col("text"))
    val dups = when(col("doc_id") % 4 === 0,
        array(lit(0), lit(3), lit(11)))
      .when(col("doc_id") % 7 === 0, array().cast("array<int>"))
      .otherwise(array(lit(2)))
    val w = 8
    val declarative = filter(toks, (t, j) =>
      !exists(dups, i => i <= j && j < i + w))
    val diff = docs
      .select(declarative.as("a"), kernels.coverage_mask(toks, dups, w).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("GopherSignals kernel is bit-identical to the declarative battery") {
    import graft.operators.text.{GopherQuality, TextAnalysis}
    import spark.implicits._
    // fixture docs plus adversarial rows: null, empty, unicode bullets,
    // ellipsis both forms, numeric floods, overlong hash runs, stopword-free
    val edge = Seq(
      null.asInstanceOf[String], "", "   ", "tiny doc",
      "• one\n- two\n* three\n‣ four\n▪ five\nplain line with the stop and that",
      "ends with unicode ellipsis…\nends with dots...\nno ending here",
      "### #### ##### have the of and that be to with words",
      "11 22 33 44 55 66 the of",
      "a a a a a a a a a a",
      "The data pipeline runs well and we have that covered with care today.")
      .zipWithIndex.map { case (t, i) => (i.toLong + 1000000L, t) }
    val docs = table("documents").select(col("doc_id"), col("text"))
      .unionByName(edge.toDF("doc_id", "text"))
    val t = col("text")
    val toks = TextFunctions.tokensOf(t)
    val (minW, maxW, minS) = (10L, 100000L, 2)
    val k = kernels.gopher_signals(t, GopherQuality.StopWords, minW, maxW, minS)
    val diff = docs.select(
      struct(
        GopherQuality.wordCount(toks).as("word_count"),
        TextAnalysis.meanTokenLength(toks).as("mean_word_len"),
        GopherQuality.symbolRatio(t, toks).as("symbol_ratio"),
        GopherQuality.bulletLineFrac(t).as("bullet_line_frac"),
        GopherQuality.ellipsisLineFrac(t).as("ellipsis_line_frac"),
        GopherQuality.alphaWordFrac(toks).as("alpha_word_frac"),
        GopherQuality.stopwordHits(toks).as("stopword_hits"),
        GopherQuality.keep(t, toks, minW, maxW, minS).as("keep")).as("a"),
      k.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0, diff.collect().take(3).mkString("\n"))
  }

  test("C4Signals kernel is bit-identical to the declarative clean columns") {
    import graft.operators.text.C4Clean
    import spark.implicits._
    val edge = Seq(
      null.asInstanceOf[String], "", "no terminal punctuation line",
      "Short ok.\nenable javascript to view this content now please.",
      "Lorem ipsum dolor sit amet obviously removes this whole page today.",
      "Contains a { brace but three good sentences follow here today. " +
        "Another good one lands right here. And a third one closes it out.",
      "One good sentence with enough words to pass easily.\n\n\n" +
        "  trailing spaces after the mark.   \nshort.",
      "Ends with a quote mark with plenty of words here\"")
      .zipWithIndex.map { case (t, i) => (i.toLong + 2000000L, t) }
    val docs = table("documents").select(col("doc_id"), col("text"))
      .unionByName(edge.toDF("doc_id", "text"))
    val t = col("text")
    val kept = C4Clean.keptLines(t, 5)
    val clean = array_join(kept, "\n")
    val k = kernels.c4_signals(t, 5, 3)
    val diff = docs.select(
      struct(
        clean.as("text_clean"),
        size(kept).cast("long").as("lines_kept"),
        size(split(coalesce(t, lit("")), "\n", -1)).cast("long").as("lines_total"),
        C4Clean.sentenceCount(clean).as("sentences"),
        C4Clean.docKeep(t, C4Clean.sentenceCount(clean), 3).as("keep")).as("a"),
      k.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0, diff.collect().take(3).mkString("\n"))
  }

  test("battery kernels match the declarative forms on seeded random text") {
    import graft.operators.text.{C4Clean, GopherQuality, TextAnalysis}
    import spark.implicits._
    // seeded generator biased toward the signals' trigger characters:
    // bullets, ellipses, hashes, braces, newlines, digits, unicode,
    // terminal marks, stopwords — 400 rows of adversarial soup
    val rnd = new scala.util.Random(20260813L)
    val atoms = Seq("the", "of", "and", "that", "with", "have", "be", "to",
      "word", "Data", "Lorem", "ipsum", "javascript", "läßt", "日本語",
      "•", "-", "*", "‣", "▪", "...", "…", "##", "####", "{", "}",
      "11", "2048", "x9", ".", "!", "?", "\"", "\n", "\r", "\t", "  ", "")
    def doc(): String =
      (0 until rnd.nextInt(60)).map(_ => atoms(rnd.nextInt(atoms.size)))
        .mkString(rnd.nextInt(4) match {
          case 0 => "" case 1 => " " case _ => if (rnd.nextBoolean()) " " else "\n"
        })
    val docs = (1 to 400).map(i => (i.toLong, doc())).toDF("doc_id", "text")

    val t = col("text")
    val toks = TextFunctions.tokensOf(t)
    val g = kernels.gopher_signals(t, GopherQuality.StopWords, 5L, 1000L, 2)
    val gDiff = docs.select(
      struct(
        GopherQuality.wordCount(toks).as("word_count"),
        TextAnalysis.meanTokenLength(toks).as("mean_word_len"),
        GopherQuality.symbolRatio(t, toks).as("symbol_ratio"),
        GopherQuality.bulletLineFrac(t).as("bullet_line_frac"),
        GopherQuality.ellipsisLineFrac(t).as("ellipsis_line_frac"),
        GopherQuality.alphaWordFrac(toks).as("alpha_word_frac"),
        GopherQuality.stopwordHits(toks).as("stopword_hits"),
        GopherQuality.keep(t, toks, 5L, 1000L, 2).as("keep")).as("a"),
      g.as("b")).filter(col("a") =!= col("b"))
    assert(gDiff.count() == 0, gDiff.collect().take(3).mkString("\n"))

    val kept = C4Clean.keptLines(t, 3)
    val clean = array_join(kept, "\n")
    val cDiff = docs.select(
      struct(
        clean.as("text_clean"),
        size(kept).cast("long").as("lines_kept"),
        size(split(coalesce(t, lit("")), "\n", -1)).cast("long").as("lines_total"),
        C4Clean.sentenceCount(clean).as("sentences"),
        C4Clean.docKeep(t, C4Clean.sentenceCount(clean), 2).as("keep")).as("a"),
      kernels.c4_signals(t, 3, 2).as("b")).filter(col("a") =!= col("b"))
    assert(cDiff.count() == 0, cDiff.collect().take(3).mkString("\n"))
  }

  test("CoverageMask: overlapping and out-of-range spans, empty dups, empty toks") {
    def mask(toks: Seq[String], dups: Seq[Int], w: Int): Seq[String] = {
      val e = kernels.CoverageMask(
        Literal(new GenericArrayData(toks.map(UTF8String.fromString).toArray),
          ArrayType(StringType)),
        Literal(new GenericArrayData(dups.toArray), ArrayType(IntegerType)), w)
      e.eval(null).asInstanceOf[ArrayData].toObjectArray(StringType)
        .map(_.asInstanceOf[UTF8String].toString).toSeq
    }
    val toks = (0 until 10).map(i => s"t$i")
    assert(mask(toks, Seq(), 3) == toks)
    assert(mask(toks, Seq(0), 3) == toks.drop(3))
    assert(mask(toks, Seq(0, 1), 3) == toks.drop(4)) // overlap extends horizon
    assert(mask(toks, Seq(8), 3) == toks.take(8))    // span past the end clips
    assert(mask(Seq(), Seq(0, 5), 3) == Seq())
    assert(mask(toks, Seq(0, 7), 2) == toks.slice(2, 7) ++ Seq(toks(9)))
  }
}
