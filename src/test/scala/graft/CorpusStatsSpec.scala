package graft

import graft.operators.text.{DocumentChunker, DomainStatsFilter, StripAccentsRefiner, TfIdfTopTerms, VocabularyBuilder}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CorpusStatsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = table("documents")

  // ---- vocabulary ----

  test("vocabulary: term_freq >= doc_freq, doc_freq cap respected, sorted") {
    val v = new VocabularyBuilder(minDocFreq = 2, topK = 50).build(docs)
      .as[(String, Long, Long)].collect()
    assert(v.nonEmpty && v.length <= 50)
    v.foreach { case (tok, tf, df) =>
      assert(tf >= df, s"$tok: term_freq $tf < doc_freq $df")
      assert(df >= 2, s"$tok: doc_freq $df below minDocFreq")
    }
    val freqs = v.map(_._2)
    assert(freqs.sameElements(freqs.sortBy(-_)), "not sorted by term_freq desc")
  }

  test("vocabulary: hand-built corpus") {
    val tiny = Seq((1L, "a b a"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val v = new VocabularyBuilder(minDocFreq = 1, topK = 10).build(tiny)
      .as[(String, Long, Long)].collect().toList
    assert(v == List(("a", 3L, 2L), ("b", 1L, 1L), ("c", 1L, 1L)))
  }

  // ---- tf-idf ----

  test("tfidf: rank dense 1..k per doc, scores non-increasing within a doc") {
    val t = new TfIdfTopTerms(topK = 3).topTerms(docs)
      .select("doc_id", "rank", "tfidf").as[(Long, Long, Double)].collect()
    val byDoc = t.groupBy(_._1)
    byDoc.foreach { case (id, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toList == (1L to sorted.length).toList, s"doc $id ranks not dense")
      val scores = sorted.map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, s"doc $id scores increase")
    }
  }

  test("tfidf: a corpus-unique term outranks a ubiquitous one") {
    val tiny = Seq((1L, "common rare"), (2L, "common x"), (3L, "common y")).toDF("doc_id", "text")
    val t = new TfIdfTopTerms(topK = 2).topTerms(tiny)
      .filter(col("doc_id") === 1L).orderBy("rank")
      .select("term").as[String].collect().toList
    assert(t == List("rare", "common"))
  }

  // ---- domain stats filter ----

  test("domain filter: surviving rows' domains all meet count + quality cuts") {
    val f = new DomainStatsFilter(minDocs = 5L, minMeanQuality = 0.0)
    val kept = f(docs)
    val keptDomains = kept.select("source").distinct().as[String].collect().toSet
    val counts = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    keptDomains.foreach(d => assert(counts(d) >= 5L, s"$d kept with only ${counts(d)} docs"))
    // kept + rejected partition the corpus
    assert(kept.count() + f.rejected(docs).count() == docs.count())
  }

  test("domain filter: a thin domain is dropped whole") {
    val tiny = Seq(
      (1L, "solid english text with the and of", "big"),
      (2L, "more english text with the and of", "big"),
      (3L, "lonely", "thin")).toDF("doc_id", "text", "source")
    val f = new DomainStatsFilter(minDocs = 2L, minMeanQuality = 0.0)
    val kept = f(tiny).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
    val rej = f.rejected(tiny).select("doc_id").as[Long].collect().toSet
    assert(rej == Set(3L))
  }

  test("domain filter: no exchange carries document rows keyed by domain") {
    // scale guard: the verdict must arrive via broadcast of the (tiny)
    // passing-domain list — a hashpartitioning(source) exchange over the
    // full corpus would be the skew-prone shape this operator avoids
    val f = new DomainStatsFilter(minDocs = 5L, minMeanQuality = 0.0)
    val plan = planOf(f(docs))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"expected a broadcast semi-join, got:\n$plan")
  }

  // ---- chunking ----

  test("chunks: full coverage, correct windowing, idx dense") {
    val ch = new DocumentChunker(chunkSize = 8, stride = 4, minTokens = 1)
    val one = Seq((1L, (1 to 19).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val rows = ch.chunks(one).orderBy("chunk_idx")
      .select("chunk_idx", "chunk_tokens", "chunk_text")
      .as[(Long, Long, String)].collect().toList
    // 19 tokens, windows at 0,4,8,12,16 → sizes 8,8,8,7,3
    assert(rows.map(r => (r._1, r._2)) == List((0L, 8L), (1L, 8L), (2L, 8L), (3L, 7L), (4L, 3L)))
    assert(rows.head._3 == (1 to 8).map(i => s"t$i").mkString(" "))
    assert(rows.last._3 == (17 to 19).map(i => s"t$i").mkString(" "))
  }

  test("chunks: minTokens drops short trailing windows; empty docs vanish") {
    val ch = new DocumentChunker(chunkSize = 8, stride = 4, minTokens = 4)
    val df = Seq((1L, (1 to 19).map(i => s"t$i").mkString(" ")), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = ch.chunks(df).select("doc_id", "chunk_idx").as[(Long, Long)].collect()
    assert(rows.forall(_._1 == 1L))
    assert(rows.map(_._2).sorted.toList == List(0L, 1L, 2L, 3L)) // the 3-token tail is gone
  }

  test("chunks: disjoint split when stride == chunkSize reconstructs the doc") {
    val ch = new DocumentChunker(chunkSize = 5, stride = 5, minTokens = 1)
    val text = (1 to 23).map(i => s"w$i").mkString(" ")
    val rebuilt = ch.chunks(Seq((1L, text)).toDF("doc_id", "text"))
      .orderBy("chunk_idx").select("chunk_text").as[String].collect().mkString(" ")
    assert(rebuilt == text)
  }

  // ---- strip accents ----

  test("strip_accents: folds marks, keeps non-decomposable letters, recomposes Hangul") {
    val in = Seq(
      (1L, "café Ångström"), (2L, "ø Ø ß ł"), (3L, "한국어 Ελληνικά"),
      (4L, "Việt ḹǖ"), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = new StripAccentsRefiner()(in)
      .select("doc_id", "text_folded").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("cafe Angstrom"))
    assert(out(2L).contains("ø Ø ß ł"))
    assert(out(3L).contains("한국어 Ελληνικα"))
    assert(out(4L).contains("Viet lu"))
    assert(out(5L).isEmpty)
  }

  test("strip_accents: idempotent and equal on composed vs decomposed input") {
    val composed = "café"          // é
    val decomposed = "café"       // e + combining acute
    val df = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")
    val out = new StripAccentsRefiner()(df)
      .select("text_folded").as[String].collect().toSet
    assert(out == Set("cafe"))
  }

  test("unigram viterbi: picks the max-logprob segmentation, longest piece on ties") {
    val u = new graft.operators.text.UnigramLmInduction()
    // "ab" (-1) beats "a"+"b" (-4); "c" forced as a single char
    val lp = Map("ab" -> -1.0, "a" -> -2.0, "b" -> -2.0, "c" -> -5.0)
    assert(u.segment("abc", lp) == Seq("ab", "c"))
    assert(u.segment("ba", lp) == Seq("b", "a"))
    // exact tie between "ab" and "a"+"b": the single longer piece wins
    val tie = Map("ab" -> -4.0, "a" -> -2.0, "b" -> -2.0)
    assert(u.segment("ab", tie) == Seq("ab"))
    assert(u.segment("", lp).isEmpty)
  }

  test("unigram trainer: char coverage, frequent substrings promoted, deterministic") {
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
        (i, "internationalization nation national internal ization " + s"rare$i"))
      .toDF("doc_id", "text")
    val u = new graft.operators.text.UnigramLmInduction(
      "text", seedMaxLen = 6, seedSize = 500, vocabSize = 40, emIters = 2)
    val vocab = u.train(docs)
    val pieces = vocab.map(_._1).toSet
    // every character of the corpus is segmentable
    val chars = "internationalizationrare0123456789".toSet.map((c: Char) => c.toString)
    assert(chars.subsetOf(pieces))
    // the shared stems earn multi-char pieces
    assert(pieces.exists(p => p.length >= 3 && "nation".contains(p)))
    // encode reconstructs the word exactly
    val toks = u.encode("internationalization", vocab)
    assert(toks.mkString == "internationalization")
    assert(toks.size < "internationalization".length) // actually compresses
    // training is invariant to partitioning (exact counts end to end)
    val again = u.train(docs.repartition(7, $"doc_id"))
    assert(vocab == again)
  }

  test("scaled viterbi kernel == declarative packed-DP twin, incl. fallbacks and ties") {
    import spark.implicits._
    val op = new graft.operators.text.UnigramViterbiCount(
      "text", "doc_id", seedMaxLen = 4, topK = 200)
    // vocab engineered for edges: a score TIE ('abcd' as ab+cd or abc+d
    // with equal summed logp — packing must prefer fewer pieces on both
    // paths), an out-of-vocab char ('q'), and full char coverage a-d
    val vocab: Seq[(String, Long)] = Seq(
      "a" -> -5L, "b" -> -5L, "c" -> -5L, "d" -> -5L,
      "ab" -> -6L, "cd" -> -6L, "abc" -> -8L, "abcd" -> -30L)
    val docs = Seq(
      (1L, "abcd ab abcd"),          // tie: ab+cd (-12,2) vs abc+d (-13) vs abcd (-30)
      (2L, "aqa"),                    // 'q' out of vocab -> char fallback (3)
      (3L, "a" * 70),                 // >63 chars -> char fallback (70)
      (4L, "  AB\tCd  "),             // normalization: lowercase + ws collapse
      (5L, null.asInstanceOf[String]),
      (6L, ""),
      (7L, "😀😀 ab")  // astral chars: kernel must count
                                           // CODEPOINTS (2, not 4 UTF-16 units)
    ).toDF("doc_id", "text")
    val both = docs.select($"doc_id",
        graft.plans.kernels.unigram_scaled_token_count(
          coalesce($"text", lit("")), vocab, 4).as("k"),
        op.countDeclarative(coalesce($"text", lit("")), vocab).as("d"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(both.values.forall { case (k, d) => k == d }, both.toString)
    // hand-checked: abcd=2 (ab+cd wins the tie with fewer pieces? no —
    // ab+cd scores -12 < abc+d -13? larger is better: -12 > -13, so
    // ab+cd (2 pieces); 'ab'=1; total doc1 = 2+1+2 = 5
    assert(both(1L)._1 == 5L, both.toString)
    assert(both(2L)._1 == 3L && both(3L)._1 == 70L, both.toString)
    assert(both(4L)._1 == 2L, both.toString) // 'ab' + 'cd'
    assert(both(5L)._1 == 0L && both(6L)._1 == 0L, both.toString)
    // emoji word: out-of-vocab -> codepoint-count fallback 2 (a UTF-16
    // code-unit DP would report 4); 'ab' -> 1
    assert(both(7L)._1 == 3L, both.toString)
    // an exact score tie where piece counts differ: 'aa' via a+a
    // (-10, 2 pieces) vs a vocab 'aa' at -10 (1 piece) -> packing
    // prefers 1 piece on BOTH paths
    val tieVocab = Seq("a" -> -5L, "aa" -> -10L)
    val tie = Seq((1L, "aa")).toDF("doc_id", "text").select(
        graft.plans.kernels.unigram_scaled_token_count($"text", tieVocab, 4).as("k"),
        op.countDeclarative($"text", tieVocab).as("d"))
      .head()
    assert(tie.getLong(0) == 1L && tie.getLong(1) == 1L, tie.toString)
  }

  test("bpe encode expression matches the JVM reference encode word-by-word") {
    import spark.implicits._
    val merges = Seq("t" -> "h", "th" -> "e", "the" -> "</w>", "a" -> "a",
      "e" -> "r", "er" -> "</w>", "aa" -> "aa")
    val trainer = new graft.operators.text.BpeVocabInduction()
    val docs = Seq(
      (1L, "the weather thermals aether"),
      (2L, "aaaa aaa aa a"),          // overlap/run edge cases
      (3L, ""),                        // empty doc -> 0 tokens
      (4L, "  the   the  "))           // whitespace normalization
      .toDF("id", "text")
    val got = docs.select($"id",
      graft.operators.text.BpeEncode.tokenCount($"text", merges).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ref(text: String): Long = {
      val norm = text.trim.toLowerCase.replaceAll("\\s+", " ")
      if (norm.isEmpty) 0L
      else norm.split(" ").map(w => trainer.encode(w, merges).size.toLong).sum
    }
    assert(got(1L) == ref("the weather thermals aether"))
    assert(got(2L) == ref("aaaa aaa aa a"))
    assert(got(3L) == 0L)
    assert(got(4L) == ref("the the"))
    // and the merges actually compress: 'the' is one token + </w> merges
    assert(got(1L) < "the weather thermals aether".count(_ != ' ') + 4)
  }

  test("bpe kernel == declarative replace-chain on the fixture corpus") {
    val merges = Seq("t" -> "h", "th" -> "e", "the" -> "</w>",
      "e" -> "r", "er" -> "</w>", "i" -> "n", "in" -> "</w>")
    val docs = TestSpark.table("documents")
    val mismatch = docs.select(
      graft.operators.text.BpeEncode.tokenCount(
        org.apache.spark.sql.functions.col("text"), merges).as("k"),
      graft.operators.text.BpeEncode.tokenCountDeclarative(
        org.apache.spark.sql.functions.col("text"), merges).as("d"))
      .where(org.apache.spark.sql.functions.col("k") =!=
        org.apache.spark.sql.functions.col("d"))
      .count()
    assert(mismatch == 0)
  }

  test("vocab coverage: K-boundary resolves by (count desc, word asc); exact rates") {
    import graft.operators.text.VocabCoverage
    // counts: aa x3; bb and cc x2 each (tie at the K=2 boundary -> bb wins)
    val docs = Seq(
      ("s1", "aa aa bb cc"),
      ("s2", "aa bb cc dd")).toDF("source", "text")
    val out = new VocabCoverage("text", "source", topK = 2)(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // vocab = {aa, bb}: s1 covers 3/4, s2 covers 2/4
    assert(out("s1") == ((4L, 3L, 0.75)))
    assert(out("s2") == ((4L, 2L, 0.5)))
    // the vocab top-K must plan as distributed TakeOrderedAndProject
    val plan = TestSpark.planOf(new VocabCoverage("text", "source", 2)(docs))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // ---- empirical-Bayes domain quality ----

  test("domain quality shrinkage: small domains ride the prior, big ones keep their evidence") {
    import graft.operators.text.DomainQualityShrunk
    // domain "big": 40 high-quality docs; "tiny": 2 equally-high docs.
    // Both raw means are equal, but tiny must shrink FAR closer to the
    // corpus mean (which the low-quality "junk" domain drags down).
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val junk = "zzzzz 111 !!!! @@@@"
    val docs = (
      (1 to 40).map(i => ("big", good)) ++
      (1 to 2).map(i => ("tiny", good)) ++
      (1 to 40).map(i => ("junk", junk))).toDF("source", "text")
    val out = new DomainQualityShrunk("source", "text", pseudoCount = 25L)(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val (_, rawBig, shrBig) = out("big")
    val (_, rawTiny, shrTiny) = out("tiny")
    val (_, rawJunk, shrJunk) = out("junk")
    assert(math.abs(rawBig - rawTiny) < 1e-6, "same docs, same raw mean")
    assert(rawJunk < rawBig)
    // shrunk means sit strictly between raw and the corpus mean
    assert(shrBig < rawBig && shrJunk > rawJunk)
    // the 2-doc domain shrinks much harder than the 40-doc domain
    assert(rawBig - shrTiny > 2.0 * (rawBig - shrBig),
      s"tiny ($shrTiny) must shrink harder than big ($shrBig) from raw $rawBig")
  }

  // ---- boilerplate n-grams ----

  test("boilerplate ngrams: doc-frequency top-K, in-doc repeats collapse, singletons drop") {
    val banner = "all rights reserved contact us for more info"
    val docs = Seq(
      (1L, s"alpha beta $banner"),
      (2L, s"$banner gamma delta $banner"), // banner twice IN one doc
      (3L, s"unique eight gram only here once in corpus"),
      (4L, banner)).toDF("doc_id", "text")
    val op = new graft.operators.text.BoilerplateNgrams(
      "text", "doc_id", ngramWidth = 8, topK = 5, minDocs = 2L)
    val out = op(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the banner 8-gram leads: 3 docs, 4 occurrences (doc 2 counts twice)
    assert(out.head == ((banner, 3L, 4L)), out.mkString("\n"))
    // doc 3's singleton 8-gram never appears
    assert(!out.exists(_._1.contains("unique")), out.mkString("\n"))
    // head selection is a distributed top-K, not a global sort
    val plan = TestSpark.planOf(op(docs))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // ---- conditional bigram LM ----

  test("bigram lm: hand-computed conditional cross-entropy; <2 tokens => NULL") {
    // corpus bigrams: d1 "a b a b" -> (a b)x2, (b a); d2 "a b" -> (a b)
    // c(a b)=3, c(b a)=1; ctx c(a.)=3, c(b.)=1; V={a,b}=2
    val tiny = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z"), (4L, ""))
      .toDF("doc_id", "text")
    val out = new graft.operators.text.BigramLm("text", "doc_id")(tiny)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val scale = 1e9 / math.log(2.0)
    def cost(cb: Long, cw: Long, v: Long): Long =
      math.floor(-math.log((cb + 1.0) / (cw + v.toDouble)) * scale).toLong
    val cAB = cost(3, 3, 2) // p(b|a) = 4/5
    val cBA = cost(1, 1, 2) // p(a|b) = 2/3
    def bits(s: Long, n: Long): Double =
      BigDecimal(s.toDouble / n / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, Some(bits(2 * cAB + cBA, 3)))))
    assert(out(2L) == ((1L, Some(bits(cAB, 1)))))
    assert(out(3L) == ((0L, None)), "1-token doc carries no transition evidence")
    assert(out(4L) == ((0L, None)))
  }

  test("bigram lm KN: hand-computed interpolated Kneser-Ney; smoothing knob validated") {
    // corpus bigrams: types (a b) c=3, (b a) c=1 -> T=2, n1=1, n2=0,
    // D = 1/(1+0) = 1. ctx a: cw=3 nt=1; ctx b: cw=1 nt=1. cont: pc=1
    // for both a and b. p(b|a) = 2/3 + 1*(1/3)*(1/2) = 5/6,
    // p(a|b) = 0 + 1*(1/1)*(1/2) = 1/2.
    val tiny = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z"), (4L, ""))
      .toDF("doc_id", "text")
    val out = new graft.operators.text.BigramLm("text", "doc_id").applyKn(tiny)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val scale = 1e9 / math.log(2.0)
    val d = 1.0
    def p(cb: Long, cw: Long, nt: Long, pc: Long, t: Long): Double =
      math.max(cb.toDouble - d, 0.0) / cw.toDouble +
        d * nt.toDouble / cw.toDouble * (pc.toDouble / t.toDouble)
    def cost(pv: Double): Long = math.floor(-math.log(pv) * scale).toLong
    val cAB = cost(p(3, 3, 1, 1, 2)) // 5/6
    val cBA = cost(p(1, 1, 1, 1, 2)) // 1/2
    def bits(s: Long, n: Long): Double =
      BigDecimal(s.toDouble / n / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, Some(bits(2 * cAB + cBA, 3)))))
    assert(out(2L) == ((1L, Some(bits(cAB, 1)))))
    assert(out(3L) == ((0L, None)))
    assert(out(4L) == ((0L, None)))
    // KN must price the repeated transition BELOW add-one here (5/6 > 4/5)
    val addone = new graft.operators.text.BigramLm("text", "doc_id")(tiny)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out(2L)._2.get < addone(2L).get,
      "KN should assign p(b|a)=5/6 > add-one 4/5, i.e. fewer bits")
    assertThrows[IllegalArgumentException](
      new graft.operators.text.BigramLmScoreRefiner("text", "doc_id",
        smoothing = "bogus"))
    // registry path with smoothing: kn attaches the KN bits
    val reg = graft.runner.OperatorRegistry.create("bigram_lm_score",
      graft.runner.Params(Map(
        "text_field" -> "text", "id_field" -> "doc_id", "smoothing" -> "kn")))
    val viaReg = reg(tiny).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        (if (r.isNullAt(r.fieldIndex("bigram_lm_bits"))) None
         else Some(r.getDouble(r.fieldIndex("bigram_lm_bits"))))).toMap
    assert(viaReg(1L) == out(1L)._2 && viaReg(3L).isEmpty)
  }

  test("bigram lm MKN: hand-computed three-discount modified Kneser-Ney") {
    // corpus: "a b a b c", "a b d", "b c a" -> bigram types
    // (a,b)=3 (b,a)=1 (b,c)=2 (b,d)=1 (c,a)=1: T=5, n1=3, n2=1, n3=1, n4=0
    // Y = 3/5 = 0.6; D1 = 1-2*0.6*(1/3) = 0.6; D2 = 2-3*0.6*(1/1) = 0.2;
    // D3 = 3-4*0.6*(0/1) = 3 (count-3 types fully discounted — their
    // mass all routes through lam on this tiny corpus).
    // ctx a: cw=3, classes (0,0,1) -> lam = 3/3 = 1; p(b|a) = 0 + 1*(1/5) = 0.2
    // ctx b: cw=4, classes (2,1,0) -> lam = (0.6*2 + 0.2)/4 = 0.35
    //   p(a|b) = 0.4/4 + 0.35*(2/5) = 0.24; p(c|b) = 1.8/4 + 0.35*(1/5) = 0.52
    //   p(d|b) = 0.4/4 + 0.35*(1/5) = 0.17
    // ctx c: cw=1, classes (1,0,0) -> lam = 0.6;   p(a|c) = 0.4 + 0.6*(2/5) = 0.64
    val tiny = Seq((1L, "a b a b c"), (2L, "a b d"), (3L, "b c a")).toDF("doc_id", "text")
    val out = new graft.operators.text.BigramLm("text", "doc_id").applyMkn(tiny)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val scale = 1e9 / math.log(2.0)
    def cost(p: Double): Long = math.floor(-math.log(p) * scale).toLong
    // replicate the implementation's double expression trees op-for-op
    // (a decimal shorthand like 0.6 drifts in the last ulp)
    val yv = 3.0 / 5.0
    val d1v = math.max(1.0 - 2.0 * yv * 1.0 / 3.0, 0.0) // ≈ 0.6
    val d2v = math.max(2.0 - 3.0 * yv * 1.0 / 1.0, 0.0) // ≈ 0.2
    val d3v = math.max(3.0 - 4.0 * yv * 0.0 / 1.0, 0.0) // = 3
    def lam(m1: Double, m2: Double, m3: Double, cw: Double) =
      (d1v * m1 + d2v * m2 + d3v * m3) / cw
    def p(c: Double, dv: Double, cw: Double, l: Double, pc: Double) =
      math.max(c - dv, 0.0) / cw + l * (pc / 5.0)
    val cAB = cost(p(3, d3v, 3, lam(0, 0, 1, 3), 1)) // = 0.2
    val cBA = cost(p(1, d1v, 4, lam(2, 1, 0, 4), 2)) // ≈ 0.24
    val cBC = cost(p(2, d2v, 4, lam(2, 1, 0, 4), 1)) // ≈ 0.52
    val cBD = cost(p(1, d1v, 4, lam(2, 1, 0, 4), 1)) // ≈ 0.17
    val cCA = cost(p(1, d1v, 1, lam(1, 0, 0, 1), 2)) // ≈ 0.64
    def bits(s: Long, n: Long): Double =
      BigDecimal(s.toDouble / n / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // d1 "a b a b c": (a,b)x2 + (b,a) + (b,c); d2: (a,b) + (b,d); d3: (b,c) + (c,a)
    assert(out(1L) == ((4L, Some(bits(2 * cAB + cBA + cBC, 4)))))
    assert(out(2L) == ((2L, Some(bits(cAB + cBD, 2)))))
    assert(out(3L) == ((2L, Some(bits(cBC + cCA, 2)))))
  }

  test("bigram lm KN: same transition evidence as add-one on the fixture (n_bigrams identical)") {
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val sample = docs.limit(60)
    val kn = lm.applyKn(sample).select(col("doc_id"), col("n_bigrams"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ao = lm(sample).select(col("doc_id"), col("n_bigrams"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kn == ao, "smoothing must not change which bigrams are counted")
    assert(kn.values.exists(_ > 0))
  }

  test("bigram lm refiner: disposition trains on ALIVE rows only; repeated ids never multiply") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val op = new graft.operators.text.BigramLmScoreRefiner("text", "doc_id")
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "z z z z")).toDF("doc_id", "text")
    // gated: doc 3 is dead — it must not shift the corpus counts (alive
    // scores equal a plain run WITHOUT doc 3) and must carry NULLs
    val gated = op.applyGated(df, col("doc_id") < 3L).collect()
      .map(r => r.getLong(0) -> ((r.isNullAt(r.fieldIndex("bigram_lm_n")),
        if (r.isNullAt(r.fieldIndex("bigram_lm_bits"))) None
        else Some(r.getDouble(r.fieldIndex("bigram_lm_bits")))))).toMap
    val aliveOnly = op(Seq((1L, "a b a b"), (2L, "a b")).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        Some(r.getDouble(r.fieldIndex("bigram_lm_bits")))).toMap
    assert(gated(1L) == ((false, aliveOnly(1L))), "alive score must equal the dead-free corpus")
    assert(gated(3L) == ((true, None)), "dead rows carry NULL count AND score")
    // duplicated id: one score row joins per input row — 2 in, 2 out
    val dup = op(Seq((7L, "x y"), (7L, "x y")).toDF("doc_id", "text"))
    assert(dup.count() == 2L, "repeated ids must not multiply through the join")
  }

  test("frozen KN model: training-corpus scores reproduce knScores; backoff arms fire; empty model is NULL") {
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq((1L, "a b a b c"), (2L, "a b d"), (3L, "b c a")).toDF("doc_id", "text")
    val m = lm.freeze(train, smoothing = "kn")
    try {
      // scoring the training corpus through the frozen tables must
      // reproduce the self-trained KN scores bit-for-bit
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(pairs(lm.scoreAgainst(train, m)) == pairs(lm.applyKn(train)))
      // backoff arms: (x y) = unseen words (1/T floor through unseen
      // context); (a z) = seen context, unseen word; (a b) = trained
      val novel = Seq((10L, "x y"), (11L, "a z"), (12L, "a b")).toDF("doc_id", "text")
      val sc = pairs(lm.scoreAgainst(novel, m))
      assert(sc.values.forall(v => v._1 == 1L && v._2.isDefined))
      // the trained bigram must be cheaper than both backoff cases
      assert(sc(12L)._2.get < sc(11L)._2.get && sc(12L)._2.get < sc(10L)._2.get)
      // empty model: every score NULL, counts intact
      val em = lm.freeze(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        smoothing = "kn")
      try {
        val esc = pairs(lm.scoreAgainst(novel, em))
        assert(esc.values.forall(v => v._1 == 1L && v._2.isEmpty))
      } finally em.release()
    } finally m.release()
  }

  test("snapshot family marker: a smoothing switch on the same modelDir never adopts the other family's snapshot") {
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq((1L, "a b a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_blmfam")
    val v0 = base.resolve("v0").toString
    // addone freeze first: the addone probe adopts it, the kn probe
    // must not (kn tables incomplete AND family mismatch)
    val m1 = lm.freeze(train, Some(v0))
    try {
      assert(graft.operators.text.BigramLm.latestSnapshot(
        spark, base.toString, "addone").exists(_.endsWith("v0")))
      assert(graft.operators.text.BigramLm.latestSnapshot(
        spark, base.toString, "kn").isEmpty)
    } finally m1.release()
    // kn re-freeze into the SAME dir: per-table overwrite leaves the
    // stale vocab/ behind (all three addone table dirs still carry
    // _SUCCESS), so WITHOUT the family gate the addone probe would adopt
    // a mixed snapshot (KN costs + stale add-one vocab)
    val m2 = lm.freeze(train, Some(v0), smoothing = "kn")
    try {
      assert(graft.operators.text.BigramLm.latestSnapshot(
        spark, base.toString, "kn").exists(_.endsWith("v0")))
      // the family gate is what refuses it
      assert(graft.operators.text.BigramLm.latestSnapshot(
        spark, base.toString, "addone").isEmpty)
    } finally m2.release()
  }

  test("ladderScores: one staged pass, bit-identical to the three individual scorers") {
    // the lm_smoothing report consumes this — the refactor's ONLY
    // license is value identity, so every doc's (n, bits) triple must
    // equal the standalone scorers to the bit (same double expression
    // trees over the same staged counts)
    val docs = table("documents").select(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"))
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    def one(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Option[Double])] =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val ladder = lm.ladderScores(docs).collect().map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      r.getLong(0) -> (r.getLong(1), d(2), d(3), d(4))
    }.toMap
    val a = one(lm.scores(docs)); val k = one(lm.knScores(docs))
    val m = one(lm.mknScores(docs))
    assert(ladder.keySet == a.keySet && ladder.keySet == k.keySet &&
      ladder.keySet == m.keySet)
    ladder.foreach { case (id, (n, ba, bk, bm)) =>
      assert((n, ba) == a(id), s"addone mismatch at $id")
      assert((n, bk) == k(id), s"kn mismatch at $id")
      assert((n, bm) == m(id), s"mkn mismatch at $id")
    }
  }

  test("marker-first freeze: a family-switch crash before any table fails safe (reject-and-retrain, never mixed adoption)") {
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq((1L, "a b a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_blmfam2")
    val v0 = base.resolve("v0").toString
    val m1 = lm.freeze(train, Some(v0))
    m1.release()
    // simulate the worst crash shape of a kn RE-freeze into the same
    // dir: the marker lands FIRST (r18 write order), then the process
    // dies before any kn table is written — complete addone tables
    // remain under a "kn" marker
    // via the Hadoop FS (like Snapshots.mark itself) — a raw NIO overwrite
    // would leave the freeze's ._FAMILY.crc stale and fail on checksum
    val fam = new org.apache.hadoop.fs.Path(v0, "_FAMILY")
    val fs = fam.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(fam, true)
    os.write("kn".getBytes(java.nio.charset.StandardCharsets.UTF_8)); os.close()
    // the addone probe must refuse the complete-looking addone tables
    // (family mismatch) and the kn probe must refuse too (tables
    // missing) — both retrain; neither adopts a mix
    assert(graft.operators.text.BigramLm.latestSnapshot(
      spark, base.toString, "addone").isEmpty)
    assert(graft.operators.text.BigramLm.latestSnapshot(
      spark, base.toString, "kn").isEmpty)
  }

  test("markerless snapshot: an add-one snapshot without _FAMILY (pre-marker artifact) is still adopted and loads as add-one") {
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq((1L, "a b a b c"), (2L, "a b d")).toDF("doc_id", "text")
    val novel = Seq((10L, "x y"), (11L, "a z"), (12L, "a b c")).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_blmnomark")
    val v0 = base.resolve("v0").toString
    val m1 = lm.freeze(train, Some(v0))
    val want = try lm.scoreAgainst(novel, m1).collect().toSet finally m1.release()
    val fam = new org.apache.hadoop.fs.Path(v0, "_FAMILY")
    val fs = fam.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(fam, false), "the freeze must have written _FAMILY")
    val dir = graft.operators.text.BigramLm.latestSnapshot(spark, base.toString, "addone")
    assert(dir.exists(_.endsWith("v0")), s"markerless add-one snapshot refused: $dir")
    // the kn probe still refuses it: its tables are not all there
    assert(graft.operators.text.BigramLm.latestSnapshot(spark, base.toString, "kn").isEmpty)
    val m2 = lm.loadSnapshot(spark, dir.get, "addone")
    try {
      assert(m2.smoothing == "addone" && m2.tables.size == 3)
      assert(lm.scoreAgainst(novel, m2).collect().toSet == want,
        "the re-opened snapshot must score like the model that wrote it")
    } finally m2.release()
  }

  test("frozen bigram refiner: external training corpus, backoff arms, registry path, no id multiplication") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_blmfrz")
    val trainPath = base.resolve("train").toString
    Seq((100L, "a b a b"), (101L, "a b c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(trainPath)
    // scoring the training rows under the frozen model reproduces the
    // self-trained scores bit-for-bit (scoreAgainst contract)
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val trainDf = spark.read.parquet(trainPath)
    val m = lm.freeze(trainDf)
    try {
      val frozen = lm.scoreAgainst(trainDf, m).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      val self = lm(trainDf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(frozen == self, s"frozen-on-train $frozen must equal self-trained $self")
    } finally m.release()
    // the registry-reachable refiner: unseen pairs/contexts score via
    // the add-one backoff, repeated ids don't multiply, dead rows NULL
    graft.core.Staging.scoped {
      val op = graft.runner.OperatorRegistry.create("bigram_lm_score_frozen",
        graft.runner.Params(Map("train_path" -> trainPath,
          "id_field" -> "doc_id")))
      val in = Seq(
        (1L, "a b"),      // fully seen transition
        (2L, "a z"),      // seen context 'a', unseen pair
        (3L, "q r"),      // fully unseen context
        (4L, "x"),        // no transitions
        (5L, "a b"), (5L, "a b")) // repeated id
        .toDF("doc_id", "text")
      val out = op(in).collect()
      assert(out.length == in.count().toInt, "repeated ids must not multiply")
      val byId = out.map(r => r.getLong(0) ->
        ((r.getLong(r.fieldIndex("bigram_lm_n")),
          if (r.isNullAt(r.fieldIndex("bigram_lm_bits"))) None
          else Some(r.getDouble(r.fieldIndex("bigram_lm_bits")))))).toMap
      assert(byId(4L) == ((0L, None)))
      // exact backoff arms (train: (a,b)x3 (b,a) (b,c); c(a)=3 c(b)=2 V=3):
      // seen "a b" = -log2(4/6); unseen pair under heavy context "a z" =
      // -log2(1/6); fully unseen context "q r" = -log2(1/3) — note the
      // heavy-context backoff costs MORE than the unseen context (its
      // add-one mass splits over cw+V)
      def bits2(p: Double) = BigDecimal(-math.log(p) / math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(byId(1L)._2.get - bits2(4.0 / 6)) < 2e-6, s"${byId(1L)}")
      assert(math.abs(byId(2L)._2.get - bits2(1.0 / 6)) < 2e-6, s"${byId(2L)}")
      assert(math.abs(byId(3L)._2.get - bits2(1.0 / 3)) < 2e-6, s"${byId(3L)}")
      assert(byId(1L)._2.get < byId(3L)._2.get && byId(3L)._2.get < byId(2L)._2.get)
      // disposition: dead rows carry NULLs
      val opT = new graft.operators.text.BigramLmFrozenScoreRefiner(
        _ => trainDf, "text", "doc_id")
      val gated = opT.applyGated(in, col("doc_id") =!= 3L).collect()
        .map(r => r.getLong(0) -> r.isNullAt(r.fieldIndex("bigram_lm_n"))).toMap
      assert(gated(3L) && !gated(1L))
    }
  }

  test("bigram lm: partition-invariant and gibberish scores above fluent text") {
    val fluent = (0 until 30).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
    val soup = (100 until 105).map(i => (i.toLong, s"dog the over fox$i quick lazy jumps brown the"))
    val df = (fluent ++ soup).toDF("doc_id", "text")
    val op = new graft.operators.text.BigramLm("text", "doc_id")
    val a = op(df).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = op(df.repartition(7)).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b, "scores must not depend on partitioning")
    assert(a(100L) > a(0L), "shuffled-word soup must score above corpus-typical text")
  }
}
