package graft.queries

import graft.core.Tables
import graft.operators.text.{DocumentChunker, DomainStatsFilter, StripAccentsRefiner, TfIdfTopTerms, VocabularyBuilder}
import org.apache.spark.sql.functions._

/** Corpus-statistics gates: vocabulary, TF-IDF keywords, domain-level
  * stats filtering, fixed-window chunking, accent folding — each
  * recomputed from scratch by the DuckDB twin.
  */
object CorpusStatsQueries {

  private val vocab = new VocabularyBuilder(minDocFreq = 2, topK = 200)
  private val tfidf = new TfIdfTopTerms(topK = 3)
  private val domainFilter = new DomainStatsFilter(minDocs = 5L, minMeanQuality = 0.3)
  private val chunker = new DocumentChunker(chunkSize = 32, stride = 24, minTokens = 4)

  /** Accent fixture: the sf fixtures are ASCII-heavy, so plant
    * diacritics deterministically (identical CASE chain both engines —
    * first match wins) to exercise the fold on every class: strippable
    * Latin/Greek/Vietnamese marks, unstrippable ø/ł/ß, Hangul
    * recomposition, multi-mark ḹ.
    */
  private val augA = " café Ångström Việt ḹǖ Ełłáñ øß"
  private val augB = "Zürich naïve São 한국어 Ελληνικά "

  val queries: Seq[OracleQuery] = Seq(

    OracleQuery("vocab_top_k",
      (s, dir) => vocab.build(Tables(s, dir, "documents")),
      Some(vocab.sql("documents"))),

    OracleQuery("tfidf_top_terms",
      (s, dir) => tfidf.topTerms(Tables(s, dir, "documents"))
        .orderBy(col("doc_id"), col("rank")),
      Some(tfidf.sql("documents") + "\nORDER BY doc_id, rank")),

    OracleQuery("domain_stats_filter",
      (s, dir) => domainFilter(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("source")).orderBy(col("doc_id")),
      Some(s"""WITH ${domainFilter.passingDomainsCteSql("documents")}
              |SELECT doc_id, source FROM documents
              |WHERE source IN (SELECT dom FROM _ds)
              |ORDER BY doc_id""".stripMargin)),

    OracleQuery("chunk_documents",
      (s, dir) => chunker.chunks(Tables(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(chunker.sql("documents") + "\nORDER BY doc_id, chunk_idx")),

    OracleQuery("strip_accents",
      (s, dir) => {
        val t = coalesce(col("text"), lit(""))
        val aug = when(col("doc_id") % 7 === 0, concat(t, lit(augA)))
          .when(col("doc_id") % 5 === 0, concat(lit(augB), t))
          .otherwise(t)
        new StripAccentsRefiner(textCol = "_aug")(
          Tables(s, dir, "documents").withColumn("_aug", aug))
          .select(col("doc_id"), col("text_folded")).orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, strip_accents(
              |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || '$augA'
              |         WHEN doc_id % 5 = 0 THEN '$augB' || coalesce(text, '')
              |         ELSE coalesce(text, '') END) AS text_folded
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Per-source coverage under the corpus's own top-300 vocabulary:
    // the OOV-rate companion of token_fertility (distributed top-K
    // vocab + broadcast membership join, tokens never shuffle twice)
    OracleQuery("vocab_coverage",
      (s, dir) => vocabCovOp(Tables(s, dir, "documents")),
      Some(vocabCovOp.sql("documents"))),

    // Empirical-Bayes per-domain quality: small domains shrink to the
    // corpus mean (pseudo-count 25), big domains keep their evidence
    OracleQuery("domain_quality_shrunk",
      (s, dir) => shrunkOp(Tables(s, dir, "documents")),
      Some(shrunkOp.sql("documents"))),

    // Corpus boilerplate audit: the 8-grams shared across the most docs
    OracleQuery("boilerplate_ngrams",
      (s, dir) => boilerplateOp(Tables(s, dir, "documents")),
      Some(boilerplateOp.sql("documents"))),

    // Conditional bigram-LM cross-entropy per doc (the Markov complement
    // to ngram_lm_score's marginal frequencies — see BigramLm scaladoc)
    OracleQuery("bigram_lm_score",
      (s, dir) => bigramLmOp(Tables(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(bigramLmOp.sql("documents") + "\nORDER BY doc_id")),

    // Interpolated Kneser–Ney smoothing (r17): same self-trained bigram
    // model, but the probability follows the KenLM-default recipe —
    // absolute discount D = n1/(n1+2·n2) with the freed mass routed
    // through the CONTINUATION distribution N1+(·,w2)/T, so
    // many-context words keep low novelty mass (the "francisco" effect)
    OracleQuery("bigram_lm_kn",
      (s, dir) => bigramLmOp.applyKn(Tables(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(bigramLmOp.knSql("documents") + "\nORDER BY doc_id")),

    // MODIFIED Kneser–Ney (r17): the Chen & Goodman three-discount
    // recipe (KenLM's default) — D1/D2/D3+ by count class, λ(w1) from
    // the context's per-class continuation counts
    OracleQuery("bigram_lm_mkn",
      (s, dir) => bigramLmOp.applyMkn(Tables(s, dir, "documents"))
        .orderBy(col("doc_id")),
      Some(bigramLmOp.mknSql("documents") + "\nORDER BY doc_id")),

    // FROZEN-model scoring (r15): train on the src0 slice, score the
    // whole corpus — unseen bigrams back off to the add-one floor
    // (seen-context 1/(c(w1)+V), fully-unseen 1/V); the streaming twin
    // scores micro-batches against exactly these model tables
    OracleQuery("bigram_lm_frozen",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val model = bigramLmOp.freeze(docs.filter(col("source") === "src0"))
        // tie the frozen tables to the consuming scope: Verify/Bench
        // release them after the gate's write like any staged frame
        model.tables.foreach(graft.core.Staging.adopt)
        bigramLmOp.scoreAgainst(docs, model).orderBy(col("doc_id"))
      },
      Some(bigramLmOp.scoreAgainstSql(
        "(SELECT * FROM documents WHERE source = 'src0')", "documents")
        + "\nORDER BY doc_id")),

    // FROZEN Kneser–Ney scoring (r17): train on the src0 slice, score
    // the whole corpus — seen bigrams read trained costs, unseen ones
    // interpolate through λ(w1)·p_cont(w2) (unseen contexts take the
    // continuation distribution alone, unseen words its 1/T floor)
    OracleQuery("bigram_lm_kn_frozen",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val model = bigramLmOp.freeze(docs.filter(col("source") === "src0"),
          smoothing = "kn")
        model.tables.foreach(graft.core.Staging.adopt)
        bigramLmOp.scoreAgainst(docs, model).orderBy(col("doc_id"))
      },
      Some(bigramLmOp.scoreAgainstKnSql(
        "(SELECT * FROM documents WHERE source = 'src0')", "documents")
        + "\nORDER BY doc_id")),

    // The smoothing-ladder corpus report (r17): per source, mean
    // bits/bigram under add-one | KN | MKN from three self-trained
    // models — exact integer micro-bit sums, never float accumulation
    // (the per-doc bits are already 6-dp values, so round(bits·1e6) is
    // an exact long in both engines). CLI: `graft.Cli report
    // lm_smoothing <corpus> <outDir>`.
    OracleQuery("lm_smoothing_report",
      (s, dir) => graft.runner.CorpusReports.build("lm_smoothing",
        Tables(s, dir, "documents"),
        graft.runner.CorpusReports.Cols("text", "source", "doc_id")),
      Some {
        def scaled(inner: String, out: String) =
          s"""(SELECT doc_id, CAST(round(bits_per_bigram * 1e6) AS BIGINT) AS $out
             |  FROM ($inner) WHERE bits_per_bigram IS NOT NULL)""".stripMargin
        def mean(s6: String) =
          s"round(CAST(sum($s6) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6, 6)"
        s"""SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs_scored,
           |  ${mean("_a6")} AS bits_addone,
           |  ${mean("_k6")} AS bits_kn,
           |  ${mean("_m6")} AS bits_mkn
           |FROM documents d
           |JOIN ${scaled(bigramLmOp.sql("documents"), "_a6")} a ON d.doc_id = a.doc_id
           |JOIN ${scaled(bigramLmOp.knSql("documents"), "_k6")} k ON d.doc_id = k.doc_id
           |JOIN ${scaled(bigramLmOp.mknSql("documents"), "_m6")} m ON d.doc_id = m.doc_id
           |GROUP BY 1 ORDER BY 1""".stripMargin
      })
  )

  private lazy val vocabCovOp = new graft.operators.text.VocabCoverage(
    "text", "source", topK = 300)

  private lazy val bigramLmOp = new graft.operators.text.BigramLm(
    "text", "doc_id")

  private lazy val boilerplateOp = new graft.operators.text.BoilerplateNgrams(
    "text", "doc_id", ngramWidth = 8, topK = 20, minDocs = 2L)

  private lazy val shrunkOp = new graft.operators.text.DomainQualityShrunk(
    "source", "text", pseudoCount = 25L)
}
