package graft.operators.text

import graft.core.{Marked, Operator, RejectingOperator, Rejection}
import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level token statistics: vocabulary extraction and TF-IDF —
  * the standard corpus-profiling ops a curation pipeline runs to build
  * stopword lists, spot boilerplate tokens, and surface per-document
  * keywords (beyond the reference's operator set, like the rest of the
  * training-data family).
  *
  * Scale shape: the classic two-level aggregation. Level 1 groups by
  * `(doc, token)` — partial (map-side) aggregation absorbs each
  * document's repeated tokens before the exchange, so shuffle volume is
  * bounded by distinct-tokens-per-doc, not corpus token count. Level 2
  * groups by token alone; its input is already one row per (doc, token)
  * and its output is vocabulary-sized. No full-text column ever rides
  * an exchange — only `(id, token, count)` triples.
  */
final class VocabularyBuilder(
    textCol: String = "text",
    idCol: String = "doc_id",
    minDocFreq: Int = 1,
    topK: Int = 1000) {

  require(minDocFreq >= 1, s"minDocFreq must be >= 1, got $minDocFreq")
  require(topK >= 1, s"topK must be >= 1, got $topK")

  /** `(token, term_freq, doc_freq)` — total occurrences and number of
    * distinct documents, doc_freq >= minDocFreq, top-K by term_freq
    * (token as deterministic tiebreak).
    */
  def build(df: DataFrame): DataFrame =
    df.select(col(idCol), explode(TextFunctions.tokensOf(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("_tf"))
      .groupBy(col("token")).agg(
        sum("_tf").cast("long").as("term_freq"),
        count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocFreq)
      .orderBy(col("term_freq").desc, col("token"))
      .limit(topK)

  /** DuckDB twin over `table` (same two-level aggregation). */
  def sql(table: String): String =
    s"""WITH tk AS (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS toks FROM $table),
       |ex AS (SELECT $idCol, unnest(toks) AS token FROM tk),
       |dt AS (SELECT $idCol, token, count(*) AS tf FROM ex GROUP BY 1, 2),
       |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS term_freq,
       |             count(*) AS doc_freq FROM dt GROUP BY 1)
       |SELECT token, term_freq, doc_freq FROM v
       |WHERE doc_freq >= $minDocFreq
       |ORDER BY term_freq DESC, token LIMIT $topK""".stripMargin
}

/** Per-document top-K TF-IDF terms (smooth idf, sklearn formula:
  * idf = ln((N + 1) / (df + 1)) + 1, score = tf * idf) — the cheap
  * keyword extractor used for corpus topic profiling and
  * cluster labeling before any embedding model is in the loop.
  *
  * Scale shape: term frequencies via the [[VocabularyBuilder]]
  * two-level aggregation (map-side combine, fixed-width rows on the
  * wire); document frequencies are a token-keyed aggregate joined back
  * on token (AQE broadcasts it when the vocabulary is small); the
  * corpus size N rides a broadcast single-row cross join; the final
  * per-document top-K is a window over doc — each document's term list
  * is bounded, so no skew hazard.
  */
final class TfIdfTopTerms(
    textCol: String = "text",
    idCol: String = "doc_id",
    topK: Int = 5) {

  require(topK >= 1, s"topK must be >= 1, got $topK")

  /** `(doc_id, rank, term, tfidf)` with rank 1..topK per document
    * (score desc, term asc as deterministic tiebreak); documents with
    * no tokens produce no rows.
    */
  def topTerms(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.agg(count(lit(1)).as("_n"))
    val tf = df
      .select(col(idCol), explode(TextFunctions.tokensOf(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("_idf", log((col("_n") + 1.0) / (col("_df") + 1.0)) + 1.0)
      .withColumn("_score", col("_tf") * col("_idf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("term"), round(col("_score"), 6).as("tfidf"))
  }

  /** DuckDB twin over `table` (identical formula and tiebreaks). */
  def sql(table: String): String =
    s"""WITH tk AS (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS toks FROM $table),
       |ex AS (SELECT $idCol, unnest(toks) AS term FROM tk),
       |tf AS (SELECT $idCol, term, count(*) AS tf FROM ex GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM $table),
       |sc AS (SELECT $idCol, term, tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS score
       |       FROM tf JOIN dfreq USING (term) CROSS JOIN n),
       |rk AS (SELECT $idCol, term, score, row_number() OVER
       |         (PARTITION BY $idCol ORDER BY score DESC, term) AS rank FROM sc)
       |SELECT $idCol, rank, term, round(score, 6) AS tfidf FROM rk
       |WHERE rank <= $topK""".stripMargin
}

/** Domain-level statistics filter: drop every document whose domain
  * (source) has fewer than `minDocs` documents or a mean quality score
  * below `minMeanQuality` — the "prune low-quality / thin domains"
  * pass web-curation pipelines (RefinedWeb, FineWeb) run after URL
  * filtering, where per-URL signals are too noisy but the domain-level
  * mean is a strong prior.
  *
  * Scale shape: deliberately NOT a window over the domain (a window
  * would shuffle every full-text row partitioned by domain — one
  * viral domain = one hot partition). Instead a two-stage aggregate
  * computes `(domain, count, mean quality)` with map-side partial
  * aggregation, the surviving-domain list (tiny: domains, not
  * documents) is broadcast, and the verdict is a broadcast semi-join —
  * document rows never ride an exchange.
  *
  * The mean is rounded to 6 places before the threshold comparison in
  * BOTH engines, so float summation order (Spark's partial aggregates
  * vs DuckDB's sequential sum) can never flip the verdict.
  */
final class DomainStatsFilter(
    domainCol: String = "source",
    textCol: String = "text",
    minDocs: Long = 2L,
    minMeanQuality: Double = 0.3) extends RejectingOperator {

  val name = "domain_stats_filter"

  private def quality: Column =
    TextAnalysis.qualityScore(col(textCol), TextFunctions.tokensOf(col(textCol)))

  private def passingDomains(corpus: DataFrame): DataFrame =
    corpus.groupBy(col(domainCol).as("_ds_dom"))
      .agg(count(lit(1)).as("_ds_docs"), round(avg(quality), 6).as("_ds_q"))
      .filter(col("_ds_docs") >= minDocs && col("_ds_q") >= minMeanQuality)
      .select(col("_ds_dom"))

  def apply(df: DataFrame): DataFrame =
    df.join(broadcast(passingDomains(df)), df(domainCol) === col("_ds_dom"), "left_semi")

  /** Disposition mode: domain stats come from ALIVE rows only — a
    * document rejected upstream must not count toward its domain's
    * volume or drag its mean.
    */
  def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val okCol = s"_ds_ok$tag"
    val ok = passingDomains(df.filter(alive)).withColumn(okCol, lit(true))
    val joined = df.join(broadcast(ok), df(domainCol) === ok("_ds_dom"), "left_outer")
      .drop("_ds_dom")
    Marked(joined, col(okCol).isNotNull,
      Rejection.filtered(name), Seq(okCol))
  }

  /** DuckDB twin: CTE exposing `_ds(dom)` — the passing-domain list
    * over `table` (same rounded-mean guard).
    */
  def passingDomainsCteSql(table: String): String =
    s"""_ds AS (
       |  WITH _tk AS (SELECT $domainCol, ${TextFunctions.tokensOfSql(textCol)} AS toks, $textCol FROM $table)
       |  SELECT $domainCol AS dom FROM _tk
       |  GROUP BY 1
       |  HAVING count(*) >= $minDocs
       |     AND round(avg(${TextAnalysis.qualityScoreSql(textCol, "toks")}), 6) >= $minMeanQuality)""".stripMargin
}

/** Empirical-Bayes domain quality — [[DomainStatsFilter]]'s hard
  * thresholds done right for the long tail: a 3-doc domain's raw mean is
  * noise, so each domain's mean shrinks toward the corpus mean with
  * pseudo-count weight K, `shrunk = (Σq + K·μ_corpus) / (n + K)` — small
  * domains ride the prior, big domains keep their evidence (the standard
  * Beta-Binomial/Stein estimator used for per-host quality at crawl
  * scale, where most hosts have a handful of pages).
  *
  * Exactness: per-doc quality (a 9-decimal-rounded double, identical in
  * both engines) floor-scales to an integer BEFORE summing, so per-domain
  * sums are order-invariant BIGINTs; the shrink is one fixed-shape double
  * expression over those exact integers, replayed by the twin.
  *
  * Scale shape: ONE corpus aggregate into the domains-sized table
  * (staged — the corpus mean and the output both consume it); the global
  * mean rides a broadcast scalar. No windows.
  */
final class DomainQualityShrunk(
    domainCol: String = "source",
    textCol: String = "text",
    pseudoCount: Long = 25L) {

  require(pseudoCount >= 1, s"pseudoCount must be >= 1, got $pseudoCount")

  val name = "domain_quality_shrunk"

  /** `(domainCol, docs, raw_mean, shrunk_mean)` per domain, ordered.
    * `docs` counts SCORED documents (NULL text has no quality evidence —
    * it neither deflates the mean nor inflates the shrink weight, the
    * avg() semantics [[DomainStatsFilter]] uses); an all-NULL domain
    * reports docs = 0, NULL raw_mean, and the pure prior as its shrunk
    * mean. NULL shrunk mean only when the whole corpus carries no
    * evidence.
    */
  def apply(df: DataFrame): DataFrame = {
    val q6 = floor(TextAnalysis.qualityScore(col(textCol),
      TextFunctions.tokensOf(col(textCol))) * lit(1e6)).cast("long")
    val perDom = graft.core.Staging.stage(
      df.groupBy(col(domainCol).as("_dqs_dom"))
        .agg(count(q6).as("docs"), coalesce(sum(q6), lit(0L)).as("_s6")))
    val g = perDom.agg(sum(col("docs")).as("_na"), sum(col("_s6")).as("_sa"))
    perDom.crossJoin(broadcast(g))
      .select(col("_dqs_dom").as(domainCol), col("docs"),
        when(col("docs") > 0L,
          round(col("_s6").cast("double") / col("docs").cast("double") / lit(1e6), 6))
          .as("raw_mean"),
        when(col("_na") > 0L,
          round((col("_s6").cast("double") +
            lit(pseudoCount) * (col("_sa").cast("double") / col("_na").cast("double")))
            / (col("docs") + lit(pseudoCount)).cast("double") / lit(1e6), 6))
          .as("shrunk_mean"))
      .orderBy(col(domainCol))
  }

  // ---- DuckDB twin: same floor-scaled integer sums, same shrink ----

  def sql(table: String): String = {
    val qs = TextAnalysis.qualityScoreSql(textCol, "toks")
    s"""WITH _dq AS (SELECT $domainCol AS dom,
       |    CAST(floor($qs * 1e6) AS BIGINT) AS q6
       |  FROM (SELECT $domainCol, $textCol,
       |        ${TextFunctions.tokensOfSql(textCol)} AS toks FROM $table)),
       |_pd AS (SELECT dom, CAST(count(q6) AS BIGINT) AS docs,
       |    CAST(coalesce(sum(q6), 0) AS BIGINT) AS _s6 FROM _dq GROUP BY dom),
       |_g AS (SELECT CAST(sum(docs) AS BIGINT) AS _na,
       |    CAST(sum(_s6) AS BIGINT) AS _sa FROM _pd)
       |SELECT dom AS $domainCol, docs,
       |  CASE WHEN docs > 0 THEN
       |    round(CAST(_s6 AS DOUBLE) / CAST(docs AS DOUBLE) / 1e6, 6)
       |  END AS raw_mean,
       |  CASE WHEN _na > 0 THEN
       |    round((CAST(_s6 AS DOUBLE)
       |        + $pseudoCount * (CAST(_sa AS DOUBLE) / CAST(_na AS DOUBLE)))
       |      / CAST(docs + $pseudoCount AS DOUBLE) / 1e6, 6)
       |  END AS shrunk_mean
       |FROM _pd CROSS JOIN _g
       |ORDER BY dom NULLS FIRST""".stripMargin
  }
}
