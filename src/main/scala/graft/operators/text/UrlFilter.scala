package graft.operators.text

import graft.core.RowFilter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RefinedWeb §G.1 three-part URL filter (arXiv:2306.01116).
  *
  * Reimplements the decision of the reference's URLFilter
  * (reference: operators/filters/url_filter.py:107-321). A row is DROPPED if
  *  (a) its domain — or any parent domain when `checkSubdomains` — is in the
  *      blocklist (url_filter.py:217-234);
  *  (b) the URL word score ≥ `scoreThreshold`, where matches of a severity
  *      lexicon (longest-first, case-insensitive) are scored
  *      `min(maxWeight*0.8 + min(ΣWeights/3, 0.2), 1.0)` (url_filter.py:255-282);
  *  (c) `excludeQualitySources` and the domain (or parent) is a curated
  *      high-quality source (url_filter.py:236-253).
  * Rows with a missing/empty URL are KEPT (url_filter.py:296-299).
  *
  * `keep` evaluates one whole-stage-codegen'd kernel,
  * [[graft.plans.kernels.UrlDrop]]: one host extraction, hash-set domain
  * tests and one longest-first lexicon scan per row. [[declarativeKeep]]
  * and [[score]] are the same decision as regexp and array Column
  * algebra. They are the kernel's twin: `TextKernelPropertySpec` pins
  * the kernel to them, the `url_score` gate checks `score` against the
  * DuckDB twin, and they document the semantics. They are not the run
  * path because they re-extract the host once per domain test, inside
  * CASE/OR branches that subexpression elimination does not reach, and
  * score through interpreted higher-order functions.
  * Domain = lowercased host extracted by regex (no ports/userinfo in scope).
  *
  * Scale note: the blocklist is a hash set inside the kernel, shipped
  * with the plan to every task — right for lists up to ~10^5 entries. A
  * multi-million-domain blocklist should instead become a broadcast
  * left_anti join on the domain-suffix set ([[DomainBlocklistFilter]],
  * same semantics, one broadcast).
  */
final class UrlFilter(
    blockedDomains: Seq[String] = Nil,
    wordWeights: Map[String, Double] = UrlFilter.defaultWordWeights,
    scoreThreshold: Double = 0.5,
    checkSubdomains: Boolean = true,
    excludeQualitySources: Boolean = false,
    qualitySourceDomains: Seq[String] = UrlFilter.defaultQualitySources,
    urlCol: String = "url") extends RowFilter {

  val name = "url_filter"

  private val hostRegex = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#:]+)"
  private val sortedWords = wordWeights.keys.toSeq.sorted.sortBy(-_.length)
  private val wordPattern = sortedWords.map(java.util.regex.Pattern.quote).mkString("(", "|", ")")

  private def domainOf(url: Column): Column = lower(regexp_extract(url, hostRegex, 1))

  private def inDomainSet(domain: Column, domains: Seq[String]): Column =
    domains.map { d =>
      val hit = domain === d
      if (checkSubdomains) hit || domain.endsWith("." + d) else hit
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Word-severity score of the URL, 0.0 when no lexicon word matches. */
  def score(url: Column): Column = {
    if (wordWeights.isEmpty) return lit(0.0)
    val weightsMap = typedLit(wordWeights)
    val matches = regexp_extract_all(lower(url), lit(wordPattern))
    val weights = transform(matches, w => coalesce(element_at(weightsMap, w), lit(0.0)))
    val maxW = array_max(weights)
    val sumW = aggregate(weights, lit(0.0), (acc, w) => acc + w)
    when(size(matches) === 0, lit(0.0))
      .otherwise(least(maxW * lit(0.8) + least(sumW / lit(3.0), lit(0.2)), lit(1.0)))
  }

  def keep(df: DataFrame): Column = {
    val url = col(urlCol)
    val quality = if (excludeQualitySources) qualitySourceDomains else Nil
    when(url.isNull || url === "", lit(true)).otherwise(!graft.plans.kernels.url_drop(
      url, hostRegex, blockedDomains, quality, checkSubdomains, wordWeights, wordPattern,
      scoreThreshold))
  }

  /** The kernel's declarative twin: the same verdict as Column algebra. */
  def declarativeKeep(url: Column): Column = {
    val domain = domainOf(url)
    val blocked = inDomainSet(domain, blockedDomains)
    val scored = score(url) >= scoreThreshold
    val quality = if (excludeQualitySources) inDomainSet(domain, qualitySourceDomains) else lit(false)
    when(url.isNull || url === "", lit(true)).otherwise(!(blocked || scored || quality))
  }

  // ---- DuckDB twin (same decision, generated from the same config) ----

  private def inDomainSetSql(domainExpr: String, domains: Seq[String]): String =
    if (domains.isEmpty) "FALSE"
    else domains.map { d =>
      val hit = s"$domainExpr = '$d'"
      if (checkSubdomains) s"($hit OR $domainExpr LIKE '%.$d')" else hit
    }.mkString("(", " OR ", ")")

  def scoreSql(urlExpr: String): String = {
    if (wordWeights.isEmpty) return "CAST(0.0 AS DOUBLE)"
    val cases = sortedWords.map(w => s"WHEN '$w' THEN CAST(${wordWeights(w)} AS DOUBLE)")
      .mkString(" ")
    val weights = s"list_transform(regexp_extract_all(lower($urlExpr), '$wordPattern'), " +
      s"w -> CASE w $cases ELSE CAST(0.0 AS DOUBLE) END)"
    s"(CASE WHEN len(regexp_extract_all(lower($urlExpr), '$wordPattern')) = 0 THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE least(list_max($weights) * 0.8 + least(list_sum($weights) / 3.0, 0.2), 1.0) END)"
  }

  def keepSql(urlExpr: String): String = {
    val domain = s"lower(regexp_extract($urlExpr, '$hostRegex', 1))"
    val blocked = inDomainSetSql(domain, blockedDomains)
    val quality = if (excludeQualitySources) inDomainSetSql(domain, qualitySourceDomains) else "FALSE"
    s"(CASE WHEN $urlExpr IS NULL OR $urlExpr = '' THEN TRUE " +
      s"ELSE NOT ($blocked OR ${scoreSql(urlExpr)} >= $scoreThreshold OR $quality) END)"
  }
}

object UrlFilter {
  /** Severity lexicon, same shape as the reference's default
    * (url_filter.py:24-58) — configurable; this default is a neutral
    * placeholder set for tests/fixtures.
    */
  val defaultWordWeights: Map[String, Double] = Map(
    "casino" -> 0.9, "poker" -> 0.7, "gambling" -> 0.9, "betting" -> 0.8,
    "slot" -> 0.6, "jackpot" -> 0.7, "warez" -> 0.9, "torrent" -> 0.6,
    "pirate" -> 0.6, "free-money" -> 0.8, "get-rich" -> 0.8,
    "click-here" -> 0.5, "buy-now" -> 0.4, "limited-offer" -> 0.5,
    "spamlink" -> 1.0, "malware" -> 1.0, "phishing" -> 1.0)

  /** Curated high-quality sources excluded under G.1.3 (url_filter.py:62-104). */
  val defaultQualitySources: Seq[String] = Seq(
    "wikipedia.org", "wikimedia.org", "wikidata.org", "arxiv.org",
    "pubmed.gov", "github.com", "gitlab.com", "stackoverflow.com",
    "stackexchange.com", "gutenberg.org", "archive.org", "britannica.com")
}
