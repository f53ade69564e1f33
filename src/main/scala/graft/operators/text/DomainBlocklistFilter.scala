package graft.operators.text

import graft.core.{Rejection, RejectingOperator}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocklist filtering as a broadcast join — the scale form of
  * [[UrlFilter]]'s in-kernel hash-set blocklist (its scaladoc documents
  * the cutover): a multi-million-domain set is too large to ship inside
  * every task's plan, but it broadcasts fine. A row is DROPPED when its
  * URL's domain OR ANY PARENT DOMAIN appears in the blocklist
  * (subdomain semantics of url_filter.py:217-234): the row's domain is
  * exploded into its suffix chain (a.b.c → a.b.c, b.c, c) and
  * semi-joined against the blocklist; rows with missing/empty URL are
  * kept (url_filter.py:296-299).
  *
  * Shuffle posture: the blocklist side is broadcast (a 10M-domain list
  * is ~100 MB — fine); the fact side never shuffles. `idCol` keys the
  * drop set back onto the input.
  */
final class DomainBlocklistFilter(
    blocklist: DataFrame, // one column: `domain`
    idCol: String,
    urlCol: String = "url") extends RejectingOperator {

  val name = "domain_blocklist_filter"

  private val hostRegex = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#:]+)"

  private def domainOf(url: Column): Column = lower(regexp_extract(url, hostRegex, 1))

  /** All parent-suffix domains of the row's domain. */
  private def suffixes(domain: Column): Column = {
    val parts = split(domain, "\\.")
    transform(sequence(lit(1), size(parts)),
      i => concat_ws(".", slice(parts, i, size(parts))))
  }

  /** Ids of rows whose domain chain hits the blocklist. */
  private def blockedIds(df: DataFrame): DataFrame =
    df.filter(col(urlCol).isNotNull && col(urlCol) =!= "")
      .select(col(idCol), explode(suffixes(domainOf(col(urlCol)))).as("_sfx"))
      .join(broadcast(blocklist.select(lower(col("domain")).as("_sfx"))), Seq("_sfx"), "left_semi")
      .select(col(idCol)).distinct()

  def apply(df: DataFrame): DataFrame =
    df.join(blockedIds(df), Seq(idCol), "left_anti")

  /** Disposition mode: the blocked set is row-local (URL only), so one
    * left join stamps a blocked flag instead of anti/semi-joining twice.
    */
  def mark(df: DataFrame, alive: Column, tag: String): graft.core.Marked = {
    val bC = s"_blk$tag"
    val d = df.join(blockedIds(df).withColumn(bC, lit(true)), Seq(idCol), "left")
    graft.core.Marked(d, col(bC).isNull,
      Rejection.filtered(name), Seq(bC))
  }

  /** DuckDB twin: kept-id predicate over `table` given a VALUES blocklist. */
  def keepSql(table: String, urlExpr: String, blockedDomains: Seq[String]): String = {
    val values = blockedDomains.map(d => s"('${d.toLowerCase}')").mkString(", ")
    s"""$idCol NOT IN (
       |  SELECT $idCol FROM (
       |    SELECT $idCol, unnest(list_transform(
       |        range(1, len(string_split(dom, '.')) + 1),
       |        i -> array_to_string(list_slice(string_split(dom, '.'), i, len(string_split(dom, '.'))), '.'))) AS sfx
       |    FROM (SELECT $idCol, lower(regexp_extract($urlExpr, '$hostRegex', 1)) AS dom
       |          FROM $table WHERE $urlExpr IS NOT NULL AND $urlExpr <> '')) t
       |  WHERE sfx IN (SELECT lower(d) FROM (VALUES $values) AS bl(d)))""".stripMargin
  }
}
