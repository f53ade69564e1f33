package graft.operators.text

import graft.core.{Operator, Refiner}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII detection + redaction — a standard pass in any public-web
  * training-data pipeline (beyond the reference's own operator set,
  * like the rest of the training-data family): count and mask emails,
  * IPv4 addresses, and NANP-style phone numbers. The `regexp_count` /
  * `regexp_replace` columns here are the declarative semantics and the
  * DuckDB twin's source; [[PiiRedactionRefiner]] evaluates them through
  * the fused [[graft.plans.kernels.PiiSignals]] kernel, which runs the
  * same compiled patterns only where a match can start. The patterns
  * are deliberately conservative and portable (identical semantics in
  * Java regex and RE2, so the DuckDB twin re-evaluates them
  * independently).
  *
  * A new detector (IBANs, national ids) is a new kind in
  * [[PiiRedaction.patterns]] plus its match-start rule in
  * `PiiSignals`, which rejects kinds it has no rule for; the column
  * contract and redaction order stay fixed.
  */
object PiiRedaction {

  /** (kind, regex, replacement) in redaction order. Order matters:
    * emails redact before phones so a digit-bearing local-part is
    * consumed as an email, not double-counted.
    */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "[IP]"),
    ("phone", "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "[PHONE]"))

  /** Count of `kind` matches in the ORIGINAL text (0 for null). */
  def countOf(text: Column, kind: String): Column = {
    val p = patterns.find(_._1 == kind).getOrElse(
      throw new IllegalArgumentException(s"unknown pii kind: $kind"))._2
    coalesce(regexp_count(text, lit(p)), lit(0)).cast("long")
  }

  /** All kinds masked, in [[patterns]] order; null text stays null. */
  def redact(text: Column): Column =
    patterns.foldLeft(text) { case (t, (_, p, r)) => regexp_replace(t, p, r) }

  def countOfSql(textExpr: String, kind: String): String = {
    val p = patterns.find(_._1 == kind).get._2
    s"CAST(len(regexp_extract_all($textExpr, '$p')) AS BIGINT)"
  }

  def redactSql(textExpr: String): String =
    patterns.foldLeft(textExpr) { case (t, (_, p, r)) =>
      s"regexp_replace($t, '$p', '$r', 'g')"
    }
}

/** Adds `pii_email_count`, `pii_ipv4_count`, `pii_phone_count` (over the
  * original text) and `text_redacted` (all kinds masked in order).
  *
  * One fused [[graft.plans.kernels.PiiSignals]] evaluation per row,
  * staged as a scratch struct column (the C4 idiom) — the declarative
  * per-column form paid 6 independent regexp expressions per row and
  * was the bench's worst contention amplifier after the joins (1.0 s →
  * 12.5 s in the r9 driver run). Null text: counts 0, redaction null —
  * identical to the declarative contract, pinned in KernelSpec.
  */
final class PiiRedactionRefiner(
    textCol: String = "text",
    redactedCol: String = "text_redacted") extends Operator {
  val name = "pii_redaction"
  def apply(df: DataFrame): DataFrame = {
    val counted = PiiRedaction.patterns.foldLeft(
        df.withColumn("_pii", graft.plans.kernels.pii_signals(
          col(textCol), PiiRedaction.patterns))) {
      case (d, (kind, _, _)) => d.withColumn(s"pii_${kind}_count",
        coalesce(col(s"_pii.${kind}_count"), lit(0L)))
    }
    counted.withColumn(redactedCol, col("_pii.redacted")).drop("_pii")
  }
}
