package graft.operators.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling z-score anomaly detection over an event stream: bucket events
  * into per-(type, hour) counts on a DENSIFIED hour spine (a silent hour
  * is a zero, not a missing row — outage detection is the whole point),
  * then flag hours whose count deviates from the trailing window's mean
  * by ≥ `zThreshold` sample standard deviations. The trailing frame
  * EXCLUDES the current hour (`ROWS BETWEEN trailing PRECEDING AND 1
  * PRECEDING`) so an anomaly can't suppress itself, and needs at least
  * `minPrior` prior hours before it scores at all (cold-start hours are
  * unscoreable, not normal).
  *
  * Exactness: bucket counts, rolling sums and sums-of-squares are exact
  * BIGINTs; mean/variance/z are fixed-shape doubles over those exact
  * sums (the variance subtraction is done in DOUBLE deliberately — s²
  * overflows BIGINT once hourly counts reach ~10⁹, and both engines
  * evaluate the identical shape so parity holds).
  *
  * Scale shape: one (type, hour)-keyed partial aggregate over the events
  * scan (the only row-count-sized shuffle), then every window rides the
  * SPINE — |types| × |hours| rows, millions of times smaller than the
  * event count. The spine build's min/max is a scalar aggregate
  * broadcast into `sequence()`.
  */
final class EventAnomaly(
    tsCol: String = "ts",
    typeCol: String = "event_type",
    trailing: Int = 24,
    minPrior: Int = 12,
    zThreshold: Double = 3.0) {

  val name = "events_anomaly"
  require(trailing >= minPrior && minPrior >= 2, "need >= 2 prior buckets")

  /** The STREAMABLE half: per-(type, hour) exact counts — runs unchanged
    * as a complete-mode streaming aggregate (the calibration-monitor
    * idiom; see StreamingSpec's stream==batch pin).
    */
  def counts(df: DataFrame): DataFrame =
    df.select(col(typeCol).as("event_type"),
        date_trunc("hour", col(tsCol)).as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))

  /** Anomalous hours: `(event_type, hour, cnt, expected, z)` ordered by
    * (event_type, hour).
    */
  def apply(df: DataFrame): DataFrame = fromCounts(counts(df))

  /** The batch-side finish over a maintained `(event_type, h, c)` counts
    * table: spine densification + trailing window + z verdicts.
    */
  def fromCounts(counts0: DataFrame): DataFrame = {
    // the counts table is bounded (|types| × |hours|) and fans out to
    // THREE consumers (bounds, type spine, densify join) with different
    // pruned columns — materialize it once or the batch path re-derives
    // the event-stream aggregate per consumer (the psiPerGroup lesson).
    // Staged via the registry: Verify/Bench/PipelineRunner run under
    // Staging.scoped, which releases at their quiescent points; a
    // long-lived monitor loop calling this per trigger wraps each
    // trigger's consume in Staging.scoped { ... } (staging outside a
    // scope throws)
    val counts = graft.core.Staging.stage(counts0)
    val bounds = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val hours = bounds.select(explode(
      sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    // fresh output attributes on BOTH join sides: the spine derives FROM
    // the counts frame, so the densifying join is a self-join — without
    // re-aliased projections the two sides share attribute ids and
    // resolution fails (seen when the input is a streaming memory view)
    val types = counts.select(col("event_type").as("_sp_t")).distinct()
    val spine = types.crossJoin(hours.select(col("h").as("_sp_h")))
    val ct = counts.select(col("event_type").as("_ct_t"),
      col("h").as("_ct_h"), col("c").as("_ct_c"))
    val dense = spine.join(ct,
        // null-safe on the type key: a NULL event_type is a real slice
        // (unparsed/unlabeled events) whose outage must stay visible
        col("_sp_t") <=> col("_ct_t") && col("_sp_h") === col("_ct_h"), "left")
      .select(col("_sp_t").as("event_type"), col("_sp_h").as("h"),
        coalesce(col("_ct_c"), lit(0L)).as("c"))
    val win = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-trailing, -1)
    val rolled = dense.select(col("event_type"), col("h"), col("c"),
      sum(col("c")).over(win).as("s"),
      sum(col("c") * col("c")).over(win).as("ss"),
      count(col("c")).over(win).as("n"))
    val nd = col("n").cast("double")
    val sd = col("s").cast("double")
    val ssd = col("ss").cast("double")
    val cd = col("c").cast("double")
    val varNum = ssd - sd * sd / nd
    val z = (cd - sd / nd) / sqrt(varNum / (nd - lit(1.0)))
    rolled
      .filter(col("n") >= minPrior && varNum > 0.0 && abs(z) >= zThreshold)
      .select(col("event_type"), col("h").as("hour"), col("c").as("cnt"),
        round(sd / nd, 4).as("expected"), round(z, 4).as("z"))
      // NULLS FIRST pinned: Spark defaults nulls-first, DuckDB
      // nulls-last, and the NULL-type slice is a supported input
      .orderBy(col("event_type").asc_nulls_first, col("hour"))
  }

  // ---- DuckDB twin (same spine, same frame, same double shapes) ----

  def sql(table: String): String =
    s"""WITH _eb AS (SELECT min(date_trunc('hour', $tsCol)) AS h0,
       |    max(date_trunc('hour', $tsCol)) AS h1 FROM $table),
       |_esp AS (SELECT t.event_type, g.h
       |  FROM (SELECT DISTINCT $typeCol AS event_type FROM $table) t
       |  CROSS JOIN (SELECT unnest(generate_series((SELECT h0 FROM _eb),
       |    (SELECT h1 FROM _eb), INTERVAL 1 HOUR)) AS h) g),
       |_ec AS (SELECT $typeCol AS event_type, date_trunc('hour', $tsCol) AS h,
       |    count(*) AS c FROM $table GROUP BY 1, 2),
       |_ed AS (SELECT _esp.event_type, _esp.h, coalesce(_ec.c, 0) AS c
       |  FROM _esp LEFT JOIN _ec
       |    ON _esp.event_type IS NOT DISTINCT FROM _ec.event_type AND _esp.h = _ec.h),
       |_ew AS (SELECT event_type, h, c,
       |    sum(c) OVER _w AS s, sum(c * c) OVER _w AS ss, count(c) OVER _w AS n
       |  FROM _ed WINDOW _w AS (PARTITION BY event_type ORDER BY h
       |    ROWS BETWEEN $trailing PRECEDING AND 1 PRECEDING))
       |SELECT event_type, h AS hour, CAST(c AS BIGINT) AS cnt,
       |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS expected,
       |  round((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |      / (CAST(n AS DOUBLE) - 1)), 4) AS z
       |FROM _ew
       |WHERE n >= $minPrior
       |  AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) > 0
       |  AND abs((CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |    / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       |      / (CAST(n AS DOUBLE) - 1))) >= $zThreshold
       |ORDER BY event_type ASC NULLS FIRST, hour""".stripMargin
}
