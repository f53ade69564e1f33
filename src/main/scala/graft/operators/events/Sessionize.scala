package graft.operators.events

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization: consecutive events of the same user more
  * than `gapMinutes` apart start a new session — the canonical
  * event-analytics operator (funnnel/session metrics over the `events`
  * stream). Batch shape: lag + running sum over a per-user window,
  * then one aggregate per (user, session) — textbook SQL, which is
  * exactly what makes it oracle-checkable. On a stream, Spark's native
  * `session_window` computes the same sessions (StreamingSpec pins the
  * equality off the exact-gap boundary).
  *
  * Scale shape: ONE shuffle, by user — the window and the follow-up
  * groupBy share the user-keyed partitioning, and AQE handles the
  * bot-user skew case (one hot user = one fat partition; the rows are
  * projected down to (user, ts-micros, value) before the exchange so
  * even a 10⁷-event user is tens of MB, not GB). Session ids are
  * per-user ordinals (1, 2, …) — deterministic, join-stable, and
  * identical in both engines via the (ts, eventId) tiebreak.
  */
final class Sessionize(
    userCol: String = "user_id",
    tsCol: String = "ts",
    eventIdCol: String = "event_id",
    valueCol: String = "value",
    gapMinutes: Int = 30) {

  require(gapMinutes >= 1, s"gapMinutes must be >= 1, got $gapMinutes")
  private val gapUs = gapMinutes * 60L * 1000000L

  /** One row per session: `(user, session_idx, session_start,
    * session_end, n_events, sum_value)` with timestamps rendered as
    * microsecond strings (the cross-engine-stable form).
    */
  def sessions(df: DataFrame): DataFrame = {
    val order = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(order)
    val isNew = when(prev.isNull || us - prev > gapUs, 1L).otherwise(0L)
    df.select(col(userCol), col(tsCol), col(eventIdCol), col(valueCol))
      .withColumn("session_idx", sum(isNew).over(running))
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
  }

  /** DuckDB twin over `table` (identical lag + running-sum windows). */
  def sql(table: String): String =
    s"""WITH mk AS (SELECT $userCol, $tsCol, $eventIdCol, $valueCol,
       |    CASE WHEN lag(epoch_us($tsCol)) OVER w IS NULL
       |           OR epoch_us($tsCol) - lag(epoch_us($tsCol)) OVER w > $gapUs
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM $table
       |  WINDOW w AS (PARTITION BY $userCol ORDER BY $tsCol, $eventIdCol)),
       |sid AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY $userCol ORDER BY $tsCol, $eventIdCol
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM mk)
       |SELECT $userCol, session_idx,
       |  strftime(min($tsCol), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       |  strftime(max($tsCol), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       |  count(*) AS n_events, round(sum($valueCol), 2) AS sum_value
       |FROM sid GROUP BY 1, 2""".stripMargin
}
