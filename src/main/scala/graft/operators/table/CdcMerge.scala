package graft.operators.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture maintenance for incrementally-updated snapshots —
  * the table-side twin of the incremental dedup family. The reference
  * pipeline re-materializes curated corpora from scratch each run; at
  * 100 TB the economical shape is a base snapshot plus a CDC feed of
  * (key, op, payload) changes folded in per batch, which is exactly the
  * MERGE INTO semantics lakehouse tables expose (see
  * /root/reference/mega_data_factory/writers/iceberg_writer.py:118-143 —
  * the reference targets Iceberg but only ever appends; this operator
  * supplies the upsert/delete half).
  *
  * Scale shape: `latest` collapses the feed with ONE key-shuffle of a
  * single struct per key per map partition (`max_by` partial-aggregates
  * map-side — no window, no full-feed sort); `merge` is then one
  * key-equi full-outer join, co-located (zero exchange) when the base
  * lives in a table bucketed on the key (`bucketBy` + `saveAsTable`).
  */
final class CdcMerge(
    keyCol: String,
    tsCol: String,
    seqCol: String,
    opCol: String,
    deleteOp: String,
    payloadCol: String) {

  /** Latest change per key, (ts, seq)-ordered — the netted feed:
    * `(key, op, payload)` with exactly one row per changed key.
    */
  def latest(changes: DataFrame): DataFrame =
    changes
      .groupBy(col(keyCol))
      .agg(max_by(
        struct(col(opCol).as("op"), col(payloadCol).as("payload")),
        struct(col(tsCol), col(seqCol))).as("c"))
      .select(col(keyCol), col("c.op").as("op"), col("c.payload").as("payload"))

  /** MERGE the netted feed into `base` (keyed `keyCol`, value
    * `baseValueCol`): latest delete removes the row, latest upsert sets
    * the value (inserting the key if absent), untouched base rows pass
    * through. Returns `(key, value, change_status)` with status one of
    * `insert | update | unchanged`.
    */
  def merge(base: DataFrame, changes: DataFrame, baseValueCol: String): DataFrame = {
    val net = latest(changes)
      .select(col(keyCol).as("_ck"), col("op"), col("payload"))
    val joined = base.join(net, col(keyCol) === col("_ck"), "full_outer")
    joined
      .where(col("op").isNull || col("op") =!= deleteOp)
      .select(
        coalesce(col(keyCol), col("_ck")).as(keyCol),
        coalesce(col("payload"), col(baseValueCol)).as("value"),
        when(col(keyCol).isNull, lit("insert"))
          .when(col("_ck").isNull, lit("unchanged"))
          .otherwise(lit("update")).as("change_status"))
  }

  /** SCD2 history of the tracked `payloadCol` per key: consecutive
    * equal values compress to one version; each version is valid
    * `[valid_from_us, valid_to_us)` with the open (current) version
    * carrying null `valid_to_us`. Two per-key windows over one
    * key-shuffle (the change filter preserves the partitioning, so the
    * lead() pass reuses the exchange).
    */
  def scd2(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val changed = changes
      .withColumn("_prev", lag(col(payloadCol), 1).over(w))
      .where(col("_prev").isNull || col("_prev") =!= col(payloadCol))
    val w2 = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    changed
      .select(
        col(keyCol),
        col(payloadCol).as("value"),
        unix_micros(col(tsCol)).as("valid_from_us"),
        lead(unix_micros(col(tsCol)), 1).over(w2).as("valid_to_us"))
      .withColumn("is_current", col("valid_to_us").isNull)
  }
}
