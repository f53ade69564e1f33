package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Rejection provenance envelope.
  *
  * Mirrors the reference's `_rejection_details` record annotation
  * (reference: mega_data_factory/framework/operator.py:259-262,345-353):
  * `{reason: "filtered"|"duplicate", operator, dedup_key?, representative_id?}`.
  */
object Rejection {
  val ColName = "_rejection_details"

  /** The envelope's type: four strings, all nullable. */
  val DetailsType: StructType = StructType(
    Seq("reason", "operator", "dedup_key", "representative_id")
      .map(StructField(_, StringType, nullable = true)))

  def filtered(op: String): Column = struct(
    lit("filtered").as("reason"),
    lit(op).as("operator"),
    lit(null).cast("string").as("dedup_key"),
    lit(null).cast("string").as("representative_id"))

  def duplicate(op: String, dedupKey: Column, representativeId: Column): Column = struct(
    lit("duplicate").as("reason"),
    lit(op).as("operator"),
    dedupKey.cast("string").as("dedup_key"),
    representativeId.cast("string").as("representative_id"))
}

/** A dataflow operator: `DataFrame => DataFrame`, fully declarative so
  * Catalyst can fuse chains into whole-stage codegen (the reference fuses
  * manually via CombinedOperator, framework/operator.py:385-430 — Spark
  * does this for free).
  */
trait Operator {
  def name: String
  def apply(df: DataFrame): DataFrame

  /** Disposition-mode apply: `alive` is the chain's survival flag.
    * Operators with expensive per-row work (decode, inference) override
    * this to gate that work with `when(alive, …)` — a row rejected
    * upstream never reached this operator in the sequential chain, so
    * skipping it both restores sequential semantics (null enrichment on
    * rejects) and avoids the compute; CaseWhen short-circuits per row in
    * interpreted and codegen paths alike. Default: ungated.
    */
  def applyGated(df: DataFrame, alive: Column): DataFrame = apply(df)
}

/** Adds columns, never drops rows (reference Refiner,
  * framework/operator.py:206-223). `added` returns (columnName, expression)
  * pairs; expressions must be total (decode/parse failures yield defaults,
  * never throw — reference behavior, e.g. image_metadata.py:49-53).
  */
trait Refiner extends Operator {
  def added(df: DataFrame): Seq[(String, Column)]
  final def apply(df: DataFrame): DataFrame =
    added(df).foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
}

/** Mark-don't-drop result of one [[RejectingOperator]]: `stillAlive` is
  * the operator's drop rule as a flag local to this operator (false on
  * the rows it drops; the chain ANDs it with the accumulated alive
  * flag), `details` is the provenance struct to stamp on the rows it
  * drops, and `internalCols` are scratch columns the chain drops after
  * consuming the flag expressions.
  */
final case class Marked(
    df: DataFrame,
    stillAlive: Column,
    details: Column,
    internalCols: Seq[String] = Nil)

/** Any operator that drops rows and can produce the annotated complement
  * (§2.8 of SURVEY.md) — filters, window dedups, and the pairwise
  * near-dup family all route their rejects through this. `mark` is the
  * one place an operator states which rows it drops; `rejected` is
  * derived from it.
  */
trait RejectingOperator extends Operator {
  /** The drop rule: mark rows instead of dropping them, so passed AND
    * every operator's rejects come out of ONE scan (the runner's
    * single-pass reject routing). `alive` is the accumulated survival
    * flag — only alive rows may compete or be rejected; `tag`
    * uniquifies any scratch columns. With every row alive, `apply`
    * keeps exactly the rows marked `stillAlive`.
    */
  def mark(df: DataFrame, alive: Column, tag: String): Marked

  /** The rows `apply` drops, annotated with `_rejection_details`: `mark`
    * with every row alive, filtered to the rows it drops. Columns are
    * the input's, in input order, then `_rejection_details`.
    */
  final def rejected(df: DataFrame): DataFrame = {
    val m = mark(df, lit(true), "_rej")
    val inputCols = df.columns.filterNot(_ == Rejection.ColName)
      .map(c => col("`" + c.replace("`", "``") + "`"))
    m.df.filter(!m.stillAlive).select(inputCols :+ m.details.as(Rejection.ColName): _*)
  }
}

/** Keeps rows matching a predicate (reference Filter,
  * framework/operator.py:226-238).
  */
trait RowFilter extends RejectingOperator {
  def keep(df: DataFrame): Column
  final def apply(df: DataFrame): DataFrame = df.filter(keep(df))

  final def mark(df: DataFrame, alive: Column, tag: String): Marked =
    Marked(df, keep(df), Rejection.filtered(name))
}

/** Global first-wins deduplication (reference Deduplicator +
  * bucketed-set-actor backend, framework/operator.py:271-382,
  * framework/backend.py:77-226).
  *
  * Spark mapping: the hash-partitioned shuffle on the dedup key IS the
  * reference's bucketed distributed state (16→10,000 buckets for 1B→100B
  * keys, backend.py:83-88 — here `spark.sql.shuffle.partitions` plays that
  * role and AQE resizes it at runtime). `row_number` over
  * (key, explicit arrival order) gives deterministic first-wins; the
  * reference's arrival order is racy under parallel loaders, ours is
  * reproducible (SURVEY.md §7.4, intentional upgrade).
  *
  * Scale note (100 TB): the key should be a fixed-width hash (64-bit long),
  * never raw text, so shuffle volume stays bounded; pass a hashed key
  * expression. Skewed keys (e.g. empty text) are handled by AQE skew-join /
  * partition splitting.
  */
trait Deduplicator extends RejectingOperator {
  /** Dedup key per row — first row (by `order`) with a given key wins. */
  def key(df: DataFrame): Column
  /** Arrival-order column (deterministic total order, e.g. a source id). */
  def order(df: DataFrame): Column
  /** Id of the row, recorded on rejects as `representative_id` of the kept row. */
  def representative(df: DataFrame): Column

  final def apply(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("_dedup_key")).orderBy(col("_dedup_order"))
    df.withColumn("_dedup_key", key(df))
      .withColumn("_dedup_order", order(df))
      .withColumn("_dedup_rn", row_number().over(w))
      .filter(col("_dedup_rn") === 1)
      .drop("_dedup_key", "_dedup_order", "_dedup_rn")
  }

  /** Dead rows stay in the frame, so the first-wins window sorts alive
    * rows first — the winner is the first ALIVE row by arrival order,
    * exactly the sequential semantics where rows rejected upstream never
    * reached this operator. Rejects carry the key and the winner's
    * `representative`.
    */
  final def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val aC = s"_dal$tag"; val kC = s"_dk$tag"; val oC = s"_do$tag"
    val rnC = s"_drn$tag"; val repC = s"_drep$tag"; val repSrcC = s"_dreps$tag"
    var d = df.withColumn(aC, alive)
    d = d.withColumn(kC, key(d)).withColumn(oC, order(d))
      .withColumn(repSrcC, representative(d))
    val w = Window.partitionBy(col(kC)).orderBy(col(aC).desc, col(oC))
    d = d.withColumn(rnC, row_number().over(w))
      .withColumn(repC, first(col(repSrcC)).over(w))
    Marked(d, col(rnC) === 1,
      Rejection.duplicate(name, col(kC), col(repC)),
      Seq(aC, kC, oC, rnC, repC, repSrcC))
  }
}

/** The pairwise drop-set dedup family (MinHash LSH, n-gram Jaccard and
  * containment, SimHash-near, embedding-cosine, probed cosine, image
  * phash-near): an operator states only its verified duplicate pairs
  * `(d1, d2)`, `d1 < d2`, over `idCol`. Every `d2` is dropped, with the
  * smallest `d1` it pairs with as its representative.
  */
trait PairwiseDedup extends RejectingOperator {
  def idCol: String
  def verifiedPairs(df: DataFrame): DataFrame

  final def apply(df: DataFrame): DataFrame =
    df.join(verifiedPairs(df).select(col("d2").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Duplicate pairs are computed over the ALIVE subset only — rows
    * rejected upstream never compete, exactly the sequential semantics —
    * then one left join stamps the representative back onto the chain.
    */
  final def mark(df: DataFrame, alive: Column, tag: String): Marked = {
    val repC = s"_prep$tag"
    val reps = verifiedPairs(df.filter(alive)).groupBy(col("d2"))
      .agg(min(col("d1")).as(repC))
      .withColumnRenamed("d2", idCol)
    val d = df.join(reps, Seq(idCol), "left")
    Marked(d, col(repC).isNull,
      Rejection.duplicate(name, lit(null).cast("string"), col(repC)), Seq(repC))
  }
}

/** Single-pass reject disposition (SURVEY.md §2.8's own disposition): the
  * chain carries an alive flag plus the FIRST rejecting operator's
  * provenance instead of dropping rows, so the passed output and every
  * operator's annotated rejects are two filters over one lineage — one
  * source scan total. The reference replays the chain per stage
  * (framework/executor.py:100-124); at 100 TB that multiplies full scans
  * by the stage count, which is the one scale-killer this avoids.
  */
object Disposition {
  val AliveCol = "_graft_alive"

  def init(df: DataFrame): DataFrame =
    df.withColumn(AliveCol, lit(true))
      .withColumn(Rejection.ColName, lit(null).cast(Rejection.DetailsType))

  /** Apply one operator in mark-don't-drop mode. Rejecting operators
    * only update flags for currently-alive rows. Refiner columns are
    * guarded with `when(alive, …)` — a row rejected upstream never
    * reached this refiner in the sequential chain, so its enrichment is
    * null AND the (possibly decode/inference-heavy) expression is never
    * evaluated for dead rows; CaseWhen short-circuits per row in both
    * interpreted and codegen paths.
    */
  def step(df: DataFrame, op: Operator, tag: String): DataFrame = op match {
    case r: RejectingOperator =>
      val m = r.mark(df, col(AliveCol), tag)
      m.df.withColumns(Map(
        Rejection.ColName -> when(col(AliveCol) && !m.stillAlive, m.details)
          .otherwise(col(Rejection.ColName)),
        AliveCol -> (col(AliveCol) && m.stillAlive)))
        .drop(m.internalCols: _*)
    case r: Refiner =>
      r.added(df).foldLeft(df) { case (d, (n, c)) =>
        d.withColumn(n, when(col(AliveCol), c))
      }
    case o => o.applyGated(df, col(AliveCol))
  }

  /** The surviving rows, with disposition scaffolding removed. */
  def passed(df: DataFrame): DataFrame =
    df.filter(col(AliveCol)).drop(AliveCol, Rejection.ColName)

  /** Every operator's annotated complement in one frame (route it with a
    * single write partitioned by `_rejection_details.operator`).
    */
  def rejected(df: DataFrame): DataFrame =
    df.filter(!col(AliveCol)).drop(AliveCol)
}

