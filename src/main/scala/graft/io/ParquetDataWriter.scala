package graft.io

import graft.core.Rejection
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** W1: partitioned parquet sink with the reference writer's layout and
  * key semantics (writers/parquet_writer.py:20-162):
  * `{output}/{table}/[{partitionBy}={key}/]part-*.parquet`, where the key
  * comes from a direct column or a dotted `partitionKeyExtractor` path
  * into nested structs (JSON-string columns supported), missing/null →
  * "unknown", and keys are sanitized to `[A-Za-z0-9-_]` (other chars →
  * `_`). Spark's commit protocol supplies unique part files and atomic
  * append (strictly stronger than the reference's timestamp+uuid names).
  *
  * Scale note: `partitionBy` uses Spark's hive-style dynamic partitioning
  * — each task writes only its partitions' files; no driver grouping of
  * records like the reference needs.
  */
final class ParquetDataWriter(
    outputPath: String,
    tableName: String,
    partitionBy: Option[String] = None,
    partitionKeyExtractor: Option[String] = None,
    compression: String = "snappy",
    targetFileMb: Option[Int] = None) {

  private def tablePath = s"$outputPath/$tableName"

  /** Small-files compaction: coalesce the write to
    * `ceil(plan size / targetFileMb)` output tasks. A 100 TB pipeline's
    * default write inherits the shuffle partition count — thousands of
    * KB-scale files per table that grind any metadata layer (HMS,
    * Iceberg manifests, S3 listings); sizing file count from the plan's
    * own size estimate at write time fixes it without a shuffle
    * (`coalesce`, not `repartition`). Estimate source: Catalyst
    * `sizeInBytes` (same stats AQE plans with) — a target, not a
    * guarantee; skew in upstream partitions shifts real file sizes.
    */
  private def compacted(df: DataFrame): DataFrame = targetFileMb match {
    case None => df
    case Some(mb) =>
      require(mb >= 1, s"target_file_mb must be >= 1, got $mb")
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val n = ((bytes + (mb.toLong << 20) - 1) / (mb.toLong << 20)).max(1)
      df.coalesce(n.min(BigInt(10000)).toInt)
  }

  /** Resolve the dotted extractor path against the schema: nested struct
    * fields directly; a string column mid-path is treated as JSON and the
    * remainder extracted with get_json_object (parquet_writer.py:66-86).
    */
  private[io] def keyColumn(df: DataFrame): Column = {
    val raw: Column = partitionKeyExtractor match {
      case None => col(partitionBy.get)
      case Some(path) =>
        val parts = path.split('.')
        def walk(c: Column, t: org.apache.spark.sql.types.DataType, rest: List[String]): Column =
          rest match {
            case Nil => c
            case p :: tail => t match {
              case st: StructType if st.fieldNames.contains(p) =>
                walk(c.getField(p), st(p).dataType, tail)
              case StringType =>
                get_json_object(c, "$." + rest.mkString("."))
              case _ => lit(null).cast("string")
            }
          }
        val head = parts.head
        if (!df.columns.contains(head)) lit(null).cast("string")
        else walk(col(head), df.schema(head).dataType, parts.tail.toList)
    }
    val s = raw.cast("string")
    val sanitized = regexp_replace(s, "[^A-Za-z0-9\\-_]", "_")
    when(s.isNull || s === "", lit("unknown")).otherwise(sanitized)
  }

  def write(df: DataFrame): Unit = partitionBy match {
    case Some(p) =>
      compacted(df.withColumn(p, keyColumn(df)))
        .write.mode("append").option("compression", compression)
        .partitionBy(p).parquet(tablePath)
    case None =>
      compacted(df).write.mode("append")
        .option("compression", compression).parquet(tablePath)
  }

  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.parquet(tablePath)
}

/** Rejected-branch routing (framework/executor.py:100-124): every
  * row-dropping operator's annotated complement goes to
  * `{output}_rejected/{table}_rejected/operator={name}/`, partitioned by
  * the rejecting operator from the provenance struct.
  */
object RejectedWriter {
  /** ALL operators' rejects arrive in one [[graft.core.Disposition]]
    * frame (uniform schema, provenance struct set) — one partitioned
    * append.
    */
  def writeAll(rejected: DataFrame, outputPath: String, tableName: String): Unit =
    new ParquetDataWriter(s"${outputPath}_rejected", s"${tableName}_rejected",
      partitionBy = Some("operator"),
      partitionKeyExtractor = Some(s"${Rejection.ColName}.operator"))
      .write(rejected)
}
