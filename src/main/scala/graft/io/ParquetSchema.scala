package graft.io

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet schemas read on the driver. `spark.read.parquet` infers its
  * schema in a one-task Spark job that reads one footer; for a small
  * read that job is most of the fixed cost. [[read]] reads the same
  * footer directly and converts it with Spark's own converter, so the
  * read it gives has the schema inference would have produced.
  */
object ParquetSchema {

  /** The leaf files `df`'s file source lists — its file index, no job.
    * Empty when `df` reads no file source.
    */
  private def files(df: DataFrame): Seq[FileStatus] =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRelation => r.relation }
      .collect { case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) =>
        i.allFiles() }
      .getOrElse(Nil)

  /** The data schema Spark's inference reads for `files` when schemas are
    * not merged (`ParquetUtils.inferSchema`): a `_common_metadata`
    * summary, else a `_metadata` summary, else the first data file by
    * path. Its footer is converted as inference converts it
    * (`ParquetFileFormat.readSchemaFromFooter`): the Spark row-metadata
    * key when present, else the Parquet schema through a converter built
    * from the session conf (binary-as-string, INT96, nanos-as-long).
    * None when `files` is empty.
    */
  private def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val sorted = files.sortBy(_.getPath.toString)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
      .map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** `spark.read.parquet(paths)` without the schema-inference job: list
    * the files (partition columns are discovered from the paths as
    * usual), read [[footerSchema]], then load with it. With schema
    * merging on, or no file to read, this is the plain read.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val merge = spark.sessionState.conf.isParquetSchemaMergingEnabled
    val schema =
      if (merge) None
      else footerSchema(spark, files(spark.read.schema(new StructType()).parquet(paths: _*)))
    schema.fold(spark.read.parquet(paths: _*))(s => spark.read.schema(s).parquet(paths: _*))
  }
}
