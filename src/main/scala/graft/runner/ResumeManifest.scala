package graft.runner

import graft.io.DriverCommit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Batch checkpoint/resume at INPUT-FILE granularity — the capability of
  * the reference's shard resume (huggingface_loader.py:96-124, skip-N
  * within a shard), mapped to Spark's unit of batch work: a run records
  * which source files it fully processed and committed; a resumed run
  * plans only the remaining files, so `output(append) ∪ manifest` makes
  * kill-and-resume equal a one-shot run. Dedup state does not carry
  * across runs; cross-increment dedup is
  * [[graft.streaming.StreamingCuration.nearDedupForeachBatch]], whose
  * epoch-store prior carries it between triggers.
  *
  * Layout: `{path}/processed/part-*.txt`, one absolute file URI per
  * line. Each successful run commits ONE part via a hidden temp file +
  * rename ([[DriverCommit]]), so a crash mid-commit leaves either
  * no manifest entry (files reprocessed — appends are idempotent per
  * file set because the whole file list commits together) or a complete
  * one.
  */
object ResumeManifest {

  private def dir(base: String) = new Path(base, "processed")

  /** Source files already committed by previous runs. */
  def processed(spark: SparkSession, base: String): Set[String] = {
    val fs = dir(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir(base))) Set.empty
    else {
      val parts = fs.listStatus(dir(base)).filter(_.getPath.getName.startsWith("part-"))
      parts.flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
        finally in.close()
      }.filter(_.nonEmpty).toSet
    }
  }

  /** Commit `files` as processed ([[DriverCommit]]: hidden temp write +
    * rename; a failed rename throws, so the run fails instead of
    * reporting success without its manifest entry).
    */
  def record(spark: SparkSession, base: String, files: Seq[String]): Unit = {
    if (files.isEmpty) return
    val d = dir(base)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DriverCommit.commit(fs, d, s"part-${java.util.UUID.randomUUID().toString}.txt") { tmp =>
      val out = fs.create(tmp, true)
      try out.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
    }
  }
}
