package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Versioned model snapshots: `<modelDir>/v<N>` children, each holding
  * one parquet dir per table and one marker file that names what the
  * tables were built as (the frozen bigram LM's smoothing, the frozen
  * logreg's feature basis). The one probe and the one marker write both
  * frozen models restart from.
  *
  * Write order: the marker FIRST, then the tables. Adoption is gated on
  * every table's `_SUCCESS`, so a crash after the marker leaves an
  * unadoptable dir (reject and retrain). Marker-last left a window where
  * a reused dir could look complete under a stale or missing marker.
  * Hadoop FS throughout, so the probe works on any store.
  */
object Snapshots {

  /** Write `marker` under `dir` holding `value`, replacing any prior one. */
  def mark(spark: SparkSession, dir: String, marker: String, value: String): Unit = {
    val p = new Path(dir, marker)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(value.getBytes(UTF_8)) finally out.close()
  }

  /** The highest-versioned snapshot under `modelDir` whose every table
    * dir carries `_SUCCESS` and whose `marker` content (trimmed; `None`
    * when the file is absent) `accepts`. `None` when `modelDir` does not
    * exist or no snapshot qualifies.
    */
  def latest(spark: SparkSession, modelDir: String, tables: Seq[String],
      marker: String)(accepts: Option[String] => Boolean): Option[String] = {
    val root = new Path(modelDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      .flatMap { d =>
        val n = d.getName
        if (n.length > 1 && n.head == 'v' && n.drop(1).forall(_.isDigit))
          Some((n.drop(1).toLong, d))
        else None
      }
      .filter { case (_, d) =>
        tables.forall(t => fs.exists(new Path(d, s"$t/_SUCCESS"))) &&
          accepts(read(fs, new Path(d, marker)))
      }
      .sortBy(-_._1).headOption.map(_._2.toString)
  }

  private def read(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }
}
