package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._

/** S2/S3 gate: the WARC loader + HTML extractor run end-to-end over an
  * archive GENERATED from the documents fixture (each doc wrapped in a
  * minimal HTML page inside an HTTP response record), and the DuckDB twin
  * predicts the extractor's exact output from the wrapper's algebra: the
  * body paragraph becomes one whitespace-collapsed line (the title is
  * its own field, never part of `text`), records keep only ≥100-char
  * HTML bodies and ≥50-char extractions. Fixture text is verified ASCII
  * with no markup characters, so no entity/tag edge cases apply.
  */
object WarcQueries {

  private val htmlOverhead =
    "<html><head><title>".length + "</title></head><body><p>".length + "</p></body></html>".length

  /** Build the WARC archive bytes from (doc_id, text) pairs. */
  private[queries] def buildWarc(docs: Seq[(Long, String)]): Array[Byte] = {
    val sb = new StringBuilder
    docs.foreach { case (id, text) =>
      val collapsed = Option(text).getOrElse("").replaceAll("\\s+", " ").trim
      val html = s"<html><head><title>t$id</title></head><body><p>$collapsed</p></body></html>"
      val payload = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
      sb ++= s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://fixture/$id\r\n"
      sb ++= s"WARC-Date: 2024-12-01T00:00:00Z\r\nContent-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n"
      sb ++= payload
      sb ++= "\r\n\r\n"
    }
    sb.toString.getBytes("UTF-8")
  }

  /** Shard count for the generated archive: one WARC file per shard, so
    * the `format("warc")` scan gets that many tasks. (The
    * r9 form collected the whole table driver-side into ONE file — a
    * zero-parallelism scan and the repo's only full-table collect; it
    * swung 0.77 s → 37 s under host contention in the driver bench.)
    */
  private val NumShards = 16

  /** Materialize the fixture archive for `dir` ONCE (atomic publish,
    * reused across bench reps and Verify runs): each task writes its own
    * shard file from a distributed `foreachPartition` — doc rows never
    * visit the driver. Record order inside a shard is made deterministic
    * by sorting on doc_id within partitions; the gate's final
    * `ORDER BY url` makes shard assignment irrelevant to the result.
    */
  private[queries] def fixtureDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val key = Integer.toHexString(dir.hashCode)
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_warc_fixture_$key")
    if (!java.nio.file.Files.isDirectory(out)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_warc_build")
      val tmpStr = tmp.toString
      Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(NumShards, pmod(col("doc_id"), lit(NumShards)))
        .sortWithinPartitions(col("doc_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val rows = it.map(r =>
            (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
          if (rows.nonEmpty) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmpStr, f"shard-$pid%05d.warc"),
              buildWarc(rows))
            ()
          }
        }
      try java.nio.file.Files.move(tmp, out,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // lost the publish race: another run's fixture is in place
        case _: java.nio.file.FileAlreadyExistsException
           | _: java.nio.file.DirectoryNotEmptyException => ()
      }
    }
    out.toString
  }

  val queries: Seq[OracleQuery] = Seq(
    OracleQuery("warc_extract",
      (s, dir) =>
        s.read.format("warc").option("crawl_id", "CC-FIX").load(fixtureDir(s, dir))
          .select(col("url"), col("text"), col("text_length"))
          .orderBy(col("url")),
      Some(s"""WITH c AS (SELECT doc_id,
              |    trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS ct
              |  FROM documents),
              |e AS (SELECT 'http://fixture/' || CAST(doc_id AS VARCHAR) AS url, ct AS text
              |  FROM c
              |  WHERE $htmlOverhead + length('t' || CAST(doc_id AS VARCHAR)) + length(ct) >= 100)
              |SELECT url, text, CAST(length(text) AS BIGINT) AS text_length
              |FROM e WHERE length(text) >= 50
              |ORDER BY url""".stripMargin)),

    OracleQuery("html_outlinks",
      // S3 → graph bridge: href targets pulled from page HTML (builtin
      // regexp, no UDF), reduced to hosts, aggregated into the weighted
      // host→host edge list that seeds domain link-authority. Pages are
      // the documents fixture wrapped with doc_id-deterministic anchors
      // (two absolute links + one relative link that must be dropped),
      // so the oracle can rebuild the identical pages in SQL.
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val to1 = concat(lit("https://src"),
          pmod(col("doc_id") * 7 + 1, lit(20)).cast("string"),
          lit(".example.com/p"), pmod(col("doc_id"), lit(100)).cast("string"))
        val to2 = concat(lit("https://src"),
          pmod(col("doc_id") * 13 + 3, lit(20)).cast("string"),
          lit(".example.com/p"), pmod(col("doc_id") * 3, lit(100)).cast("string"))
        val pages = d.select(
          concat(col("source"), lit(".example.com")).as("src_host"),
          concat(lit("<p>body</p><a href=\""), to1,
            lit("\">a</a><a href=\""), to2,
            lit("\">b</a><a href=\"/relative/skip\">c</a>")).as("html"))
        graft.operators.text.OutlinkGraph.edges(pages, "html", "src_host")
          .orderBy(col("src_host"), col("dst_host"))
      },
      Some {
        // NB: no line of the pages SQL may start with `||` — the
        // composing templates' stripMargin would eat one pipe
        val pagesSql =
          """SELECT source || '.example.com' AS src_host,
            |  '<p>body</p><a href="https://src' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR) ||
            |  '.example.com/p' || CAST(doc_id % 100 AS VARCHAR) ||
            |  '">a</a><a href="https://src' || CAST((doc_id * 13 + 3) % 20 AS VARCHAR) ||
            |  '.example.com/p' || CAST((doc_id * 3) % 100 AS VARCHAR) ||
            |  '">b</a><a href="/relative/skip">c</a>' AS html
            |FROM documents""".stripMargin
        s"SELECT * FROM (${graft.operators.text.OutlinkGraph.edgesSql(pagesSql)})\n" +
          "ORDER BY src_host, dst_host"
      }))
}
