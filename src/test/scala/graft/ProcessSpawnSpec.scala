package graft

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.io.{LocalFs, ParquetDataWriter}
import graft.metrics.{MetricsRollup, MetricsWriter, OperatorCounts}
import graft.runner.ResumeManifest
import graft.streaming.StreamingCuration
import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.streaming.Trigger

/** Local writes start no child process: the session's `file` scheme is
  * [[graft.io.LocalFs]], so neither a created path (`chmod`) nor a
  * `FileContext` rename (`readlink`) forks. Each workload runs inside an
  * in-process JFR recording of `jdk.ProcessStart` only, and must record
  * none; a failure prints every recorded spawn with its stack.
  */
class ProcessSpawnSpec extends ScopedSuite {
  import TestSpark._

  /** The `jdk.ProcessStart` events recorded while `body` runs. The
    * executor heartbeater's first beat runs `getconf PAGESIZE` once per
    * JVM (`ProcfsMetricsGetter`'s initializer), off any write path; it
    * is run before recording, so it cannot land in a workload's window.
    */
  private def spawnsDuring(body: => Unit): Seq[RecordedEvent] = {
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true, getClass.getClassLoader)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_spawns", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.toSeq
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  private def describe(events: Seq[RecordedEvent]): String =
    s"${events.size} process spawn(s):\n" + events.map { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
      val thread = Option(e.getThread).map(_.getJavaName).getOrElse("?")
      (s"  `${e.getString("command")}` on $thread" +: frames.map { fr =>
        s"      at ${fr.getMethod.getType.getName}.${fr.getMethod.getName}:${fr.getLineNumber}"
      }).mkString("\n")
    }.mkString("\n")

  test("the session's file scheme is the engine filesystem, for FileSystem and FileContext") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[LocalFs])
    assert(FileSystem.get(new URI("file:///"), spark.sessionState.newHadoopConf())
      .getClass == classOf[LocalFs])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass ==
      classOf[LocalFs.Checksummed])
  }

  test("a partitioned parquet write, the metrics sink and the resume manifest spawn no process") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_spawn_write")
    val docs = (0 until 60).map(i => (i.toLong, s"doc $i text", Seq("en", "de", "fr")(i % 3)))
      .toDF("id", "text", "lang")
    val stage = MetricsRollup.stage("s", Seq(OperatorCounts(0, "a", 60, 40, 0.5)))
    val run = MetricsRollup.run(MetricsWriter.newRunId(), Seq(stage), 0.5)
    val events = spawnsDuring {
      new ParquetDataWriter(base.resolve("out").toString, "docs", partitionBy = Some("lang"))
        .write(docs)
      MetricsWriter.write(spark, run, base.resolve("metrics").toString)
      ResumeManifest.record(spark, base.resolve("resume").toString, Seq("file:/in/a.parquet"))
    }
    if (events.nonEmpty) fail(describe(events))
    // the writes happened: three partitions, three metrics datasets, one manifest entry
    assert(spark.read.parquet(base.resolve("out/docs").toString).count() == 60)
    assert(Seq("runs", "stages", "operators").forall(d =>
      spark.read.parquet(base.resolve(s"metrics/$d").toString).count() >= 1))
    assert(ResumeManifest.processed(spark, base.resolve("resume").toString) ==
      Set("file:/in/a.parquet"))
  }

  test("two AvailableNow triggers of the streaming near-dedup with a checkpoint spawn no process") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_spawn_stream")
    val src = Files.createDirectories(base.resolve("src"))
    val shards = Seq(
      Seq("a1" -> "the quick brown fox jumps over the lazy dog near the wide river bank today",
        "b1" -> "an entirely different document about catalyst trees and shuffle exchanges"),
      Seq("a2" -> "the quick brown fox jumps over the lazy dog near the wide river bank",
        "c1" -> "measuring tokenizer throughput across byte pair encodings and corpora"))
    for ((rows, i) <- shards.zipWithIndex) {
      val stageDir = base.resolve(s"stage$i").toString
      rows.toDF("id", "text").coalesce(1).write.parquet(stageDir)
      val part = new java.io.File(stageDir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(s"shard$i.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = spark.read.parquet(src.toString).schema
    var triggers = 0
    val events = spawnsDuring {
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src.toString)
      val q = StreamingCuration.nearDedupForeachBatch(stream, base.resolve("out").toString,
          base.resolve("prior").toString, textCol = "text", idCol = "id", threshold = 0.7)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      triggers = q.recentProgress.count(_.numInputRows > 0)
    }
    assert(triggers == 2)
    if (events.nonEmpty) fail(describe(events))
    val kept = spark.read.parquet(base.resolve("out").toString).select("id").as[String]
      .collect().toSet
    assert(kept == Set("a1", "b1", "c1"), s"got $kept")
  }
}
