package graft

import graft.core.{Operator, RowFilter, Staging}
import graft.metrics.{MeteredPipeline, MetricsRollup, MetricsWriter, OperatorCounts}
import graft.operators.dedup.TextExactDedup
import graft.operators.text.TextLengthFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Metrics machinery: observe-based counts against independent count()
  * ground truth, fused-vs-timed mode agreement, rollup algebra edge
  * cases, and W3 writer schema fidelity.
  */
class MetricsSpec extends ScopedSuite {
  import TestSpark._

  private def mkPipeline = new MeteredPipeline("test_stage", Seq(
    new TextLengthFilter(minLength = 100, maxLength = Some(400),
      textCol = "text", lengthCol = Some("n_chars")),
    TextExactDedup(textCol = "text", idCol = "doc_id", orderCol = "doc_id")))

  test("observe counts equal independently computed counts (single pass)") {
    val docs = table("documents")
    val (counts, stage) = mkPipeline.run(docs)
    val f = new TextLengthFilter(minLength = 100, maxLength = Some(400),
      textCol = "text", lengthCol = Some("n_chars"))
    val afterFilter = f(docs)
    val afterDedup = TextExactDedup(textCol = "text", idCol = "doc_id", orderCol = "doc_id")(afterFilter)
    assert(counts.map(c => (c.input, c.output)) == Seq(
      (docs.count(), afterFilter.count()),
      (afterFilter.count(), afterDedup.count())))
    assert(stage.input == docs.count() && stage.output == afterDedup.count())
  }

  test("timedRun counts agree with fused run; times are attributed") {
    val docs = table("documents")
    val (fused, _) = mkPipeline.run(docs)
    val (out, timed, _) = mkPipeline.timedRunThrough(docs)
    Staging.release(out)
    assert(fused.map(c => (c.name, c.input, c.output)) ==
      timed.map(c => (c.name, c.input, c.output)))
    assert(timed.forall(_.timeSec > 0.0))
  }

  test("timedRun charges each operator only for its own work") {
    // ~1 s of per-row sleep in the first operator; the filter after it
    // must not be charged for re-running it
    val slow = udf { (id: Long) => Thread.sleep(10); id }
    val expensive = new Operator {
      val name = "expensive"
      def apply(df: DataFrame) = df.withColumn("slow", slow(col("id")))
    }
    val cheap = new RowFilter {
      val name = "cheap"
      def keep(df: DataFrame) = col("slow") % 2 === 0
    }
    val input = spark.range(0, 100, 1, 1).toDF("id")
    val before = Staging.liveCount
    val (out, cs, _) = new MeteredPipeline("attr", Seq(expensive, cheap))
      .timedRunThrough(input)
    // only the returned last stage is still staged
    assert(Staging.liveCount == before + 1, "timedRun leaked a staged boundary")
    Staging.release(out)
    assert(cs.map(c => (c.name, c.input, c.output)) ==
      Seq(("expensive", 100L, 100L), ("cheap", 100L, 50L)))
    assert(cs.head.timeSec >= 0.9, s"expensive op read ${cs.head.timeSec} s")
    assert(cs(1).timeSec < cs.head.timeSec / 3,
      s"cheap op charged ${cs(1).timeSec} s after a ${cs.head.timeSec} s op")
    assert(Staging.liveCount == before, "timedRun leaked a staged frame")
  }

  test("rollup algebra: first-in/last-out, guarded pass rates, max time") {
    val cs = Seq(
      OperatorCounts(0, "a", 100, 80, 2.0),
      OperatorCounts(1, "b", 80, 80, 5.0),
      OperatorCounts(2, "c", 80, 40, 1.0))
    val s = MetricsRollup.stage("s", cs)
    assert(s.input == 100 && s.output == 40 && s.timeSec == 5.0)
    assert(s.passRate == 40.0)
    val empty = MetricsRollup.stage("e", Nil)
    assert(empty.input == 0 && empty.passRate == 0.0)
    val run = MetricsRollup.run("r", Seq(s, MetricsRollup.stage("s2",
      Seq(OperatorCounts(0, "d", 40, 10, 1.0)))), durationSec = 2.0)
    assert(run.input == 100 && run.output == 10 && run.passRate == 10.0)
    assert(run.avgThroughput == 50.0)
  }

  test("W3 writer emits runs/stages/operators with the reference schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    val (_, stage) = mkPipeline.run(table("documents"))
    val run = MetricsRollup.run(MetricsWriter.newRunId(), Seq(stage), 1.5)
    MetricsWriter.write(spark, run, dir, configJson = """{"pipeline":"test"}""")
    val ops = spark.read.parquet(s"$dir/operators")
    val stages = spark.read.parquet(s"$dir/stages")
    val runs = spark.read.parquet(s"$dir/runs")
    assert(ops.schema == MetricsWriter.operatorSchema)
    assert(stages.schema == MetricsWriter.stageSchema)
    assert(runs.schema == MetricsWriter.runSchema)
    assert(ops.count() == 2 && stages.count() == 1 && runs.count() == 1)
    val r = runs.select(col("total_input_records"), col("total_output_records"),
      col("num_stages")).head()
    assert(r.getLong(0) == stage.input && r.getLong(1) == stage.output && r.getLong(2) == 1L)

    // a second run appends one more file per dataset
    val run2 = MetricsRollup.run(MetricsWriter.newRunId(), Seq(stage), 2.5)
    MetricsWriter.write(spark, run2, dir)
    val runs2 = spark.read.parquet(s"$dir/runs")
    assert(runs2.select("run_id").collect().map(_.getString(0)).toSet ==
      Set(run.runId, run2.runId))
    assert(spark.read.parquet(s"$dir/operators").count() == 4)
    assert(spark.read.parquet(s"$dir/stages").count() == 2)

    // the commit leaves no hidden temp file (nor its checksum) behind
    val names = Seq("runs", "stages", "operators")
      .flatMap(d => new java.io.File(s"$dir/$d").listFiles().map(_.getName))
    assert(!names.exists(n => n.startsWith("_") || n.startsWith("._")), names)
    assert(names.count(_.startsWith("part-")) == 6, names)

    // a partial file left by a crash mid-commit keeps its hidden name
    // and is never read
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$dir/runs/_part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"),
      "not parquet".getBytes("UTF-8"))
    assert(spark.read.parquet(s"$dir/runs").count() == 2)

    // values round-trip: microsecond timestamps, NULLs, derived rates
    val rt = java.nio.file.Files.createTempDirectory("graft_metrics_rt").toString
    val at = java.sql.Timestamp.valueOf("2026-03-04 05:06:07.123456")
    val rtRun = MetricsRollup.run("run_rt", Seq(MetricsRollup.stage("s",
      Seq(OperatorCounts(0, "a", 100, 80, 2.0), OperatorCounts(1, "b", 80, 40, 0.0)))), 4.0)
    MetricsWriter.writeFile(spark, s"$rt/operators", MetricsWriter.operatorSchema,
      MetricsWriter.operatorRows(rtRun, at))
    MetricsWriter.write(spark, rtRun, rt, configJson = """{"k":1}""")
    val rtOps = spark.read.parquet(s"$rt/operators")
      .filter(col("timestamp") === lit(at)).orderBy("operator_name").collect()
    assert(rtOps.map(_.getString(2)).toSeq == Seq("a", "b"))
    assert(rtOps.forall(_.getTimestamp(4) == at))
    assert(rtOps.forall(_.isNullAt(17)))
    assert(rtOps.map(_.getDouble(15)).toSeq == Seq(50.0, 0.0)) // throughput = in / time
    assert(rtOps.head.getDouble(7) == 80.0 && rtOps.head.getLong(5) == 100L)
    val rr = spark.read.parquet(s"$rt/runs").head()
    assert(rr.getString(0) == "run_rt" && rr.getTimestamp(1) == rr.getTimestamp(2))
    assert(rr.getDouble(3) == 4.0 && rr.getDouble(8) == 25.0 && rr.getString(10) == """{"k":1}""")
    val st = spark.read.parquet(s"$rt/stages").head()
    assert(st.getLong(4) == 100L && st.getLong(5) == 40L && st.getDouble(7) == 2.0)
    assert(st.getDouble(8) == 50.0 && st.getDouble(9) == 50.0 && st.getDouble(10) == 50.0)
  }
}
