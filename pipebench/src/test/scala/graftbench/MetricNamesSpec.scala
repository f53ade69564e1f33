package graftbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class MetricNamesSpec extends AnyFunSuite {

  private val all = MetricSpecs.endToEnd ++ MetricSpecs.perLayer

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach(s => assert(s.name.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), s.name))
    assert(all.map(_.name).distinct.size == all.size)
  }

  test("units and directions are well formed") {
    all.foreach { s =>
      assert(s.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), s)
      assert(Set("lower", "higher")(s.better), s)
    }
    assert(MetricSpecs.perLayer.size <= 128)
    assert(MetricSpecs.endToEnd.exists(s => s.name == "setup_s" && s.unit == "s" && s.better == "lower"))
  }

  test("BENCHMARK.json lists exactly the metrics the harness prints") {
    val file = new java.io.File("../BENCHMARK.json")
    assume(file.exists(), "BENCHMARK.json sits at the repository root")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file)
    def specs(key: String) = root.get(key).elements().asScala.map(n =>
      (n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq
    assert(specs("end_to_end") == MetricSpecs.endToEnd.map(s => (s.name, s.unit, s.better)))
    assert(specs("per_layer") == MetricSpecs.perLayer.map(s => (s.name, s.unit, s.better)))
    val workloads = root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    workloads.foreach(w => assert(Workloads.all.exists(_.name == w), w))
  }

  test("jobs are attributed to the module of their first engine frame") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:3500)",
      "graft.core.Staging$.stage(Staging.scala:62)",
      "graft.operators.dedup.MinHashLSHDedup.apply(MinHashLSHDedup.scala:120)",
      "graftbench.Main$.run(Main.scala:10)").mkString("\n")
    assert(Layers.attribute(site) == ("core", "graft.core.Staging$"))
    val benchOnly = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\ngraftbench.Replay$.run(Replay.scala:3)"
    assert(Layers.attribute(benchOnly) == ("spark", ""))
    assert(Layers.ofClass("graft.operators.text.C4CleanRefiner") == "operators.text")
    assert(Layers.ofClass("graft.operators.vector.AutoBucketedCosineDedup") == "operators.vector")
    assert(Layers.ofClass("graft.ml.Mlp$") == "operators.ml")
    assert(Layers.ofClass("graft.io.ParquetDataWriter") == "io")
    assert(Layers.ofClass("graft.queries.NearDup$") == "other")
  }

  test("job intervals are merged before they are subtracted from wall time") {
    assert(TraceMetrics.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(TraceMetrics.unionMs(Nil) == 0L)
  }
}
