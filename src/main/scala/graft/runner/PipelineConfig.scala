package graft.runner

import scala.jdk.CollectionConverters._

/** Typed view over YAML-parsed params (snakeyaml yields java types). */
final case class Params(m: Map[String, Any]) {
  def str(k: String): Option[String] = m.get(k).map(_.toString)
  def str(k: String, d: String): String = str(k).getOrElse(d)
  def long(k: String): Option[Long] = m.get(k).map(_.asInstanceOf[Number].longValue())
  def long(k: String, d: Long): Long = long(k).getOrElse(d)
  def int(k: String, d: Int): Int = long(k).map(_.toInt).getOrElse(d)
  def double(k: String, d: Double): Double =
    m.get(k).map(_.asInstanceOf[Number].doubleValue()).getOrElse(d)
  def bool(k: String, d: Boolean): Boolean =
    m.get(k).map(_.asInstanceOf[Boolean].booleanValue()).getOrElse(d)
  def strList(k: String): Seq[String] =
    m.get(k).map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq.map(_.toString)).getOrElse(Nil)
  def longMap(k: String): Map[String, Long] = m.get(k) match {
    case Some(jm: java.util.Map[_, _]) =>
      jm.asScala.map { case (kk, vv) =>
        kk.toString -> vv.asInstanceOf[Number].longValue() }.toMap
    case Some(sm: Map[_, _]) =>
      sm.map { case (kk, vv) => kk.toString -> vv.asInstanceOf[Number].longValue() }
    case _ => Map.empty
  }
  def doubleMap(k: String): Map[String, Double] = m.get(k) match {
    case Some(jm: java.util.Map[_, _]) =>
      jm.asScala.map { case (kk, vv) =>
        kk.toString -> vv.asInstanceOf[Number].doubleValue() }.toMap
    case Some(sm: Map[_, _]) =>
      sm.map { case (kk, vv) => kk.toString -> vv.asInstanceOf[Number].doubleValue() }
    case _ => Map.empty
  }
}

final case class OperatorConf(name: String, params: Params)
final case class StageConf(name: String, operators: Seq[OperatorConf])
final case class LoaderConf(tpe: String, params: Params)
final case class WriterConf(tpe: String, params: Params)
final case class ExecutorConf(
    maxSamples: Option[Long], rejectedEnabled: Boolean,
    metricsEnabled: Boolean, metricsPath: Option[String], reportPath: Option[String],
    /** metrics.publish_path: publish the report as index.html under this
      * Hadoop-compatible URI (the reference's HF-Space static publish,
      * reporter.py:1258). */
    reportPublishPath: Option[String] = None,
    checkpointPath: Option[String] = None,
    /** metrics.timed: profile mode — one action per operator boundary so
      * wall time is attributable per operator (the reference's
      * per-operator total_time). Costs recomputation; ignored when
      * reject routing is on (the disposition pass is single-action).
      */
    metricsTimed: Boolean = false)

/** The engine's only IR, exactly like the reference: a config tree
  * `data_loader → stages[{operators[]}] → data_writer → executor`
  * (framework/config.py:140-214). Operator order is execution order; no
  * plan rewriting happens here — Catalyst does the optimizing.
  */
final case class PipelineConf(
    loader: LoaderConf,
    stages: Seq[StageConf],
    writer: WriterConf,
    executor: ExecutorConf)

object PipelineConf {

  def fromYamlFile(path: String): PipelineConf =
    fromYaml(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def fromYaml(text: String): PipelineConf = {
    val root = asMap(new org.yaml.snakeyaml.Yaml().load[Any](text))

    def params(m: Map[String, Any]): Params =
      Params(m.get("params").map(asMap).getOrElse(Map.empty))

    val loaderM = asMap(root.getOrElse("data_loader",
      throw new IllegalArgumentException("config missing data_loader")))
    val writerM = asMap(root.getOrElse("data_writer",
      throw new IllegalArgumentException("config missing data_writer")))

    val stages = root.get("stages").map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq)
      .getOrElse(Nil).map { s =>
        val sm = asMap(s)
        val ops = sm.get("operators").map(_.asInstanceOf[java.util.List[Any]].asScala.toSeq)
          .getOrElse(Nil).map { o =>
            val om = asMap(o)
            OperatorConf(om("name").toString, params(om))
          }
        StageConf(sm("name").toString, ops)
      }

    val execM = known("executor", root.get("executor").map(asMap).getOrElse(Map.empty))
    def section(key: String): Map[String, Any] =
      known(s"executor.$key", execM.get(key).map(asMap).getOrElse(Map.empty))
    val rejM = section("rejected_samples")
    val metM = section("metrics")
    val ckptM = section("checkpoint")
    // reject routing always persists the annotated chain; `cache` is the
    // one accepted value, kept so configs that spell it still parse
    rejM.get("materialize").map(_.toString).filter(_ != "cache").foreach { v =>
      throw new IllegalArgumentException(
        s"executor.rejected_samples.materialize: only `cache` is supported, got `$v` " +
          "(the `recompute` mode was removed; the annotated chain is always persisted)")
    }
    val executor = ExecutorConf(
      maxSamples = execM.get("max_samples").map(_.asInstanceOf[Number].longValue()),
      rejectedEnabled = rejM.get("enabled").exists(_.asInstanceOf[Boolean]),
      metricsEnabled = metM.get("enabled").exists(_.asInstanceOf[Boolean]),
      metricsPath = metM.get("output_path").map(_.toString),
      reportPath = metM.get("report_path").map(_.toString),
      reportPublishPath = metM.get("publish_path").map(_.toString),
      checkpointPath = ckptM.get("path").map(_.toString),
      metricsTimed = metM.get("timed").exists(_.asInstanceOf[Boolean]))

    PipelineConf(
      LoaderConf(loaderM("type").toString, params(loaderM)),
      stages,
      WriterConf(writerM("type").toString, params(writerM)),
      executor)
  }

  /** The keys each executor section reads. Any other key is rejected,
    * so a misspelled setting fails at parse instead of being dropped.
    */
  private val knownKeys: Map[String, Set[String]] = Map(
    "executor" -> Set("max_samples", "rejected_samples", "metrics", "checkpoint"),
    "executor.rejected_samples" -> Set("enabled", "materialize"),
    "executor.metrics" -> Set("enabled", "output_path", "report_path", "publish_path", "timed"),
    "executor.checkpoint" -> Set("path"))

  private def known(path: String, m: Map[String, Any]): Map[String, Any] = {
    val keys = knownKeys(path)
    m.keys.filterNot(keys).toSeq.sorted.headOption.foreach { k =>
      throw new IllegalArgumentException(
        s"unknown config key `$path.$k` (known under `$path`: ${keys.toSeq.sorted.mkString(", ")})")
    }
    m
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> x }.toMap
    case other => throw new IllegalArgumentException(s"expected a YAML mapping, got $other")
  }
}
