package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.runner.{PipelineConf, PipelineRunner}

/** Where one workload's files live inside the benchmark's work directory. */
final case class Paths(root: String) {
  def input: String = s"$root/input"
  def run: String = s"$root/run"
  def out: String = s"$run/out"
  def rejected: String = s"${out}_rejected"
  def metrics: String = s"$out/_metrics"
  def report: String = s"$out/report.html"
}

/** What a timed run hands to its checks: the runner's result for a batch
  * run, the per-trigger progress of a streaming drain.
  */
final case class RunOutput(
    result: Option[PipelineRunner.RunResult] = None,
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil) {
  /** Per-trigger commit latencies of a streaming drain, seconds. */
  def triggerSeconds: Seq[Double] =
    progress.map(_.durationMs.get("triggerExecution").longValue / 1000.0)
}

/** A generated input, ready to run: the timed unit of work, its output
  * checks and the content hash compared across repetitions.
  */
trait Prepared {
  def inputRows: Long
  def inputBytes: Long
  def paths: Paths
  def run(spark: SparkSession): RunOutput
  def check(spark: SparkSession, out: RunOutput): Seq[String]
  def contentHash(spark: SparkSession, out: RunOutput): String
  /** The pipeline config (batch workloads), for the layer replay. */
  def conf: Option[PipelineConf]
  /** Bytes the run leaves on disk: outputs, rejects and metrics. */
  def outputBytes: Long = FsUtil.bytes(paths.run)
  def outputFiles: Int = FsUtil.files(paths.run).size
  /** Clear the previous repetition's outputs (outside any timing). */
  def clean(): Unit = FsUtil.deleteTree(new java.io.File(paths.run))
}

trait Workload {
  def name: String
  /** Runs after the cold one that are checked but not timed. The JIT keeps
    * compiling the kernels and the driver's planning code through the
    * first warm runs, and a run timed before it settles reads slow by an
    * amount that differs from process to process.
    */
  def warmupRuns: Int = 3
  def prepare(spark: SparkSession, seed: Long, files: Int, paths: Paths): Prepared
}

object Workloads {

  val WebPages = 2500
  val Docs = 5000
  val Vectors = 20000
  val StreamDocs = 360
  val StreamShards = 3

  /** Planted-pair recall floors for the dedup workloads. */
  val NearDedupRecallFloor = 0.9
  val SemanticRecallFloor = 0.9

  val all: Seq[Workload] = Seq(WebClean, NearDedup, SemanticDedup, StreamDedup)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  private def yamlList(xs: Seq[String]): String = xs.map(x => s"\"$x\"").mkString("[", ", ", "]")

  /** Loader, writer and executor blocks shared by the batch configs. */
  private def batchConf(p: Paths, operators: String, writerExtra: String, rejects: Boolean): PipelineConf =
    PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "${p.input}"}
         |stages:
         |  - name: main
         |    operators:
         |$operators
         |data_writer:
         |  type: ParquetDataWriter
         |  params: {output_path: "${p.out}", table_name: curated$writerExtra}
         |executor:
         |  rejected_samples: {enabled: $rejects, materialize: cache}
         |  metrics: {enabled: true, output_path: "${p.metrics}", report_path: "${p.report}"}
         |""".stripMargin)

  /** Order-independent hash of a frame's rows: count, a bounded sum and an
    * xor of per-row xxhash64 over every column in name order.
    */
  def frameHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  private def readCurated(spark: SparkSession, p: Paths): DataFrame =
    spark.read.parquet(s"${p.out}/curated")

  private def readRejected(spark: SparkSession, p: Paths): DataFrame =
    spark.read.parquet(s"${p.rejected}/curated_rejected")

  /** Checks shared by the batch workloads: the metrics rollup agrees with
    * the generated count and with the rows read back.
    */
  private def rollupChecks(out: RunOutput, inputRows: Long, back: Long): Seq[String] = {
    val run = out.result.get.run
    Seq(
      if (run.input != inputRows) Some(s"rollup input ${run.input} != generated $inputRows") else None,
      if (run.output != back) Some(s"rollup output ${run.output} != rows read back $back") else None,
    ).flatten
  }

  /** Dedup checks against planted clusters: every cluster keeps a row, an
    * exact group keeps at most one (exactly one when its cluster has no
    * near copies), and planted-duplicate recall meets `floor`.
    */
  def clusterChecks(kept: DataFrame, truth: DataFrame, floor: Double, what: String): Seq[String] = {
    val keptIds = kept.select(col("id")).withColumn("kept", lit(1))
    val joined = truth.join(keptIds, Seq("id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(0)))
    val perCluster = joined.groupBy("cluster")
      .agg(count(lit(1)).as("size"), sum("kept").as("kept"))
    val c = perCluster.agg(
      sum(when(col("kept") === 0, 1).otherwise(0)),
      sum(col("size") - greatest(col("kept"), lit(1L))),
      sum(col("size") - 1)).head()
    val lostClusters = c.getLong(0)
    val removed = c.getLong(1)
    val planted = c.getLong(2)
    val recall = if (planted == 0) 1.0 else removed.toDouble / planted
    val perGroup = joined.groupBy("exact_group")
      .agg(sum("kept").as("kept"), first("has_near").as("has_near"))
    val g = perGroup.agg(
      sum(when(col("kept") > 1, 1).otherwise(0)),
      sum(when(!col("has_near") && col("kept") =!= 1, 1).otherwise(0))).head()
    val dupKept = g.getLong(0)
    val exactOnlyWrong = g.getLong(1)
    val uniqueIds = kept.select("id").distinct().count() == kept.count()
    Seq(
      if (lostClusters > 0) Some(s"$what: $lostClusters planted clusters kept no row") else None,
      if (dupKept > 0) Some(s"$what: $dupKept exact groups kept more than one row") else None,
      if (exactOnlyWrong > 0) Some(s"$what: $exactOnlyWrong exact-only groups did not keep exactly one row") else None,
      if (recall < floor) Some(f"$what: planted-duplicate recall $recall%.4f below floor $floor") else None,
      if (!uniqueIds) Some(s"$what: output ids are not unique") else None,
    ).flatten
  }

  // ---- web_clean --------------------------------------------------------

  object WebClean extends Workload {
    val name = "web_clean"
    // a run is short, so the JIT reaches its steady state only after ~6 runs
    override val warmupRuns = 5

    def prepare(spark: SparkSession, seed: Long, files: Int, p: Paths): Prepared = {
      val (rows, truth) = Gen.web(seed, WebPages)
      Gen.writeParquet(spark, rows, Gen.WebSchema, p.input, files)
      val ops =
        s"""      - {name: url_filter, params: {url_field: url, blocked_domains: ${yamlList(truth.blockedDomains)}}}
           |      - {name: text_length_filter, params: {text_field: text, min_length: ${truth.minLength}, max_length: ${truth.maxLength}}}
           |      - {name: c4_clean, params: {text_field: text}}
           |      - {name: c4_quality_filter, params: {text_field: text}}
           |      - {name: gopher_quality_filter, params: {text_field: text_c4_clean}}
           |      - {name: gopher_repetition_filter, params: {text_field: text_c4_clean}}
           |      - {name: pii_redaction, params: {text_field: text_c4_clean}}""".stripMargin
      val pipeline = batchConf(p, ops, ", partition_by: lang", rejects = false)
      import spark.implicits._
      val emails = truth.emails.toDF("id", "email").cache()
      new Prepared {
        val inputRows: Long = truth.rows
        val inputBytes: Long = FsUtil.bytes(p.input)
        val paths: Paths = p
        val conf: Option[PipelineConf] = Some(pipeline)
        def run(spark: SparkSession): RunOutput = RunOutput(Some(PipelineRunner.run(spark, pipeline)))
        def check(spark: SparkSession, out: RunOutput): Seq[String] = {
          val kept = readCurated(spark, p)
          val host = lower(regexp_extract(col("url"), "^[a-z]+://([^/?#:]+)", 1))
          val blocked: Column = truth.blockedDomains
            .map(d => host === d || host.endsWith("." + d)).reduce(_ || _)
          val len = length(col("text"))
          val c = kept.agg(
            count(lit(1)),
            sum(when(len < truth.minLength || len > truth.maxLength, 1).otherwise(0)),
            sum(when(blocked, 1).otherwise(0))).head()
          val back = c.getLong(0)
          val badLength = if (c.isNullAt(1)) 0L else c.getLong(1)
          val badHost = if (c.isNullAt(2)) 0L else c.getLong(2)
          val leaked = kept.join(emails, "id")
            .filter(instr(col("text_redacted"), col("email")) > 0).count()
          Seq(
            if (badLength > 0) Some(s"$badLength kept rows outside the length bounds") else None,
            if (badHost > 0) Some(s"$badHost kept rows on a blocked domain") else None,
            if (leaked > 0) Some(s"$leaked planted emails survived redaction") else None,
          ).flatten ++ rollupChecks(out, inputRows, back)
        }
        def contentHash(spark: SparkSession, out: RunOutput): String = frameHash(readCurated(spark, p))
      }
    }
  }

  // ---- near_dedup -------------------------------------------------------

  val MinHashParams = "text_field: text, id_field: id, signature_scheme: oph, " +
    "pre_collapse_exact: true, num_hashes: 32, num_bands: 8, threshold: 0.7"

  object NearDedup extends Workload {
    val name = "near_dedup"

    def prepare(spark: SparkSession, seed: Long, files: Int, p: Paths): Prepared = {
      val (rows, truth) = Gen.docs(seed, Docs)
      Gen.writeParquet(spark, rows, Gen.DocSchema, p.input, files)
      val ops =
        s"""      - {name: text_exact_deduplicator, params: {text_field: text, id_field: id}}
           |      - {name: minhash_lsh_deduplicator, params: {$MinHashParams}}
           |      - {name: dup_ngram, params: {text_field: text, id_field: id}}
           |      - {name: ngram_novelty, params: {text_field: text, id_field: id}}""".stripMargin
      dedupPrepared(spark, p, batchConf(p, ops, "", rejects = true), truth, NearDedupRecallFloor)
    }
  }

  /** Batch dedup workloads: cluster checks, and passed + rejected = input. */
  private def dedupPrepared(spark: SparkSession, p: Paths, pipeline: PipelineConf,
      truth: Gen.DupTruth, floor: Double): Prepared = {
    val truthDf = Gen.truthFrame(spark, truth).cache()
    new Prepared {
      val inputRows: Long = truth.rows.toLong
      val inputBytes: Long = FsUtil.bytes(p.input)
      val paths: Paths = p
      val conf: Option[PipelineConf] = Some(pipeline)
      def run(spark: SparkSession): RunOutput = RunOutput(Some(PipelineRunner.run(spark, pipeline)))
      def check(spark: SparkSession, out: RunOutput): Seq[String] = {
        val kept = readCurated(spark, p)
        val passed = kept.count()
        val rejected = readRejected(spark, p).count()
        val total =
          if (passed + rejected != inputRows) Seq(s"passed $passed + rejected $rejected != input $inputRows")
          else Nil
        total ++ clusterChecks(kept, truthDf, floor, "output") ++ rollupChecks(out, inputRows, passed)
      }
      def contentHash(spark: SparkSession, out: RunOutput): String = frameHash(readCurated(spark, p))
    }
  }

  // ---- semantic_dedup ---------------------------------------------------

  object SemanticDedup extends Workload {
    val name = "semantic_dedup"

    def prepare(spark: SparkSession, seed: Long, files: Int, p: Paths): Prepared = {
      val (rows, truth) = Gen.vectors(seed, Vectors)
      Gen.writeParquet(spark, rows, Gen.VecSchema, p.input, files)
      val ops =
        """      - {name: embedding_cosine_deduplicator, params: {embedding_field: embedding, id_field: id, threshold: 0.95, num_buckets: 32, nprobe: 2, max_cell_size: 20000, cell_cap_mode: anchored}}"""
      dedupPrepared(spark, p, batchConf(p, ops, "", rejects = true), truth, SemanticRecallFloor)
    }
  }

  // ---- stream_dedup -----------------------------------------------------

  object StreamDedup extends Workload {
    val name = "stream_dedup"

    def prepare(spark: SparkSession, seed: Long, files: Int, p: Paths): Prepared = {
      val (rows, truth) = Gen.docs(seed, StreamDocs)
      Gen.writeShards(spark, rows, Gen.DocSchema, p.input, StreamShards)
      val truthDf = Gen.truthFrame(spark, truth).cache()
      spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
      new Prepared {
        val inputRows: Long = truth.rows.toLong
        val inputBytes: Long = FsUtil.bytes(p.input)
        val paths: Paths = p
        val conf: Option[PipelineConf] = None
        def kept(spark: SparkSession): DataFrame = spark.read.parquet(p.out)
        def run(spark: SparkSession): RunOutput = {
          val stream = spark.readStream.schema(Gen.DocSchema)
            .option("maxFilesPerTrigger", 1).parquet(p.input)
          val q = graft.streaming.StreamingCuration.nearDedupForeachBatch(
              stream, p.out, s"${p.run}/prior", textCol = "text", idCol = "id",
              numHashes = 32, numBands = 8, threshold = 0.7, signatureScheme = "oph")
            .option("checkpointLocation", s"${p.run}/checkpoint")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          try q.awaitTermination() finally q.stop()
          RunOutput(progress = q.recentProgress.toSeq.filter(_.numInputRows > 0))
        }
        def check(spark: SparkSession, out: RunOutput): Seq[String] = {
          val k = kept(spark)
          val input = spark.read.parquet(p.input)
          val keptRows = k.count()
          val stray = k.select("id").join(input.select("id"), Seq("id"), "left_anti").count()
          val dropped = input.select("id").join(k.select("id"), Seq("id"), "left_anti").count()
          Seq(
            if (out.triggerSeconds.size != StreamShards)
              Some(s"${out.triggerSeconds.size} triggers for $StreamShards shards") else None,
            if (stray > 0) Some(s"$stray kept ids are not input ids") else None,
            if (keptRows + dropped != inputRows)
              Some(s"kept $keptRows + dropped $dropped != input $inputRows") else None,
          ).flatten ++ clusterChecks(k, truthDf, NearDedupRecallFloor, "stream")
        }
        def contentHash(spark: SparkSession, out: RunOutput): String = frameHash(kept(spark))
      }
    }
  }
}
