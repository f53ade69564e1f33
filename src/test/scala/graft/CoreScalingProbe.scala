package graft

import graft.core.BenchHarness

import scala.collection.immutable.ListMap

/** Dev-only probe (r20, VERDICT r19 #6): core-scaling evidence the
  * sf0.1 gate bench cannot give — the heaviest shuffle-bound operator
  * families from the [[ProbeLegs]] registry at `SPARK_GRAFT_SCALE_X`
  * (default 50×) replication, timed identically at whatever
  * `SPARK_GRAFT_CPUS` the caller sets. Run it twice (8 and 32) and
  * compare the printed seconds: at this volume the per-task work
  * dominates fixed job overhead, so the ratio reads the operators'
  * actual parallelism, unlike the 1–3 s sf0.1 gate legs (whose 8-core
  * total BEAT the 32-core total in the r19 driver record —
  * fixed-cost-bound, not code-bound).
  *
  * The legs run through the bench's harness (warmup, 2 interleaved
  * reps, one failure rule) and print one JSON record in the scale
  * probe's shape.
  *
  * `sbt "Test/runMain graft.CoreScalingProbe"` with
  * SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR / SPARK_GRAFT_SCALE_X.
  */
object CoreScalingProbe {
  private val legNames = Set("minhash_lsh_capped", "exact_dedup", "dup_ngram",
    "bigram_lm", "novelty", "quality_battery", "semantic_dedup_probed")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val xf = sys.env.getOrElse("SPARK_GRAFT_SCALE_X", "50").toInt
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", cpus.toInt, codegenCacheEntries = 10000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val harness = new BenchHarness(reps = 2, wallLimit = Double.PositiveInfinity)
    // replicate-then-repartition: the union's xf×scan-split partition
    // list is itself core-count-dependent overhead; a fixed 256-way
    // spread makes the two runs read identical task shapes
    val rows = ProbeLegs.run(ProbeLegs.all.filter(l => legNames(l.name)),
      new ProbeLegs.Inputs(spark, sfDir, xf, spread = Some(256)), harness)
    println(BenchHarness.json(ListMap("cpus" -> cpus.toInt) ++
      ProbeLegs.record(rows, harness, xf)))
    spark.stop()
  }
}
