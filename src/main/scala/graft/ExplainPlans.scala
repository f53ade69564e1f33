package graft

import java.nio.file.{Files, Paths}

/** Measurement aid (optimization guide §1.3): dump
  * `.explain("formatted")` for the named declared queries to files.
  *
  * Usage: `sbt "runMain graft.ExplainPlans out_dir suffix q1 q2 ..."`
  * — writes `out_dir/<query>_<suffix>.txt` per query. Reads the same
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` env as Bench so plans
  * reflect the bench configuration.
  *
  * Adaptive execution is OFF in this session, so a dump is the static
  * plan and the same text on every run: a plan-identity witness. With
  * AQE on, a frame a query stages while planning (an
  * `InMemoryRelation`, e.g. a frozen model's tables) prints its AQE
  * final plan, whose node order, broadcast sides and reused exchanges
  * change run to run. A dump therefore shows what Catalyst optimizes
  * and plans, not the runtime re-plans AQE makes on top of it.
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainPlans out_dir suffix query...")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", cpus.toInt, codegenCacheEntries = 10000)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try names.foreach { n =>
      // scoped: frames a query stages while planning release per query
      val plan = graft.core.Staging.scoped {
        SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      Files.write(outDir.resolve(s"${n}_${suffix}.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote ${n}_${suffix}.txt (${plan.length} chars)")
    } finally spark.stop()
  }
}
