package graft

import graft.functions.TopKAgg
import org.apache.spark.sql.functions._

class TopKAggSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def run(vals: Seq[Double], k: Int, largest: Boolean = true,
      parts: Int = 1): Seq[Double] =
    vals.toDF("v").repartition(parts)
      .agg(TopKAgg.topKValues(col("v"), k, largest).as("t"))
      .as[Seq[Double]].head()

  test("largest-k sorted best-first, duplicates preserved") {
    assert(run(Seq(1.0, 5.0, 3.0, 5.0, 2.0), 3) == Seq(5.0, 5.0, 3.0))
    assert(run(Seq(1.0, 5.0, 3.0, 5.0, 2.0), 3, largest = false) == Seq(1.0, 2.0, 3.0))
  }

  test("fewer than k values returns them all; nulls ignored") {
    assert(run(Seq(2.0, 1.0), 5) == Seq(2.0, 1.0))
    val withNulls = Seq[Option[Double]](Some(1.0), None, Some(3.0)).toDF("v")
      .agg(TopKAgg.topKValues(col("v"), 2).as("t")).as[Seq[Double]].head()
    assert(withNulls == Seq(3.0, 1.0))
  }

  test("merge-invariant: 1 vs 32 partitions agree exactly") {
    val vals = scala.util.Random.javaRandomToRandom(
      new java.util.Random(7)).shuffle((1 to 10000).map(_.toDouble))
    assert(run(vals, 17, parts = 1) == run(vals, 17, parts = 32))
    assert(run(vals, 17, parts = 32) == (10000 to 9984 by -1).map(_.toDouble))
  }

  test("plans object-hash partial aggregation (k per partition on the wire)") {
    val p = (1 to 100).map(_.toDouble).toDF("v").repartition(4)
      .groupBy(lit(1)).agg(TopKAgg.topKValues(col("v"), 3))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_topk_values"), p)
  }

  test("non-double child is rejected at analysis") {
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("v").agg(TopKAgg.topKValues(col("v"), 3)).collect()
    }
  }
}
