package graft

import graft.operators.stats.HistogramQuantile
import org.apache.spark.sql.functions._

class StatsSketchSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("histogram quantile: brackets the exact quantile within one bin") {
    // 1..1000 uniform, width 10: rank ceil(q·n) value q·1000 → its bin
    val df = spark.range(1, 1001).select(col("id").cast("double").as("v"))
    val out = HistogramQuantile.quantiles(df, "v", 10.0, Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(out(0.5) == ((500.0, 510.0, 1000L)))  // rank 500 = value 500 → bin 50
    assert(out(0.99) == ((990.0, 1000.0, 1000L))) // rank 990 → bin 99
  }

  test("histogram quantile: estimate is invariant to partitioning (mergeable)") {
    val df = spark.range(0, 5000)
      .select(((col("id") * 2654435761L) % 10007).cast("double").as("v"))
    val a = HistogramQuantile.quantiles(df, "v", 100.0, Seq(0.25, 0.5, 0.75, 0.9))
      .collect().toSeq.map(_.toSeq)
    val b = HistogramQuantile.quantiles(df.repartition(17), "v", 100.0, Seq(0.25, 0.5, 0.75, 0.9))
      .collect().toSeq.map(_.toSeq)
    assert(a == b)
  }

  test("histogram quantile: true quantile lies in [q_lo, q_hi) for seeded data") {
    val vals = (1 to 2000).map(i => ((i * 48271) % 9973).toDouble)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val out = HistogramQuantile.quantiles(df, "v", 250.0, Seq(0.1, 0.5, 0.95))
      .collect()
    out.foreach { r =>
      val q = r.getDouble(0)
      val exact = sorted(math.ceil(q * vals.size).toInt - 1)
      assert(r.getDouble(1) <= exact && exact < r.getDouble(2),
        s"q=$q exact=$exact not in [${r.getDouble(1)}, ${r.getDouble(2)})")
    }
  }

  test("histogram quantile: nulls are excluded from ranks") {
    val df = Seq[Option[Double]](Some(1.0), None, Some(2.0), Some(3.0), None)
      .toDF("v")
    val out = HistogramQuantile.quantiles(df, "v", 1.0, Seq(1.0)).collect()
    assert(out.head.getLong(3) == 3L) // n counts non-null only
    assert(out.head.getDouble(1) == 3.0)
  }
}
