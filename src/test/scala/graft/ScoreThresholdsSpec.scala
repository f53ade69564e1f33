package graft

import graft.operators.ml.ScoreThresholds
import org.apache.spark.sql.functions._

class ScoreThresholdsSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  test("hand-computed tiny curve: counts, metrics, and the chosen row") {
    // scores: 0.2 (neg), 0.4 (pos), 0.4 (neg), 0.8 (pos)  — P=2, N=2
    val df = Seq((0.2, false), (0.4, true), (0.4, false), (0.8, true))
      .toDF("s", "y")
    val t = ScoreThresholds.table(df, col("s"), col("y"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(7), r.getBoolean(8)))
    // threshold 0.2: everything positive → tp=2 fp=2 fn=0 tn=0, f1=2*2/(4+2+0)=0.666667
    // threshold 0.4: tp=2 fp=1 fn=0 tn=1, f1=4/5=0.8  ← chosen
    // threshold 0.8: tp=1 fp=0 fn=1 tn=2, f1=2/3=0.666667
    assert(t.toSeq == Seq(
      (0.2, 2L, 2L, 0L, 0L, 0.666667, false),
      (0.4, 2L, 1L, 0L, 1L, 0.8, true),
      (0.8, 1L, 0L, 1L, 2L, 0.666667, false)))
  }

  test("random data: every row matches a brute-force confusion at that threshold") {
    val rows = (0 until 200).map { i =>
      (((i * 37) % 50) / 50.0, (i * 13) % 3 == 0)
    }
    val df = rows.toDF("s", "y")
    val got = ScoreThresholds.table(df, col("s"), col("y")).collect()
    got.foreach { r =>
      val t = r.getDouble(0)
      val tp = rows.count { case (s, y) => s >= t && y }
      val fp = rows.count { case (s, y) => s >= t && !y }
      val fn = rows.count { case (s, y) => s < t && y }
      val tn = rows.count { case (s, y) => s < t && !y }
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        (tp.toLong, fp.toLong, fn.toLong, tn.toLong), s"at threshold $t")
    }
    // exactly one chosen row, and it attains the max f1
    val chosen = got.filter(_.getBoolean(8))
    assert(chosen.length == 1)
    val maxF1 = got.map(r => Option(r.get(7)).fold(-1.0)(_ => r.getDouble(7))).max
    assert(chosen.head.getDouble(7) == maxF1)
    // ties break to the smallest threshold
    val tied = got.filter(r => Option(r.get(7)).exists(_ => r.getDouble(7) == maxF1))
    assert(chosen.head.getDouble(0) == tied.map(_.getDouble(0)).min)
  }

  test("partition invariance and null exclusion") {
    val df = (0 until 100).map(i => (if (i % 7 == 0) None else Some(i / 100.0), i % 2 == 0))
      .toDF("s", "y")
    val a = ScoreThresholds.table(df.repartition(1), col("s"), col("y")).collect().toSeq
    val b = ScoreThresholds.table(df.repartition(13), col("s"), col("y")).collect().toSeq
    assert(a == b)
    assert(a.length == (0 until 100).count(_ % 7 != 0)) // distinct non-null scores
  }

  test("degenerate inputs: all-positive and single-level score") {
    val allPos = Seq((0.5, true), (0.5, true)).toDF("s", "y")
    val t = ScoreThresholds.table(allPos, col("s"), col("y")).collect()
    assert(t.length == 1 && t.head.getLong(1) == 2L && t.head.getLong(4) == 0L)
    assert(t.head.getBoolean(8)) // the single row is chosen
    // empty input → empty table (no crash, no chosen row)
    val empty = ScoreThresholds.table(allPos.filter(lit(false)), col("s"), col("y"))
    assert(empty.collect().isEmpty)
  }
}
