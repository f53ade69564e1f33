package graft

import graft.functions.{HashFunctions, KmvSketch}
import org.apache.spark.sql.functions._

class KmvSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def est(df: org.apache.spark.sql.DataFrame, k: Int): Double =
    df.agg(KmvSketch.kmvDistinct(HashFunctions.portableHash64(col("v")), k).as("e"))
      .as[Double].head()

  test("kmv: fewer than k distinct values returns the exact count") {
    val df = (1 to 40).flatMap(i => Seq(i, i)).toDF("v") // 40 distinct, duplicated
    assert(est(df, 128) == 40.0)
  }

  test("kmv: duplicates never move the estimate") {
    val base = (1 to 5000).toDF("v")
    val dup = ((1 to 5000) ++ (1 to 5000) ++ (1 to 1000)).toDF("v")
    assert(est(base, 64) == est(dup, 64))
  }

  test("kmv: merge-invariant — 1 partition and 32 partitions agree exactly") {
    val vals = (1 to 20000).toDF("v")
    assert(est(vals.coalesce(1), 64) == est(vals.repartition(32), 64))
  }

  test("kmv: estimate lands within 20% of truth at n/k = 156") {
    val e = est((1 to 10000).toDF("v"), 64)
    assert(e > 8000 && e < 12000, s"estimate $e too far from 10000")
  }

  test("kmv: nulls are ignored; all-null input returns 0") {
    val df = Seq[Option[Int]](None, None).toDF("v")
    assert(est(df, 8) == 0.0)
    val mixed = (Seq[Option[Int]](None) ++ (1 to 3).map(Some(_))).toDF("v")
    assert(est(mixed, 8) == 3.0)
  }

  test("kmv: plans object-hash partial aggregation (mergeable partials, no key shuffle)") {
    val df = (1 to 100).toDF("v").repartition(4)
      .agg(KmvSketch.kmvDistinct(HashFunctions.portableHash64(col("v")), 16).as("e"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_kmv_distinct".r.findAllIn(p).nonEmpty, p)
  }

  test("kmv sketch: ascending, capped at k, and exact below k") {
    val sk = (1 to 1000).toDF("v")
      .agg(KmvSketch.kmvSketchArr(HashFunctions.portableHash64(col("v")), 16).as("s"))
      .as[Seq[Long]].head()
    assert(sk.length == 16 && sk == sk.sorted)
    val small = (1 to 5).toDF("v")
      .agg(KmvSketch.kmvSketchArr(HashFunctions.portableHash64(col("v")), 16).as("s"))
      .as[Seq[Long]].head()
    assert(small.length == 5)
  }

  test("kmv overlap: exact tier (k above all counts) reproduces true jaccard/union/overlap") {
    // A = 1..60, B = 41..100 -> |inter|=20, |union|=100, J=0.2
    val df = ((1 to 60).map(("a", _)) ++ (41 to 100).map(("b", _))).toDF("src", "v")
    val sk = df.groupBy("src")
      .agg(KmvSketch.kmvSketchArr(HashFunctions.portableHash64(col("v")), 128).as("sk"))
    val a = sk.where($"src" === "a").select($"sk".as("ska"))
    val b = sk.where($"src" === "b").select($"sk".as("skb"))
    val (ej, eu, eo) = KmvSketch.overlap(col("ska"), col("skb"), 128)
    val (j, u, o) = a.crossJoin(b).select(ej, eu, eo).as[(Double, Double, Double)].head()
    assert(j == 0.2 && u == 100.0 && o == 20.0)
  }

  test("kmv overlap: sketch tier estimates a 50% jaccard within 35%") {
    val df = ((1 to 20000).map(("a", _)) ++ (10001 to 30000).map(("b", _))).toDF("src", "v")
    val sk = df.groupBy("src")
      .agg(KmvSketch.kmvSketchArr(HashFunctions.portableHash64(col("v")), 256).as("sk"))
    val a = sk.where($"src" === "a").select($"sk".as("ska"))
    val b = sk.where($"src" === "b").select($"sk".as("skb"))
    val (ej, eu, eo) = KmvSketch.overlap(col("ska"), col("skb"), 256)
    val (j, u, o) = a.crossJoin(b).select(ej, eu, eo).as[(Double, Double, Double)].head()
    // truth: inter 10000, union 30000, J = 1/3
    assert(math.abs(j - 1.0 / 3) < 1.0 / 3 * 0.35, s"jaccard $j")
    assert(math.abs(u - 30000) < 30000 * 0.25, s"union $u")
    assert(math.abs(o - 10000) < 10000 * 0.45, s"overlap $o")
  }

  test("kmv: non-long child is rejected at analysis") {
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("x").toDF("v").agg(KmvSketch.kmvDistinct(col("v"), 8)).collect()
    }
  }
}
