package graft

import graft.functions.{HashFunctions, HllSketch}
import org.apache.spark.sql.functions._

class HllSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val P = 12

  private def est(df: org.apache.spark.sql.DataFrame, p: Int = P): Double =
    df.agg(HllSketch.hllDistinct(HashFunctions.portableHash64(col("v")), p).as("e"))
      .as[Double].head()

  test("hll: duplicates never move the estimate") {
    val base = (1 to 5000).toDF("v")
    val dup = ((1 to 5000) ++ (1 to 5000) ++ (1 to 1000)).toDF("v")
    assert(est(base) == est(dup))
  }

  test("hll: merge-invariant — 1 partition and 32 partitions agree exactly") {
    val vals = (1 to 20000).toDF("v")
    assert(est(vals.coalesce(1)) == est(vals.repartition(32)))
  }

  test("hll: estimate within the 3-sigma band (1.04/sqrt(m) ~ 1.6% at p=12)") {
    Seq(1000, 10000, 100000).foreach { n =>
      val e = est((1 to n).toDF("v"))
      assert(math.abs(e - n) < 0.05 * n + 10, s"estimate $e too far from $n")
    }
  }

  test("hll: small-range linear counting — low cardinality stays near-exact") {
    // n << m: raw HLL overestimates badly; the linear-counting branch
    // must engage and land within ~1%
    val e = est((1 to 100).toDF("v"))
    assert(math.abs(e - 100) < 5, s"linear counting off: $e")
  }

  test("hll: nulls are ignored; all-null input estimates 0") {
    val df = Seq[Option[Int]](None, None).toDF("v")
    assert(est(df) == 0.0)
  }

  test("hll: register merge law — merged halves == whole, exactly") {
    val whole = (1 to 30000).toDF("v")
    val regsWhole = whole
      .agg(HllSketch.hllRegisters(HashFunctions.portableHash64(col("v")), P).as("r"))
    val a = whole.where(col("v") % 2 === 0)
      .agg(HllSketch.hllRegisters(HashFunctions.portableHash64(col("v")), P).as("ra"))
    val b = whole.where(col("v") % 2 === 1)
      .agg(HllSketch.hllRegisters(HashFunctions.portableHash64(col("v")), P).as("rb"))
    val merged = a.crossJoin(b)
      .select(HllSketch.mergeRegisters(col("ra"), col("rb")).as("r"))
    assert(merged.as[Seq[Int]].head() == regsWhole.as[Seq[Int]].head())
    // and the declarative estimator over registers == the aggregate's
    val eDecl = merged.select(HllSketch.estimateRegisters(col("r"), P).as("e"))
      .as[Double].head()
    assert(eDecl == est(whole), s"estimator paths diverge: $eDecl vs ${est(whole)}")
  }

  test("hll: plans object-hash partial aggregation (mergeable partials, no key shuffle)") {
    val df = (1 to 100).toDF("v").repartition(4)
      .agg(HllSketch.hllDistinct(HashFunctions.portableHash64(col("v")), 8).as("e"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_hll_distinct".r.findAllIn(p).nonEmpty, p)
  }

  test("hll: estimate matches a by-hand register replay of the same hashes") {
    val n = 2000
    val hashes = (1 to n).toDF("v")
      .select(HashFunctions.portableHash64(col("v")).as("h"))
      .as[Long].collect()
    val m = 1 << P
    val regs = new Array[Byte](m)
    hashes.foreach { h =>
      val idx = (h >>> (60 - P)).toInt
      val rest = h & ((1L << (60 - P)) - 1)
      val rho = ((60 - P) - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1).toByte
      if (rho > regs(idx)) regs(idx) = rho
    }
    assert(est((1 to n).toDF("v")) == HllSketch.estimate(regs, P))
  }
}
