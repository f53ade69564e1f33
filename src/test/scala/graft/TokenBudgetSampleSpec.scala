package graft

import graft.core.Disposition
import graft.operators.text.{TextLengthFilter, TokenBudgetSampleFilter}
import org.apache.spark.sql.functions._

class TokenBudgetSampleSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = table("documents").select("doc_id", "source", "text")
  private def tokens = size(split(trim(col("text")), "\\s+"))

  private def op(budget: Long, buckets: Int = 8) = new TokenBudgetSampleFilter(
    budgets = Map("src0" -> 100L), defaultBudget = budget,
    sourceCol = "source", idCol = "doc_id", textCol = "text",
    numBuckets = buckets)

  test("kept token total per source never exceeds the budget") {
    val kept = op(500L)(docs)
    val sums = kept.groupBy("source").agg(sum(tokens).as("t"))
      .as[(String, Long)].collect().toMap
    sums.foreach { case (src, t) =>
      val budget = if (src == "src0") 100L else 500L
      assert(t <= budget, s"$src kept $t tokens > $budget")
    }
    assert(kept.count() > 0, "budget keeps nothing — vacuous")
  }

  test("maximal in rank order: the first rejected doc would overflow the budget") {
    // sharp prefix invariant: kept-total ≤ budget < kept-total + tokens
    // of the FIRST rejected doc in rank order (later rejected docs may
    // be smaller — rank order isn't size order — but the cut point is
    // exactly where the running total first crosses the budget)
    val o = op(500L)
    val rank = pmod(xxhash64(concat(col("doc_id").cast("string"), lit(""))), lit(1000000L))
    val keptSums = o(docs).groupBy("source").agg(sum(tokens).as("t"))
      .as[(String, Long)].collect().toMap
    val firstRejTokens = o.rejected(docs)
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(rank, col("doc_id"))))
      .filter(col("_rn") === 1)
      .select(col("source"), tokens.cast("long"))
      .as[(String, Long)].collect().toMap
    firstRejTokens.foreach { case (src, t) =>
      val budget = if (src == "src0") 100L else 500L
      val kept = keptSums.getOrElse(src, 0L)
      assert(kept <= budget && kept + t > budget,
        s"$src: kept=$kept firstRejected=$t budget=$budget")
    }
    assert(firstRejTokens.nonEmpty, "nothing rejected — vacuous")
  }

  test("bucket count does not change the sample (two-level == single window)") {
    val a = op(700L, buckets = 1)(docs).select("doc_id").as[Long].collect().toSet
    val b = op(700L, buckets = 8)(docs).select("doc_id").as[Long].collect().toSet
    val c = op(700L, buckets = 251)(docs).select("doc_id").as[Long].collect().toSet
    assert(a == b && b == c)
  }

  test("deterministic and independent of partition layout") {
    val a = op(700L)(docs).select("doc_id").as[Long].collect().toSet
    val b = op(700L)(docs.repartition(17)).select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("apply and rejected partition the input") {
    val o = op(400L)
    assert(o(docs).count() + o.rejected(docs).count() == docs.count())
  }

  test("disposition: rows dead upstream consume no budget") {
    val df = Seq(
      (1L, "a", "one two three four five six seven eight nine ten"),
      (2L, "a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "a", "x"),
      (4L, "a", "red orange yellow green blue indigo violet pink black white"))
      .toDF("doc_id", "source", "text")
    // kill doc 3 upstream (min length), then budget of 25 tokens: the
    // three 10-token docs fit iff the dead doc's token weighs nothing...
    // budget 25 keeps exactly the first two alive docs in rank order
    val sampler = new TokenBudgetSampleFilter(
      budgets = Map.empty, defaultBudget = 20L,
      sourceCol = "source", idCol = "doc_id", textCol = "text", numBuckets = 4)
    var d = Disposition.init(df)
    d = Disposition.step(d,
      new TextLengthFilter(minLength = 5, maxLength = None, textCol = "text"), "_t0")
    d = Disposition.step(d, sampler, "_t1")
    val kept = Disposition.passed(d).select("doc_id").as[Long].collect().toSet
    // sequential semantics: filter kills 3; sampler sees 1,2,4 (30
    // tokens) and keeps the first 2 in its deterministic rank order
    val aliveAfterFilter = Set(1L, 2L, 4L)
    assert(kept.subsetOf(aliveAfterFilter))
    assert(kept.size == 2, s"expected 2 kept, got $kept")
  }
}
