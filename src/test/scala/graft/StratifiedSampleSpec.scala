package graft

import graft.core.Disposition
import graft.operators.text.StratifiedSampleFilter
import org.apache.spark.sql.functions._

class StratifiedSampleSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = table("documents").select("doc_id", "source")

  test("keeps exactly min(k, stratum size) rows per stratum") {
    val k = 30
    val op = new StratifiedSampleFilter(k, "source", "doc_id")
    val perStratum = op(docs).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val sizes = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    sizes.foreach { case (src, n) =>
      assert(perStratum.getOrElse(src, 0L) == math.min(k.toLong, n), src)
    }
  }

  test("sample is deterministic and independent of partition layout") {
    val op = new StratifiedSampleFilter(25, "source", "doc_id")
    val a = op(docs).select("doc_id").as[Long].collect().toSet
    val b = op(docs.repartition(17)).select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("apply and rejected partition the input") {
    val op = new StratifiedSampleFilter(10, "source", "doc_id")
    assert(op(docs).count() + op.rejected(docs).count() == docs.count())
  }

  test("disposition: rows rejected upstream never occupy a sample slot") {
    val df = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "a"), (6L, "a"))
      .toDF("doc_id", "source")
    // upstream killed ids 1-3; cap at 2 → the 2 survivors must come from 4-6
    val init = Disposition.init(df).withColumn(Disposition.AliveCol, col("doc_id") > 3)
    val out = Disposition.step(init, new StratifiedSampleFilter(2, "source", "doc_id"), "t0")
    val alive = out.filter(col(Disposition.AliveCol)).select("doc_id")
      .as[Long].collect().toSet
    assert(alive.size == 2 && alive.subsetOf(Set(4L, 5L, 6L)))
    // and the upstream-dead rows stayed dead
    assert(out.filter(!col(Disposition.AliveCol)).count() == 4)
  }

  test("different salts give different samples") {
    val a = new StratifiedSampleFilter(20, "source", "doc_id", salt = "s1")(docs)
      .select("doc_id").as[Long].collect().toSet
    val b = new StratifiedSampleFilter(20, "source", "doc_id", salt = "s2")(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(a != b)
  }
}
