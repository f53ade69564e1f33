package graft

import graft.operators.text.CorpusDiff
import org.apache.spark.sql.functions._

class CorpusDiffSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
  private val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")

  test("diff statuses every id across both snapshots") {
    val st = new CorpusDiff().diff(old, neu)
      .as[(Long, String)].collect().toMap
    assert(st == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
    val rep = new CorpusDiff().report(old, neu)
      .as[(String, Long)].collect().toMap
    assert(rep == Map("removed" -> 1L, "unchanged" -> 1L, "changed" -> 1L, "added" -> 1L))
  }

  test("text is projected to a hash before the exchange") {
    val p = new CorpusDiff().diff(old, neu).queryExecution.executedPlan.toString
    // no exchange row carries the text column: every Exchange's child
    // output is (id, hash) only
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")), p)
  }

  test("hash family is parametric; portable required only for the SQL twin") {
    intercept[IllegalArgumentException](new CorpusDiff().sql("t", "t"))
    val viaMd5 = new CorpusDiff(hashName = "md5").diff(old, neu)
      .as[(Long, String)].collect().toMap
    assert(viaMd5(3L) == "changed" && viaMd5(2L) == "unchanged")
  }
}
