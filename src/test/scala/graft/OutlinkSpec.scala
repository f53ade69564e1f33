package graft

import graft.operators.text.OutlinkGraph
import org.apache.spark.sql.functions._

class OutlinkSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("outlinks: absolute http(s) hrefs counted, relative and mailto dropped") {
    val pages = Seq(
      ("a.com", """<a href="https://b.com/x">1</a><a href="/rel">2</a>
                  |<a href="mailto:x@y.z">3</a><a href="http://c.com">4</a>
                  |<a href="https://b.com/y">5</a>""".stripMargin),
      ("b.com", """no links here"""),
      ("c.com", """<A HREF="https://a.com/">upper tag, lower attr unmatched</A>
                  |<a href="https://a.com/1">ok</a>""".stripMargin))
      .toDF("src_host", "html")
    val edges = OutlinkGraph.edges(pages, "html", "src_host")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(edges == Map(
      ("a.com", "b.com") -> 2L,
      ("a.com", "c.com") -> 1L,
      ("c.com", "a.com") -> 1L))
  }

  test("outlinks: edge weights are partition-invariant and self-links kept") {
    val pages = (0 until 200).map { i =>
      (s"h${i % 4}.com", s"""<a href="https://h${i % 4}.com/self">s</a><a href="https://h${(i + 1) % 4}.com/n">n</a>""")
    }.toDF("src_host", "html")
    val a = OutlinkGraph.edges(pages, "html", "src_host").orderBy("src_host", "dst_host")
      .collect().map(_.toSeq).toSeq
    val b = OutlinkGraph.edges(pages.repartition(11), "html", "src_host").orderBy("src_host", "dst_host")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.exists(r => r(0) == r(1))) // self-links present
  }
}
