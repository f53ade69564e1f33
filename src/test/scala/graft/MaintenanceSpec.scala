package graft

import graft.operators.table.{CdcMerge, ColumnProfiler, DataQualityChecks}
import org.apache.spark.sql.functions._

/** Table-maintenance operators: CDC netting/merge, SCD2 derivation,
  * single-pass profiler.
  */
class MaintenanceSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val cdc = new CdcMerge(
    keyCol = "k", tsCol = "ts", seqCol = "seq",
    opCol = "op", deleteOp = "D", payloadCol = "v")

  private def changes(rows: (Long, Long, Long, String, Double)*) =
    rows.toDF("k", "tsl", "seq", "op", "v")
      .withColumn("ts", timestamp_micros(col("tsl"))).drop("tsl")

  test("cdc: latest nets the feed to one row per key, (ts, seq)-ordered") {
    val ch = changes(
      (1L, 10L, 1L, "U", 1.0), (1L, 20L, 2L, "U", 2.0),
      (2L, 10L, 1L, "U", 5.0), (2L, 10L, 2L, "D", 0.0), // same ts — seq breaks the tie
      (3L, 30L, 1L, "D", 0.0), (3L, 5L, 2L, "U", 9.0))
    val net = cdc.latest(ch).collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(net(1L) == ("U", 2.0))
    assert(net(2L) == ("D", 0.0))
    assert(net(3L) == ("D", 0.0)) // ts 30 beats ts 5 whatever the seq says
  }

  test("cdc: merge = upsert + delete + passthrough with correct statuses") {
    val base = Seq((1L, 100.0), (2L, 200.0), (3L, 300.0)).toDF("k", "bal")
    val ch = changes(
      (1L, 10L, 1L, "U", 111.0),           // update
      (2L, 10L, 1L, "D", 0.0),             // delete
      (9L, 10L, 1L, "U", 999.0),           // insert (not in base)
      (8L, 10L, 1L, "D", 0.0))             // delete of a non-existent key: no row
    val out = cdc.merge(base, ch, "bal").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(out == Map(
      1L -> (111.0, "update"),
      3L -> (300.0, "unchanged"),
      9L -> (999.0, "insert")))
  }

  test("cdc: a delete followed by a later upsert resurrects the key") {
    val base = Seq((1L, 100.0)).toDF("k", "bal")
    val ch = changes((1L, 10L, 1L, "D", 0.0), (1L, 20L, 2L, "U", 42.0))
    val out = cdc.merge(base, ch, "bal").collect()
    assert(out.length == 1 && out(0).getDouble(1) == 42.0 && out(0).getString(2) == "update")
  }

  test("scd2: consecutive equal values compress; intervals tile [first, open)") {
    val ch = changes(
      (1L, 10L, 1L, "U", 5.0), (1L, 20L, 2L, "U", 5.0), // no new version
      (1L, 30L, 3L, "U", 7.0), (1L, 40L, 4L, "U", 5.0)) // value can recur later
    val vs = cdc.scd2(ch).orderBy("valid_from_us").collect()
      .map(r => (r.getDouble(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
    assert(vs.toSeq == Seq(
      (5.0, 10L, Some(30L), false),
      (7.0, 30L, Some(40L), false),
      (5.0, 40L, None, true)))
    // intervals tile: each version's end is the next version's start
    assert(vs.init.zip(vs.tail).forall { case (a, b) => a._3.contains(b._2) })
  }

  test("scd2: single-change keys produce exactly one open version") {
    val ch = changes((1L, 10L, 1L, "U", 1.0), (2L, 11L, 1L, "U", 2.0))
    val vs = cdc.scd2(ch).collect()
    assert(vs.length == 2 && vs.forall(_.getBoolean(4)))
  }

  test("profiler: one pass matches per-column direct queries, nulls counted") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "b"), (4L, null))
      .toDF("num", "str")
    val p = ColumnProfiler.profile(df, Seq("num", "str")).collect()
      .map(r => r.getString(0) -> r).toMap
    val num = p("num")
    assert(num.getLong(1) == 4 && num.getLong(2) == 1 && num.getLong(3) == 3)
    assert(num.getDouble(4) == 1.0 && num.getDouble(5) == 4.0)
    assert(num.isNullAt(6) && num.isNullAt(7)) // string stats null for numerics
    val str = p("str")
    assert(str.getLong(2) == 1 && str.getLong(3) == 2)
    assert(str.getString(6) == "a" && str.getString(7) == "b")
    assert(str.isNullAt(4) && str.isNullAt(5))
  }

  test("profiler: plans a single scan of the input (one-pass guarantee)") {
    val df = TestSpark.table("lineitem")
    val plan = TestSpark.planOf(
      ColumnProfiler.profile(df, Seq("l_orderkey", "l_quantity", "l_returnflag")))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
  }

  import DataQualityChecks._

  test("dq: planted violations land in the right checks with exact boundary math") {
    val df = Seq(
      (Some(1L), Some("A"), 10.0), (Some(2L), Some("A"), 20.0),
      (Some(2L), Some("B"), -5.0), // dup key + below range
      (None, Some("Z"), 30.0),     // null key + off-set category
      (Some(4L), None, 40.0)       // null category (excluded from scoped checks)
    ).toDF("k", "cat", "v")
    val out = DataQualityChecks(df, Seq(
      Completeness("k", 0.8),            // 4/5 = 0.8 — passes exactly AT the boundary
      Uniqueness("k", 1.0),              // 3 distinct / 5 rows — fails
      InRange("v", 0.0, 100.0, 1.0),     // 4/5 in range — fails
      InSet("cat", Seq("A", "B"), 0.75)  // 3/4 non-null in set — passes exactly
    )).collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getDouble(2), r.getBoolean(4))).toMap
    assert(out(("completeness", "k")) == (0.8, true))
    assert(out(("uniqueness", "k")) == (0.6, false))
    assert(out(("in_range", "v")) == (0.8, false))
    assert(out(("in_set", "cat")) == (0.75, true))
  }

  test("dq: empty table yields NULL observed and NULL passed (no evidence)") {
    val df = Seq.empty[(Option[Long], String)].toDF("k", "s")
    val out = DataQualityChecks(df, Seq(Completeness("k"))).collect()
    assert(out.length == 1 && out(0).isNullAt(2) && out(0).isNullAt(4))
  }

  test("dq: ref integrity counts unresolved non-null fact keys") {
    val fact = Seq(Some(1L), Some(2L), Some(9L), None).toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("dk")
    val r = DataQualityChecks.refIntegrity(fact, "fk", dim, "dk").collect()(0)
    // 3 non-null keys, 1 unresolved -> observed 2/3, passed false at minFrac 1.0
    assert(math.abs(r.getDouble(2) - 0.666667) < 1e-9 && !r.getBoolean(4))
  }

  test("dq: malformed string values count as FAILING, never error out") {
    // Spark's non-ANSI cast sends "not-a-number" to NULL -> the row fails
    // the range check; the DuckDB twin's TRY_CAST degrades identically
    // (a bare CAST would make the firewall error out in one engine and
    // report in the other — ADVICE r13)
    import DataQualityChecks._
    val df = Seq("1.5", "not-a-number", "99").toDF("v")
    val out = DataQualityChecks(df, Seq(InRange("v", 0.0, 100.0, 1.0)))
      .collect().head
    assert(math.abs(out.getDouble(2) - 0.666667) < 1e-9 && !out.getBoolean(4))
    Seq(InRange("v", 0.0, 100.0), InSet("v", Seq("x")), MatchesRegex("v", "^x$"))
      .foreach(c => assert(c.okSql.contains("TRY_CAST"), c.okSql))
  }

  test("dq: scan checks plan a single scan of the input") {
    val df = TestSpark.table("orders")
    val plan = TestSpark.planOf(DataQualityChecks(df, Seq(
      Completeness("o_custkey"), Uniqueness("o_orderkey"),
      InRange("o_totalprice", 0, 1e7), InSet("o_orderstatus", Seq("O", "F", "P")))))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 parquet scan, got $scans:\n$plan")
  }
}
