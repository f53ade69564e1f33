package graft.queries

import graft.core.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General relational query surface over the fixture star schema —
  * aggregation, filter+projection pushdown, broadcast joins, windows,
  * top-k, semi/anti joins, event-time bucketing. These exercise the
  * engine's query capabilities end-to-end and double as bench headliners.
  *
  * Portability rules (driver hash-compares against DuckDB):
  * computed ints cast to long, float aggregates rounded, timestamps
  * formatted to strings, deterministic ORDER BY on both sides.
  */
object Relational {

  val queries: Seq[OracleQuery] = Seq(

    OracleQuery("q1_agg",
      (s, dir) => Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Predicate + column pushdown: the scan must read 4 columns and carry
    // PushedFilters for both predicates (verified in PlanSpec).
    OracleQuery("q2_filter_prune",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45.0 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_quantity >= 45.0 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Star join: fact + two broadcast dims (no shuffle on the dims).
    OracleQuery("q3_join_agg",
      (s, dir) => Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Ranking window, deterministic tiebreak, top-3 per customer.
    OracleQuery("q4_window_rank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables(s, dir, "orders")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("rnk"))
          .orderBy(col("o_custkey"), col("rnk"))
      },
      Some("""SELECT o_custkey, o_orderkey, rnk FROM (
             |  SELECT o_custkey, o_orderkey,
             |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),

    // Global top-k (TakeOrderedAndProject — no full sort at scale).
    OracleQuery("q5_topk",
      (s, dir) => Tables(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // Event-time tumbling window aggregation.
    OracleQuery("q6_events_hourly",
      (s, dir) => Tables.events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour_start"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin)),

    // Distinct aggregation: per-nation distinct customers with orders
    // (partial-distinct expansion under the hood; exact, not HLL — the
    // approx_count_distinct tier exists as a builtin for 100 TB funnels).
    OracleQuery("q9_count_distinct",
      (s, dir) => Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name")),
      Some("""SELECT n_name, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ROLLUP grouping sets: order totals by (status, priority) with
    // subtotal and grand-total rows.
    OracleQuery("q10_rollup",
      (s, dir) => Tables(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // CUBE: all grouping-set combinations in one pass.
    OracleQuery("q11_cube",
      (s, dir) => Tables(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             |  round(avg(o_totalprice), 2) AS avg_price
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Exact percentiles (continuous interpolation) per group.
    // Correlated scalar subquery through the SQL front-end: Catalyst
    // decorrelates the per-customer max into an aggregate + left outer
    // join — the rewrite IS what makes this shape scale (no per-row
    // re-execution, one shuffle on the correlation key).
    OracleQuery("q13_correlated_scalar",
      (s, dir) => {
        Tables(s, dir, "customer").createOrReplaceTempView("customer")
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey, c_name,
                 |  (SELECT round(max(o_totalprice), 2) FROM orders
                 |   WHERE o_custkey = c_custkey) AS max_price
                 |FROM customer ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT round(max(o_totalprice), 2) FROM orders
             |   WHERE o_custkey = c_custkey) AS max_price
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // Row-grain running total per user (ordered window, rows-unbounded
    // frame) — the cumulative-metric shape; one user-keyed exchange.
    OracleQuery("q14_running_total",
      (s, dir) => Tables.events(s, dir)
        .withColumn("running_value", round(sum(col("value")).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id")),
      Some("""SELECT event_id, user_id,
             |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
             |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // Pivot as conditional aggregation (the scale-stable form: a known
    // column set compiles to one pass of sum(CASE …), no distinct-value
    // discovery job the way df.pivot() without values would plan).
    OracleQuery("q15_pivot",
      (s, dir) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val counts = types.map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
        Tables.events(s, dir)
          .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
          .agg(counts.head, counts.tail: _*)
          .orderBy(col("hour_start"))
      },
      Some {
        val types = Seq("click", "error", "purchase", "signup", "view")
        s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           |  ${types.map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t").mkString(", ")}
           |FROM events GROUP BY 1 ORDER BY hour_start""".stripMargin
      }),

    OracleQuery("q12_percentile",
      (s, dir) => Tables(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
             |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
             |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // Left-semi join (EXISTS): customers having a large order.
    OracleQuery("q7_semijoin",
      (s, dir) => {
        val big = Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        Tables(s, dir, "customer")
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
             |ORDER BY c_custkey""".stripMargin)),

    // Left-anti join (NOT EXISTS): customers with no large order.
    OracleQuery("q8_antijoin",
      (s, dir) => Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders").filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
             |ORDER BY c_custkey""".stripMargin)))
}
