package graft.operators.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the clustering-coefficient primitive
  * of web-graph analysis (link-farm rings and boilerplate navigation
  * cliques are triangle-dense; organic link neighborhoods are not).
  *
  * Algorithm: the degree-ordered wedge join (the MapReduce-classic
  * node-iterator++): undirected edges are canonicalized to point from
  * the LOWER-(degree, id) endpoint to the higher one, so every triangle
  * is counted exactly once from its smallest vertex, and — the scale
  * property — each wedge join fans out by a vertex's ORIENTED
  * out-degree, which is O(√m) for any graph (a celebrity node of
  * degree 10⁶ contributes almost no wedges because nearly all its
  * edges orient INTO it). Two hash joins on vertex ids, no windows.
  *
  * Output: per-vertex triangle counts —
  * exact BIGINTs, so the DuckDB recursive twin hash-matches.
  */
final class TriangleCount(srcCol: String = "src", dstCol: String = "dst") {

  val name = "triangle_count"

  /** Canonically-oriented edge list: (a → b) with a strictly before b
    * in (degree, id) order; self-loops and duplicate/reverse edges
    * collapse first.
    */
  private def oriented(edges: DataFrame): DataFrame = {
    val undirected = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = undirected.select(col("u").as("x"))
      .unionAll(undirected.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    undirected
      .join(deg.select(col("x").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("x").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), struct(col("u"), col("v")))
          .otherwise(struct(col("v").as("u"), col("u").as("v"))).as("e"))
      .select(col("e.u").as("a"), col("e.v").as("b"))
  }

  /** One row per triangle `(a, b, c)` — a wedge a→b, a→c (b < c)
    * closes iff undirected edge {b, c} exists; the closing set holds
    * each undirected edge exactly once in id-ascending form, so no
    * dedup pass is needed after the join.
    */
  private def triangles(edges: DataFrame): DataFrame = {
    val e = oriented(edges)
    val wedges = e.select(col("a"), col("b").as("w1"))
      .join(e.select(col("a"), col("b").as("w2")), Seq("a"))
      .filter(col("w1") < col("w2"))
    val closing = e.select(col("a").as("c1"), col("b").as("c2"))
      .unionAll(e.select(col("b").as("c1"), col("a").as("c2")))
      .filter(col("c1") < col("c2"))
    wedges.join(closing, col("w1") === col("c1") && col("w2") === col("c2"))
      .select(col("a"), col("w1").as("b"), col("w2").as("c"))
  }

  /** `(vertex, triangles)` for every vertex in ≥1 triangle. */
  def counts(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("triangles"))
      .orderBy(col("vertex"))

  // ---- DuckDB twin: same orientation, same wedge close ----

  /** Twin over an edge-list SELECT producing `(src, dst)`. */
  def countsSql(edgesSql: String): String =
    s"""WITH _raw AS ($edgesSql),
       |_und AS (SELECT DISTINCT least($srcCol, $dstCol) AS u, greatest($srcCol, $dstCol) AS v
       |  FROM _raw WHERE $srcCol <> $dstCol),
       |_deg AS (SELECT x, count(*) AS d FROM (
       |    SELECT u AS x FROM _und UNION ALL SELECT v FROM _und) GROUP BY x),
       |_ori AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |      THEN e.u ELSE e.v END AS a,
       |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
       |      THEN e.v ELSE e.u END AS b
       |  FROM _und e JOIN _deg du ON du.x = e.u JOIN _deg dv ON dv.x = e.v),
       |_wed AS (SELECT x.a, x.b AS w1, y.b AS w2
       |  FROM _ori x JOIN _ori y ON x.a = y.a AND x.b < y.b),
       |_clo AS (SELECT a AS c1, b AS c2 FROM _ori WHERE a < b
       |  UNION ALL SELECT b, a FROM _ori WHERE b < a),
       |_tri AS (SELECT w.a, w.w1 AS b, w.w2 AS c
       |  FROM _wed w JOIN _clo ON w.w1 = c1 AND w.w2 = c2),
       |_pv AS (SELECT unnest([a, b, c]) AS vertex FROM _tri)
       |SELECT vertex, count(*) AS triangles FROM _pv
       |GROUP BY vertex ORDER BY vertex""".stripMargin
}
