package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, ExpressionInfo,
  ExprId, GetStructField, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Filter, Join, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Engine integration with Spark's extension points
  * (`SparkSessionExtensions`) — the idiomatic packaging for custom
  * Catalyst surfaces, applied via `.withExtensions(new GraftExtensions)`
  * in [[graft.core.GraftSession]]:
  *
  *   1. The kernel expressions become native SQL functions
  *      (`strip_accents`, `array_cosine`, `unicode_normalize`,
  *      `shingle_hashes`, plus the `kmv_distinct` sketch aggregate) —
  *      `spark.sql("SELECT strip_accents(text) …")`
  *      plans the same Catalyst expression as the Column API, zero UDF
  *      overhead, and the names deliberately match the DuckDB oracle
  *      dialect so gate SQL reads the same on both engines.
  *
  *   2. [[VectorCartesianGuard]], an optimizer rule that FAILS any plan
  *      joining two embedding-carrying relations without a join
  *      condition — the registry's no-cartesian invariant
  *      ([[graft.runner.OperatorRegistry]]) enforced one level deeper,
  *      where it also catches hand-written DataFrame code. Opt-in
  *      (`spark.graft.failOnVectorCartesian=true`) because the
  *      query-side-small brute-force ANN tiers cross-join embeddings
  *      legitimately.
  *
  *   3. [[ReuseExposedKernel]], an optimizer rule that makes a Filter or
  *      Project read a kernel result an earlier operator already exposed
  *      as a column, instead of evaluating the kernel again.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[kernels.StripAccents].getName, null, name, usage, "")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("strip_accents"),
      info("strip_accents", "strip_accents(str) - accent fold: NFD, drop combining marks, NFC"),
      (args: Seq[Expression]) => kernels.StripAccents(args.head)))

    ext.injectFunction((FunctionIdentifier("array_cosine"),
      info("array_cosine", "array_cosine(a, b) - cosine similarity of two numeric arrays"),
      (args: Seq[Expression]) => kernels.ArrayCosine(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize", "unicode_normalize(str[, form[, strip_controls]]) - Unicode normalization"),
      (args: Seq[Expression]) => kernels.UnicodeNormalize(
        args.head,
        if (args.length > 1) args(1) match {
          case Literal(f, _) => String.valueOf(f)
          case other => throw new IllegalArgumentException(s"form must be a literal, got $other")
        } else "NFC",
        if (args.length > 2) args(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(s"strip_controls must be a boolean literal, got $other")
        } else false)))

    ext.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(str, w) - xxhash64 of the w-token shingles"),
      (args: Seq[Expression]) => kernels.ShingleHashes(args(0), intLit(args(1), "shingle width"))))

    ext.injectFunction((FunctionIdentifier("kmv_distinct"),
      info("kmv_distinct", "kmv_distinct(hash64, k) - KMV distinct-count sketch over a pre-hashed column"),
      (args: Seq[Expression]) => graft.functions.KmvSketch(
        args(0), intLit(args(1), "k")).toAggregateExpression()))

    ext.injectFunction((FunctionIdentifier("topk_values"),
      info("topk_values",
        "topk_values(v, k[, largest]) - mergeable bounded top-k aggregate (map-side k-element heaps)"),
      (args: Seq[Expression]) => graft.functions.TopKAgg(
        args(0), intLit(args(1), "k"),
        if (args.length > 2) args(2) match {
          case Literal(b: Boolean, _) => b
          case other => throw new IllegalArgumentException(
            s"largest must be a boolean literal, got $other")
        } else true).toAggregateExpression()))

    ext.injectOptimizerRule(session => new VectorCartesianGuard(session))
    ext.injectOptimizerRule(_ => ReuseExposedKernel)
  }
}

/** Fails (rather than silently plans) a join with NO condition where
  * BOTH inputs carry float/double array columns — at 100 TB that plan
  * is an O(n·m) shuffle of full embedding vectors, and it is always a
  * bug outside the deliberately query-side-small ANN brute tiers. The
  * optimizer sees the plan AFTER join-condition pushdown, so an inner
  * join whose predicate compares the two sides has a condition by now
  * and passes; only a genuine cartesian of two vector relations trips.
  * Running in the operator-optimization batch also means column pruning
  * has happened: a cartesian whose vector columns were pruned away
  * (e.g. a bare count over the product) does NOT trip — correctly,
  * since no vectors ride that shuffle.
  *
  * Off by default (`spark.graft.failOnVectorCartesian`, default
  * false); turn it on in production jobs where no brute-force tier is
  * expected.
  */
class VectorCartesianGuard(session: org.apache.spark.sql.SparkSession)
    extends Rule[LogicalPlan] {

  private def carriesVectors(plan: LogicalPlan): Boolean =
    plan.output.exists(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val on = session.conf.getOption("spark.graft.failOnVectorCartesian").contains("true")
    if (on) plan.foreach {
      case j: Join if j.condition.isEmpty &&
          carriesVectors(j.left) && carriesVectors(j.right) =>
        throw new IllegalStateException(
          "Cartesian join of two embedding-carrying relations: at scale this " +
          "shuffles O(n*m) full vectors. Bucket one side (LSH / k-means / IVF) " +
          "or join on a key; if the cross product is genuinely intended " +
          "(query-side-small brute force), unset spark.graft.failOnVectorCartesian.")
      case _ => ()
    }
    plan
  }
}

/** Each kernel once per row across operator boundaries. Where a Filter
  * condition or a Project list evaluates a deterministic
  * [[graft.plans.kernels]] expression, or a struct field of one, and a
  * descendant Project already exposes an attribute that is
  * `semanticEquals` to it after alias substitution, the expression is
  * replaced by that attribute — provided the attribute still reaches the
  * node (it is in the child's output). `c4_quality_filter` after
  * `c4_clean` is the case in point: `c4_keep := _c4.keep` over
  * `_c4 := c4signals(coalesce(text, ''), 5, 3)` equals the filter's
  * `c4signals(coalesce(text, ''), 5, 3).keep`, so the filter reads
  * `c4_keep` and the kernel runs once.
  *
  * The search walks down through Project, Filter and CollectMetrics,
  * which pass columns through unchanged (the runner's per-operator
  * observations are CollectMetrics), and sees the stacked Projects as
  * well as the form CollapseProject merges. Expression ids keep it
  * sound: a kernel over a different attribute, or with different
  * parameters, is not equal. Plans without kernels exit early.
  *
  * Disposition mode (reject routing) is out of scope: there each
  * refiner column is `when(alive, c)`, which differs from `c` on dead
  * rows, so it is not equal and the rule does not fire.
  */
object ReuseExposedKernel extends Rule[LogicalPlan] {

  private def isKernel(e: Expression): Boolean =
    e.getClass.getName.startsWith("graft.plans.kernels$")

  private def reusable(e: Expression): Boolean = e.deterministic && (e match {
    case GetStructField(k, _, _) => isKernel(k)
    case k => isKernel(k)
  })

  /** Rewrites `exprs` to read the attributes of `child` that expose the
    * same kernel results, or returns None when nothing matches.
    */
  private def rewrite[E <: Expression](exprs: Seq[E], child: LogicalPlan): Option[Seq[E]] = {
    val defs = scala.collection.mutable.Map.empty[ExprId, Expression]
    def walk(p: LogicalPlan): Unit = p match {
      case Project(list, c) =>
        list.foreach { case a: Alias => defs(a.exprId) = a.child; case _ => () }
        walk(c)
      case Filter(_, c) => walk(c)
      case c: CollectMetrics => walk(c.child)
      case _ => ()
    }
    walk(child)
    if (defs.isEmpty) return None
    def expand(e: Expression, seen: Set[ExprId] = Set.empty): Expression = e.transformDown {
      case a: Attribute if defs.contains(a.exprId) && !seen(a.exprId) =>
        expand(defs(a.exprId), seen + a.exprId)
    }
    val exposed = child.output.flatMap(a =>
      defs.get(a.exprId).map(d => expand(d, Set(a.exprId)) -> a))
      .filter { case (d, _) => d.exists(isKernel) }
    if (exposed.isEmpty) return None
    var hit = false
    val out = exprs.map(_.transformDown {
      case k if reusable(k) =>
        val ek = expand(k)
        exposed.find(_._1.semanticEquals(ek)).map { case (_, a) => hit = true; a }.getOrElse(k)
    }.asInstanceOf[E])
    if (hit) Some(out) else None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.exists(_.expressions.exists(_.exists(isKernel)))) plan
    else plan.transformUp {
      case f @ Filter(cond, child) if cond.exists(isKernel) =>
        rewrite(Seq(cond), child).map(c => f.copy(condition = c.head)).getOrElse(f)
      case p @ Project(list, child) if list.exists(_.exists(isKernel)) =>
        rewrite[NamedExpression](list, child).map(l => p.copy(projectList = l)).getOrElse(p)
    }
}
