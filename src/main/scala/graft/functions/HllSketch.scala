package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** HyperLogLog distinct-count sketch as a native Catalyst aggregate —
  * the industry-standard cardinality sketch (Flajolet et al. 2007, with
  * the small-range linear-counting correction): m = 2^p byte registers,
  * each holding the max leading-zero rank seen for its hash bucket.
  * Partials merge by per-register MAX (commutative, associative,
  * idempotent ⇒ partition-order invariant), so a corpus-wide distinct
  * count shuffles m bytes per partition instead of every distinct key —
  * the same contract as [[KmvSketch]] at a different accuracy/size
  * trade (HLL standard error ≈ 1.04/√m ≈ 1.6% at p=12's 4 KB; KMV's
  * k=128 longs ≈ 9%).
  *
  * Versus Spark's built-in `approx_count_distinct` (HLL++): that
  * implementation hashes with an engine-private murmur and applies
  * empirical bias tables, so its decisions cannot be reproduced by
  * another engine. This sketch is an exact deterministic function of
  * the 60-bit [[HashFunctions.portableHash64]] values, and every step —
  * register table, harmonic sum, branch choice — is re-derivable in
  * plain SQL ([[HllSketch.sqlCte]]), which is the point: the gate
  * hash-checks the SKETCH, not the neighborhood of the true count.
  *
  * Determinism across engines: the harmonic denominator is computed in
  * EXACT integer space — Σ_j 2^(S − M[j]) with S = 60−p+1 ≤ 2^(61)
  * total at p ≥ 12 — so no floating sum order can perturb it; the only
  * float steps are one division and (on the small-range branch) one
  * `ln`, both written in the same operation order in both engines and
  * rounded to 6 decimals by the caller.
  *
  * The child must already be the 60-bit portable hash (uniform on
  * [0, 2^60)); hashing stays outside the aggregate (the [[KmvSketch]]/
  * [[BloomSketch]] contract). Register index = top p hash bits; rank
  * rho = leading zeros of the remaining 60−p bits + 1 (all-zero rest →
  * 60−p+1).
  */
final case class HllSketch(
    child: Expression,
    p: Int,
    emitRegisters: Boolean = false,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]]
  with UnaryLike[Expression] {

  require(p >= 7 && p <= 16,
    s"p must be in [7,16] (the estimator uses the m >= 128 alpha form), got $p")

  private val m = 1 << p
  private val restBits = 60 - p

  override def prettyName: String = if (emitRegisters) "hll_registers" else "hll_distinct"
  override def dataType: DataType =
    if (emitRegisters) ArrayType(IntegerType, containsNull = false) else DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hll_distinct expects a pre-hashed LONG child, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val idx = (h >>> restBits).toInt
      val rest = h & ((1L << restBits) - 1)
      val rho = (restBits - (64 - java.lang.Long.numberOfLeadingZeros(rest)) + 1).toByte
      if (rho > buf(idx)) buf(idx) = rho
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any =
    if (emitRegisters) {
      val arr = new Array[Int](m)
      var i = 0
      while (i < m) { arr(i) = buf(i).toInt; i += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    } else HllSketch.estimate(buf, p)

  // defensive copies: the buffer is mutable state and the serialized
  // bytes may alias row-backed storage — never share the array
  override def serialize(buf: Array[Byte]): Array[Byte] = buf.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes.clone()

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketch =
    copy(child = newChild)
}

object HllSketch {

  /** alpha_m for m ≥ 128 (Flajolet et al. 2007 §4) — the SQL twin
    * spells the same literal formula, so both engines compute the
    * identical double.
    */
  def alpha(m: Int): Double = 0.7213 / (1.0 + 1.079 / m)

  /** The estimator over raw registers, in the exact operation order the
    * SQL twin mirrors: integer harmonic denominator, one double
    * division, linear-counting branch when E ≤ 2.5m with empty
    * registers present.
    */
  def estimate(regs: Array[Byte], p: Int): Double = {
    val m = 1 << p
    val s = 60 - p + 1 // max possible rho; 2^(s-rho) terms stay integral
    var denom = 0L
    var zeros = 0
    var i = 0
    while (i < m) {
      denom += 1L << (s - regs(i))
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val raw = alpha(m) * m * m * math.pow(2.0, s) / denom.toDouble
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
    else raw
  }

  /** `hllDistinct(portableHash64(col), p)` as an aggregate Column. */
  def hllDistinct(hashed: Column, p: Int): Column =
    Shim.column(HllSketch(Shim.expression(hashed), p).toAggregateExpression())

  /** The raw register array (m ints) — persistable, mergeable with
    * another sketch by element-wise `greatest` (zip_with), the 100 TB
    * artifact shape: a corpus's cardinality state in 2^p bytes,
    * combinable across sources/snapshots without re-scanning.
    */
  def hllRegisters(hashed: Column, p: Int): Column =
    Shim.column(HllSketch(Shim.expression(hashed), p, emitRegisters = true)
      .toAggregateExpression())

  /** Merge two REGISTER columns (element-wise max) — sketch algebra for
    * union cardinality across corpora.
    */
  def mergeRegisters(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    zip_with(a, b, (x, y) => greatest(x, y))
  }

  /** Estimate from a REGISTER column — same arithmetic as [[estimate]],
    * declaratively (aggregate HOF over the array; exact integer
    * denominator, then the mirrored float steps).
    */
  def estimateRegisters(regs: Column, p: Int): Column = {
    import org.apache.spark.sql.functions._
    val m = 1 << p
    val s = 60 - p + 1
    val denom = aggregate(regs, lit(0L),
      (acc, r) => acc + call_function("shiftleft", lit(1L), lit(s) - r))
    val zeros = aggregate(regs, lit(0),
      (acc, r) => acc + when(r === 0, 1).otherwise(0))
    val raw = lit(alpha(m) * m * m * math.pow(2.0, s)) / denom.cast("double")
    when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
  }

  /** DuckDB twin: CTE chain ending in `_hll(groupCol, est)` — the exact
    * register table (idx, max rho) from the same 60-bit hash, the same
    * integer harmonic denominator, the same branch. `hvExpr` must be
    * the [[HashFunctions.portableHash64Sql]] of the counted expression.
    */
  def sqlCte(groupCol: String, hvExpr: String, fromSql: String, p: Int): String = {
    val m = 1 << p
    val rest = 60 - p
    val s = rest + 1
    // bit_length(rest bits) via DuckDB's bit_count over a monotone mask:
    // rho = rest - floor(log2(x)) for x>0 is float-unsafe; instead use
    // length(bin(x)) which for x>0 is exactly its bit length (no leading
    // zeros), and the x=0 case pins rho = rest+1.
    // NULL discipline mirrors the Scala aggregate exactly: null hashes
    // never reach the register table (the aggregate's update skips
    // them), and the register counts fold over a DISTINCT group SPINE —
    // without the spine a group whose values are all NULL would vanish
    // here while the Spark sketch keeps it at estimate 0.0, and the
    // NULL-idx row would inflate count(*), shifting zeros and denom.
    s"""_hll_g AS (SELECT DISTINCT $groupCol FROM $fromSql),
       |_hll_h AS (SELECT $groupCol, $hvExpr AS hv FROM $fromSql),
       |_hll_rr AS (SELECT $groupCol, CAST(hv >> $rest AS BIGINT) AS idx,
       |    CASE WHEN (hv & ${(1L << rest) - 1}) = 0 THEN ${rest + 1}
       |         ELSE $rest - length(bin(hv & ${(1L << rest) - 1})) + 1 END AS rho
       |  FROM _hll_h WHERE hv IS NOT NULL),
       |_hll_regs AS (SELECT $groupCol, idx, max(rho) AS rho
       |  FROM _hll_rr GROUP BY 1, 2),
       |_hll_sum AS (SELECT $groupCol,
       |    COALESCE(CAST(sum(CAST(1 AS BIGINT) << ($s - rho)) AS BIGINT), 0)
       |      + CAST(($m - count(idx)) AS BIGINT) * ${1L << s} AS denom,
       |    $m - count(idx) AS zeros
       |  FROM _hll_g LEFT JOIN _hll_regs USING ($groupCol) GROUP BY 1),
       |_hll AS (SELECT $groupCol,
       |    CASE WHEN (${alphaSql(m)} * $m * $m * power(2.0, $s)
       |               / CAST(denom AS DOUBLE)) <= 2.5 * $m AND zeros > 0
       |         THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / CAST(zeros AS DOUBLE))
       |         ELSE ${alphaSql(m)} * $m * $m * power(2.0, $s)
       |              / CAST(denom AS DOUBLE) END AS est
       |  FROM _hll_sum)""".stripMargin
  }

  private def alphaSql(m: Int): String =
    s"(0.7213 / (1.0 + 1.079 / CAST($m AS DOUBLE)))"
}
