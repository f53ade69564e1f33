package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Count-Min Sketch (Cormode & Muthukrishnan 2005) as a native Catalyst
  * aggregate — the mergeable frequency sketch for heavy-hitter / token
  * statistics at 100 TB: `depth × width` long counters per partition,
  * partials merge by elementwise ADD (commutative and associative, so
  * the result is independent of partition count and merge order — what
  * makes a DuckDB oracle possible), and a point estimate for key `h` is
  * `min over rows r of counter[r][bucket_r(h)]`, an upper bound on the
  * true count with one-sided error ≤ e·Σcounts/width at probability
  * 1 − e^−depth.
  *
  * Row hashes reuse [[HashFunctions.mixed]] — the same per-seed
  * `a_j·(h & 2³⁰−1) + b_j·(h ≫ 30) + c_j` family MinHash uses, overflow-
  * free in signed 64-bit for both engines and SQL-expressible
  * ([[HashFunctions.mixedSql]]), so the oracle REBUILDS the identical
  * sketch from the raw corpus: same buckets, same counters, exact long
  * equality. The child must already be the 60-bit portable hash
  * (hashing stays outside the aggregate, the [[KmvSketch]] contract).
  *
  * Spark's built-in `count_min_sketch` exists but hashes with an
  * engine-private murmur — unverifiable cross-engine; this one trades
  * nothing else.
  */
final case class CmsSketch(
    child: Expression,
    depth: Int,
    width: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(depth >= 1 && depth <= 16, s"depth $depth out of [1,16]")
  require(width >= 2, s"width $width must be >= 2")

  override def prettyName: String = "cms_sketch"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects a pre-hashed LONG child, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var r = 0
      while (r < depth) {
        buf(r * width + CmsSketch.bucket(h, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketch =
    copy(child = newChild)
}

object CmsSketch {

  /** JVM twin of [[HashFunctions.mixed]]`(h, r) % width` — bucket of
    * pre-hashed `h` in row `r`. `h` is 60-bit non-negative and the mixed
    * value < 2⁶², so `%` is plain non-negative remainder in both engines.
    */
  def bucket(h: Long, r: Int, width: Int): Int = {
    val (a, b, c) = HashFunctions.mixConstants(r)
    (HashFunctions.mixedJvm(h, a, b, c) % width).toInt
  }

  /** `cmsSketch(portableHash64(col), depth, width)` as an aggregate
    * Column: the flat `depth × width` counter array (row-major).
    */
  def cmsSketch(hashed: Column, depth: Int, width: Int): Column =
    Shim.column(CmsSketch(Shim.expression(hashed), depth, width).toAggregateExpression())

  /** Point estimate from a SKETCH column for a plan-time-known key:
    * min over rows of the key's counter. `hashed` must be the same
    * pre-hash used to build the sketch; with a literal key the whole
    * index arithmetic constant-folds.
    */
  def estimate(sketch: Column, hashed: Column, depth: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    val cells = (0 until depth).map { r =>
      val bkt = pmod(HashFunctions.mixed(hashed, r), lit(width.toLong))
      element_at(sketch, (lit(r.toLong * width) + bkt + 1L).cast("int"))
    }
    least(cells: _*)
  }

  /** DuckDB twin of [[estimate]] over rebuilt per-row bucket counts:
    * emits a CTE chain `_cms_in(h)` → `_cms_ct(r, bkt, c)` from
    * `hvExpr` rows of `fromSql`, unrolled per sketch row with the same
    * mixed-hash constants. Use `estimateSql` for each probe key.
    */
  def rebuildCteSql(hvExpr: String, fromSql: String, depth: Int, width: Int): String = {
    val rows = (0 until depth).map { r =>
      s"SELECT $r AS r, (${HashFunctions.mixedSql("h", r)}) % $width AS bkt FROM _cms_in"
    }.mkString("\n    UNION ALL ")
    s"""_cms_in AS (SELECT $hvExpr AS h FROM $fromSql),
       |_cms_ct AS (SELECT r, bkt, count(*) AS c FROM (
       |    $rows) GROUP BY r, bkt)""".stripMargin
  }

  /** Estimate for one probe hash SQL `hExpr` (scalar subquery). */
  def estimateSql(hExpr: String, depth: Int, width: Int): String = {
    val cells = (0 until depth).map { r =>
      s"coalesce((SELECT c FROM _cms_ct WHERE r = $r AND bkt = (${HashFunctions.mixedSql(s"($hExpr)", r)}) % $width), 0)"
    }
    s"least(${cells.mkString(", ")})"
  }
}
