package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bloom filter as a native Catalyst aggregate — the runtime join-prune
  * sketch: build over the SMALL side's join keys, broadcast the bit
  * array (one row), and filter the BIG side before its shuffle. At
  * 100 TB this is the difference between exchanging every probe row and
  * exchanging only the ~|build|/|probe| fraction that can match — the
  * same idea as Spark's own `runtime.bloomFilter` AQE rewrite, here as
  * an explicit, oracle-checkable operator (Spark's built-in
  * `bloom_filter_agg` hashes with an engine-private murmur, so its
  * pruning decisions can't be cross-checked; this one reuses the
  * portable [[HashFunctions.mixed]] family).
  *
  * Membership can false-positive (bounded by (1−e^{−kn/m})^k) but NEVER
  * false-negative — pruning is sound, and the follow-up exact join makes
  * the composition output-identical to the unpruned join, which is what
  * the gate proves. Partials merge by bitwise OR (commutative,
  * associative, idempotent ⇒ partition-order invariant).
  *
  * Buffer is `numBits/64` longs; `update` sets `numHashes` bits per key
  * via `mixed(h, r) % numBits`. The child must be the 60-bit portable
  * hash (hashing stays outside the aggregate — the [[KmvSketch]]/
  * [[CmsSketch]] contract).
  */
final case class BloomSketch(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(numBits >= 64 && numBits % 64 == 0, s"numBits $numBits must be a positive multiple of 64")
  require(numHashes >= 1 && numHashes <= 16, s"numHashes $numHashes out of [1,16]")

  override def prettyName: String = "bloom_sketch"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_sketch expects a pre-hashed LONG child, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var r = 0
      while (r < numHashes) {
        val idx = BloomSketch.bitIndex(h, r, numBits)
        buf(idx >> 6) |= 1L << (idx & 63)
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
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

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomSketch =
    copy(child = newChild)
}

object BloomSketch {

  /** JVM twin of `mixed(h, r) % numBits` — the r-th bit index of
    * pre-hashed `h` (mixed value < 2⁶² and non-negative, so `%` is plain
    * remainder in both engines).
    */
  def bitIndex(h: Long, r: Int, numBits: Int): Int = {
    val (a, b, c) = HashFunctions.mixConstants(r)
    (HashFunctions.mixedJvm(h, a, b, c) % numBits).toInt
  }

  /** `bloomSketch(portableHash64(col), numBits, numHashes)` as an
    * aggregate Column: the bit array as `numBits/64` longs.
    */
  def bloomSketch(hashed: Column, numBits: Int, numHashes: Int): Column =
    Shim.column(BloomSketch(Shim.expression(hashed), numBits, numHashes).toAggregateExpression())

  /** Membership probe against a DRIVER-COLLECTED sketch — the execution
    * form: the bit array (numBits/64 longs, bounded by the knob, never
    * by the data) embeds in a [[graft.plans.kernels.PortableBloomProbe]]
    * kernel, so the probe is scan + filter with NO join. A probe
    * against a cross-joined sketch COLUMN would stamp the full bit array
    * into every probe row's UnsafeRow — 25× slower at 2¹⁶ bits over
    * 600k rows.
    */
  def mightContainLit(bits: Array[Long], hashed: Column, numHashes: Int): Column =
    Shim.column(graft.plans.kernels.PortableBloomProbe(
      Shim.expression(hashed), bits, numHashes))
}
