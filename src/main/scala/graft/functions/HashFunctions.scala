package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hashing used by dedup / fingerprint operators.
  *
  * The reference picks xxhash64 > md5 > sha256
  * (reference: operators/dedup/text_exact_dedup.py:74-83). We expose the
  * same choices; Spark's `xxhash64` is the production default (codegen'd,
  * 64-bit, no allocation).
  *
  * `portableHash64` exists for cross-engine differential testing: the
  * DuckDB oracle cannot reproduce Spark's xxhash64 seed, but md5 is
  * bit-identical everywhere, so oracle-checked queries hash with the first
  * 60 bits of md5. Semantics are identical; only the hash family differs,
  * and the operator takes the hash as a parameter.
  */
object HashFunctions {

  /** Production 64-bit hash (Spark built-in xxhash64, whole-stage codegen). */
  def fastHash64(cols: Column*): Column = xxhash64(cols: _*)

  /** Cross-engine-portable 60-bit hash: first 15 hex chars of md5 as a long.
    * Bit-identical in Spark and DuckDB (`CAST(('0x'||substring(md5(x),1,15)) AS BIGINT)`).
    * Computed by the codegen'd [[graft.plans.kernels.PortableHash64]]
    * kernel — one MessageDigest call straight off the digest bytes; the
    * former declarative `conv(substring(md5(cast(cast))))` chain allocated
    * 4 intermediate strings per VALUE, which at one hash per token/gram
    * was the dominant map-side cost of every oracle-parity text operator
    * (r19 measured: the bigram-LM family −30-40% end to end).
    */
  def portableHash64(c: Column): Column =
    graft.plans.kernels.portable_hash64(c.cast("string"))

  /** DuckDB SQL text computing exactly `portableHash64(expr)`. */
  def portableHash64Sql(expr: String): String =
    s"CAST(('0x' || substring(md5($expr), 1, 15)) AS BIGINT)"

  /** Derived hash family for MinHash: one base hash per value, then
    * `h_j = a_j*(h & 2^30-1) + b_j*(h >> 30) + c_j` with per-seed constants
    * in [1, 2^30) — products stay under 2^60, the sum under 2^62, so the
    * arithmetic never overflows a signed 64-bit in either engine (both
    * Spark ANSI and DuckDB error on overflow rather than wrap). One md5
    * instead of `numHashes` md5s per shingle.
    */
  def mixConstants(j: Int): (Long, Long, Long) = {
    val rnd = new scala.util.Random(0x9E3779B9L + j)
    val m = (1L << 30) - 1
    (math.abs(rnd.nextLong()) & m | 1L, math.abs(rnd.nextLong()) & m | 1L,
      math.abs(rnd.nextLong()) & m)
  }

  private val Mask30 = (1L << 30) - 1

  def mixed(h: Column, j: Int): Column = {
    val (a, b, c) = mixConstants(j)
    lit(a) * h.bitwiseAND(lit(Mask30)) + lit(b) * shiftright(h, 30) + lit(c)
  }

  def mixedSql(hExpr: String, j: Int): String = {
    val (a, b, c) = mixConstants(j)
    s"($a * ($hExpr & $Mask30) + $b * ($hExpr >> 30) + $c)"
  }

  /** JVM-side twin of [[mixed]]/[[mixedSql]] for kernel inner loops —
    * the single place the 30-bit-split mix arithmetic lives on the JVM
    * side. Takes the seed's constants as raw longs: callers hoist
    * [[mixConstants]] once into long fields (fixed seeds) or
    * [[mixConstantArrays]] (seed loops), so the inner loop never reads
    * a boxed tuple.
    */
  @inline def mixedJvm(h: Long, a: Long, b: Long, c: Long): Long =
    a * (h & Mask30) + b * (h >> 30) + c

  /** [[mixConstants]] of seeds `0 until n` as three arrays `(a, b, c)`. */
  def mixConstantArrays(n: Int): (Array[Long], Array[Long], Array[Long]) = {
    val cs = (0 until n).map(mixConstants)
    (cs.map(_._1).toArray, cs.map(_._2).toArray, cs.map(_._3).toArray)
  }

  def hashByName(algorithm: String)(c: Column): Column = algorithm match {
    case "xxhash64" => fastHash64(c)
    case "md5"      => md5(c.cast("string").cast("binary"))
    case "sha256"   => sha2(c.cast("string").cast("binary"), 256)
    case "portable" => portableHash64(c)
    case other      => throw new IllegalArgumentException(s"unknown hash: $other")
  }
}
