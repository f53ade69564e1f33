package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving for multi-dimensional data layout —
  * the file-skipping trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`:
  * range-partitioning and sorting by the interleaved code clusters
  * rows that are close in BOTH dimensions into the same files, so
  * min/max column statistics prune scans for predicates on either
  * dimension (a single-column sort only prunes its own column).
  *
  * The interleave is the classic magic-mask bit spread — five
  * shift-or-mask steps per dimension, expressed as plain Column
  * bitwise arithmetic: whole-stage codegen compiles it to straight
  * JVM long ops (no UDF, no custom expression), and the SAME constant
  * pipeline is emitted as the DuckDB twin, so the gate hash-checks
  * every code. Inputs must be in [0, 2^32): the spread masks to 32
  * bits, and callers with signed/larger domains bias first.
  */
object ZOrder {

  private val Steps = Seq(
    (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
    (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
    (1, 0x5555555555555555L))

  /** The 32-bit value of `c` with a zero bit inserted between every bit. */
  def spread(c: Column): Column =
    Steps.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (x, (s, m)) =>
      x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
    }

  /** 64-bit Morton code: x in even bits, y in odd bits. */
  def morton(x: Column, y: Column): Column =
    spread(x).bitwiseOR(shiftleft(spread(y), 1))

  /** DuckDB twin of [[spread]]. */
  def spreadSql(e: String): String =
    Steps.foldLeft(s"(($e) & ${0xFFFFFFFFL})") { case (x, (s, m)) =>
      s"((($x | ($x << $s))) & $m)"
    }

  /** DuckDB twin of [[morton]]. */
  def mortonSql(x: String, y: String): String =
    s"(${spreadSql(x)} | (${spreadSql(y)} << 1))"
}
