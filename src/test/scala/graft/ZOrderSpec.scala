package graft

import graft.functions.ZOrder
import org.apache.spark.sql.functions._

class ZOrderSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def m(x: Long, y: Long): Long =
    Seq((x, y)).toDF("x", "y")
      .select(ZOrder.morton(col("x"), col("y"))).as[Long].head()

  test("morton interleaves bits: x even, y odd") {
    assert(m(0, 0) == 0L)
    assert(m(1, 0) == 1L)
    assert(m(0, 1) == 2L)
    assert(m(3, 5) == 39L) // spread(3)=0b101=5, spread(5)=0b10001=17 -> 5|34
    assert(m(0xFFFFFFFFL, 0) == 0x5555555555555555L)
    assert(m(0, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
  }

  test("morton is monotone per dimension with the other fixed") {
    val xs = (0L until 64L).map(m(_, 7L))
    assert(xs == xs.sorted)
    val ys = (0L until 64L).map(m(7L, _))
    assert(ys == ys.sorted)
  }

}
