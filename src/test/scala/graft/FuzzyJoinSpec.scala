package graft

import graft.operators.text.FuzzyJoin
import org.apache.spark.sql.functions._

class FuzzyJoinSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private val op = new FuzzyJoin("lkey", "lname", "rkey", "rname",
    maxDistance = 2, q = 3, maxGramKeys = 10)

  test("matches within distance, rejects beyond, exact included") {
    val left = Seq((1L, "jonathan smith"), (2L, "maria garcia"), (3L, "wei chen"))
      .toDF("lkey", "lname")
    val right = Seq(
      (11L, "jonathan smyth"),   // 1 sub -> match
      (12L, "maria garcia"),     // exact -> dist 0
      (13L, "completely other")  // no
    ).toDF("rkey", "rname")
    val got = op.pairs(left, right)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 11L, 1L), (2L, 12L, 0L)))
  }

  test("hot grams are dropped: a shared prefix alone yields no candidates") {
    // 12 rows per side sharing ONLY the prefix grams (freq 24 > cap 10):
    // suffix alphabets are disjoint (left a-m, right n-z), so suffix
    // grams never match across sides and the prefix is the only bridge
    val left = (0 until 12).map(i =>
      (i.toLong, s"prefix_shared_${('a' + i).toChar}${('b' + i).toChar}"))
      .toDF("lkey", "lname")
    val right = (0 until 12).map(i =>
      (100L + i, s"prefix_shared_${('n' + i).toChar}${('o' + i).toChar}"))
      .toDF("rkey", "rname")
    // cross-side suffix distances are exactly 2 (two substitutions), but
    // every SHARED gram is hot -> no candidates at all
    val strict = new FuzzyJoin("lkey", "lname", "rkey", "rname",
      maxDistance = 2, q = 3, maxGramKeys = 10)
    assert(strict.pairs(left, right).count() == 0)
    // raising the cap restores them
    val loose = new FuzzyJoin("lkey", "lname", "rkey", "rname",
      maxDistance = 2, q = 3, maxGramKeys = 1000)
    assert(loose.pairs(left, right).count() > 0)
  }

  test("no cartesian in the plan; candidates join on the gram") {
    val left = Seq((1L, "abcdefgh")).toDF("lkey", "lname")
    val right = Seq((2L, "abcdefgx")).toDF("rkey", "rname")
    val p = op.pairs(left, right).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q-gram recall: any 2-edit perturbation of a long random string is found") {
    val rnd = new scala.util.Random(42)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val bases = (1 to 30).map(i => (i.toLong, randStr(24)))
    val perturbed = bases.map { case (i, s) =>
      val chars = s.toCharArray
      chars(rnd.nextInt(chars.length)) = '0'
      chars(rnd.nextInt(chars.length)) = '1'
      (100L + i, new String(chars))
    }
    val found = new FuzzyJoin("lkey", "lname", "rkey", "rname",
      maxDistance = 2, q = 3, maxGramKeys = 1000)
      .pairs(bases.toDF("lkey", "lname"), perturbed.toDF("rkey", "rname"))
      .where(col("rkey") === col("lkey") + 100L).count()
    assert(found == 30L, s"recall hole: only $found of 30 perturbations matched")
  }
}
