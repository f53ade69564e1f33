package graft

import graft.operators.dedup.{NgramContainmentDedup, NgramJaccardDedup}

class ContainmentSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val op = new NgramContainmentDedup(
    textCol = "text", idCol = "id", shingleWidth = 3,
    threshold = 0.8, maxDocFreq = 100)

  private val long =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
  private val excerpt = "lambda mu nu xi omicron pi rho sigma tau upsilon"

  test("containment drops an excerpt that Jaccard cannot see") {
    val df = Seq((1L, long), (2L, excerpt), (3L, "totally different words here entirely novel"))
      .toDF("id", "text")
    val kept = op(df).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // the excerpt (id 2) is contained in id 1
    // Jaccard at the same threshold keeps it: the union dwarfs the overlap
    val jac = new NgramJaccardDedup(
      textCol = "text", idCol = "id", shingleWidth = 3, threshold = 0.8)
    val keptJ = jac(df).select("id").collect().map(_.getLong(0)).toSet
    assert(keptJ == Set(1L, 2L, 3L))
  }

  test("containment is asymmetric: the LATER doc must be the subset") {
    // container arrives later than the excerpt → nothing is contained
    // in an EARLIER doc, both survive
    val df = Seq((1L, excerpt), (2L, long)).toDF("id", "text")
    val kept = op(df).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("verified pairs report the exact containment coefficient") {
    val df = Seq((1L, long), (2L, excerpt)).toDF("id", "text")
    val pairs = op.verifiedPairs(df).collect()
    assert(pairs.length == 1)
    val r = pairs.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0) // every shingle of the excerpt is in the container
  }

  test("rejected rows carry their smallest containing doc") {
    val df = Seq((1L, long), (2L, long + " extra trailing"), (3L, excerpt))
      .toDF("id", "text")
    val rej = op.rejected(df).collect()
    // id 3 contained in both 1 and 2 → representative is min(1);
    // id 2's set ⊇ id 1's but its OWN containment in 1 is also high
    // (only 2 novel shingles) — both dropped against 1
    assert(rej.map(_.getLong(0)).toSet.contains(3L))
    val r3 = rej.find(_.getLong(0) == 3L).get
    val rejStruct = r3.getStruct(r3.fieldIndex(graft.core.Rejection.ColName))
    assert(rejStruct.getString(rejStruct.fieldIndex("representative_id")) == "1")
  }

  test("stop-shingle cap removes hot shingles from the universe first") {
    // a shingle present in ALL docs is removed at cap 2, so doc 4's
    // containment is judged over its remaining (novel) shingles only
    val common = "the quick brown fox jumps"
    val df = Seq(
      (1L, common + " one extra alpha"), (2L, common + " two extra beta"),
      (3L, common + " three extra gamma"), (4L, common + " four extra delta"))
      .toDF("id", "text")
    val capped = new NgramContainmentDedup(
      textCol = "text", idCol = "id", shingleWidth = 3,
      threshold = 0.8, maxDocFreq = 2)
    val kept = capped(df).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L)) // novel tails are disjoint → no drops
  }
}
