package graft

import graft.functions.{BloomSketch, HashFunctions}
import org.apache.spark.sql.functions._

class BloomSpec extends ScopedSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val Bits = 1 << 14
  private val K = 4

  private def sketchOf(ids: Seq[Long]) =
    ids.toDF("id").agg(BloomSketch.bloomSketch(
      HashFunctions.portableHash64(col("id")), Bits, K).as("bf"))

  // the collected bit array of a one-row sketch frame
  private def bitsOf(sketch: org.apache.spark.sql.DataFrame): Array[Long] =
    sketch.head().getSeq[Long](0).toArray

  private def probe(bits: Array[Long], key: String) =
    BloomSketch.mightContainLit(bits, HashFunctions.portableHash64(col(key)), K)

  test("bloom: zero false negatives — every inserted key probes true") {
    val ids = (0L until 2000L).map(_ * 7919L)
    val hits = ids.toDF("id").where(probe(bitsOf(sketchOf(ids)), "id")).count()
    assert(hits == ids.size)
  }

  test("bloom: false-positive rate is near theory for a sized filter") {
    val inserted = (0L until 1000L).map(_ * 7919L)
    val absent = (1L to 20000L).map(_ * 104729L + 13L)
    val fp = absent.toDF("id").where(probe(bitsOf(sketchOf(inserted)), "id")).count()
    // n=1000, m=2^14, k=4 → (1-e^(-kn/m))^k ≈ 0.0024; allow 4× slack
    assert(fp.toDouble / absent.size < 0.01, s"fp rate ${fp.toDouble / absent.size}")
  }

  test("bloom: sketch is invariant to partitioning (OR-merge order)") {
    val df = spark.range(0, 5000).select((col("id") * 2654435761L).as("id"))
    val a = df.agg(BloomSketch.bloomSketch(
      HashFunctions.portableHash64(col("id")), Bits, K)).head.getSeq[Long](0)
    val b = df.repartition(13).agg(BloomSketch.bloomSketch(
      HashFunctions.portableHash64(col("id")), Bits, K)).head.getSeq[Long](0)
    assert(a == b)
  }

  test("bloom prune + exact semi join ≡ plain semi join (pruning is sound)") {
    val keys = spark.range(0, 10000).select(col("id").as("k"))
    val build = spark.range(0, 10000).where(col("id") % 97 === 0).select(col("id").as("bk"))
    val sketch = build.agg(BloomSketch.bloomSketch(
      HashFunctions.portableHash64(col("bk")), Bits, K).as("bf"))
    val pruned = keys.where(probe(bitsOf(sketch), "k"))
      .join(build, col("k") === col("bk"), "left_semi")
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    val plain = keys.join(build, col("k") === col("bk"), "left_semi")
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(pruned == plain)
  }

  test("adaptive bloom semi join: guard picks plain below the threshold, prune above; output identical") {
    import graft.core.BloomSemiJoin
    val fact = spark.range(0, 20000).select(col("id").as("k"))
    val dim = spark.range(0, 20000).where(col("id") % 97 === 0).select(col("id").as("bk"))
    // the guard reads Catalyst's size estimate — force both sides of it
    assert(!BloomSemiJoin.wouldPrune(fact, minFactBytes = Long.MaxValue))
    assert(BloomSemiJoin.wouldPrune(fact, minFactBytes = 1L))
    val viaPlain = BloomSemiJoin(fact, dim, col("k"), col("bk"),
        numBits = Bits, numHashes = K, minFactBytes = Long.MaxValue)
    val viaBloom = BloomSemiJoin(fact, dim, col("k"), col("bk"),
        numBits = Bits, numHashes = K, minFactBytes = 1L)
    // path check: only the pruned plan carries the embedded-literal
    // probe kernel (the sketch AGGREGATE ran eagerly at build time —
    // the collected bits live in the expression, not the plan)
    assert(!TestSpark.planOf(viaPlain).contains("portable_bloom_probe"))
    assert(TestSpark.planOf(viaBloom).contains("portable_bloom_probe"))
    // performance guard never changes results
    assert(viaPlain.orderBy("k").collect().map(_.getLong(0)).toSeq ==
      viaBloom.orderBy("k").collect().map(_.getLong(0)).toSeq)
  }

  test("bloom: literal-embedded probe decides exactly like a driver-side bit check") {
    val inserted = (0L until 1000L).map(_ * 7919L)
    val mixed = inserted ++ (1L to 5000L).map(_ * 104729L + 13L)
    val bits = bitsOf(sketchOf(inserted))
    val viaLit = mixed.toDF("id").where(probe(bits, "id"))
      .collect().map(_.getLong(0)).toSet
    // the reference: every one of the K bit indices of the key's hash is set
    val hashed = mixed.toDF("id")
      .select(col("id"), HashFunctions.portableHash64(col("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val viaBits = hashed.collect { case (id, h) if (0 until K).forall { r =>
      val i = BloomSketch.bitIndex(h, r, Bits)
      (bits(i >> 6) >>> (i & 63) & 1L) == 1L
    } => id }.toSet
    assert(viaLit == viaBits)
    assert(inserted.toSet.subsetOf(viaLit), "literal probe false-negatived an inserted key")
  }

  test("bloom: the probe-side filter sits under the semi join's exchange") {
    val keys = spark.range(0, 1000).select(col("id").as("k"))
    val build = spark.range(0, 1000).where(col("id") % 97 === 0).select(col("id").as("bk"))
    val sketch = build.agg(BloomSketch.bloomSketch(
      HashFunctions.portableHash64(col("bk")), Bits, K).as("bf"))
    val q = keys.where(probe(bitsOf(sketch), "k"))
      .join(build.hint("merge"), col("k") === col("bk"), "left_semi")
    val plan = TestSpark.planOf(q)
    // shape: SortMergeJoin above, the bloom Filter strictly below the
    // probe side's Exchange — i.e. pruned rows never ride the shuffle
    val joinAt = plan.indexOf("SortMergeJoin")
    val filterAt = plan.indexOf("portable_bloom_probe")
    assert(joinAt >= 0 && filterAt > joinAt,
      s"expected bloom probe below the join:\n$plan")
  }
}
