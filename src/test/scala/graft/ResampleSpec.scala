package graft

import graft.operators.text.{HoldoutSplitRefiner, LengthPercentileClipFilter, TemperatureSampleFilter}
import graft.operators.vector.{EmbeddingQuantizer, MatryoshkaTruncate}
import org.apache.spark.sql.functions._

class ResampleSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def docs = table("documents")
  private def embs = table("embeddings")

  // ---- temperature sampling ----

  test("temperature: alpha=1 keeps everything, alpha=0 equalizes toward the smallest source") {
    val n = docs.count()
    assert(new TemperatureSampleFilter(alpha = 1.0, idCol = "doc_id")(docs).count() == n)
    val eq = new TemperatureSampleFilter(alpha = 0.0, idCol = "doc_id")(docs)
    val perSource = eq.groupBy("source").count().as[(String, Long)].collect().toMap
    val minSource = docs.groupBy("source").count().as[(String, Long)].collect().map(_._2).min
    // each source's kept count is binomial around the smallest source's size
    perSource.values.foreach(c => assert(c <= minSource * 2 && c >= minSource / 2,
      s"alpha=0 kept $c, expected ≈$minSource"))
  }

  test("temperature: smallest source survives whole; kept set is salt-stable") {
    val smallest = docs.groupBy("source").count().orderBy(col("count"), col("source"))
      .select("source").as[String].first()
    val op = new TemperatureSampleFilter(alpha = 0.3, idCol = "doc_id", salt = "s")
    val kept = op(docs)
    assert(kept.filter(col("source") === smallest).count() ==
      docs.filter(col("source") === smallest).count())
    val again = op(docs).select("doc_id").as[Long].collect().toSet
    assert(again == kept.select("doc_id").as[Long].collect().toSet)
    // kept + rejected partition the corpus
    assert(kept.count() + op.rejected(docs).count() == docs.count())
  }

  test("temperature: verdict arrives by broadcast, not a document shuffle") {
    val plan = planOf(new TemperatureSampleFilter(alpha = 0.5, idCol = "doc_id")(docs))
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"expected broadcast threshold join, got:\n$plan")
  }

  // ---- holdout split ----

  test("holdout: fraction lands near target, tags are stable, salts independent") {
    val op = new HoldoutSplitRefiner(valFraction = 0.2, idCol = "doc_id", salt = "a")
    val out = op(docs)
    val valN = out.filter(col("split") === "val").count().toDouble
    val frac = valN / out.count()
    assert(frac > 0.1 && frac < 0.3, s"val fraction $frac far from 0.2")
    // same salt => same carve; different salt => (almost surely) different
    val v1 = op(docs).filter(col("split") === "val").select("doc_id").as[Long].collect().toSet
    val v2 = new HoldoutSplitRefiner(valFraction = 0.2, idCol = "doc_id", salt = "b")(docs)
      .filter(col("split") === "val").select("doc_id").as[Long].collect().toSet
    assert(op(docs).filter(col("split") === "val")
      .select("doc_id").as[Long].collect().toSet == v1)
    assert(v1 != v2, "independent salts produced the identical carve")
  }

  // ---- length percentile clip ----

  test("length clip: band respects corpus quantiles; extremes are dropped") {
    val op = new LengthPercentileClipFilter(pLow = 0.1, pHigh = 0.9)
    val kept = op(docs)
    val counts = docs.select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .as[Long].collect().sorted
    val keptCounts = kept.select(graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
      .as[Long].collect()
    assert(keptCounts.min >= counts.head && keptCounts.max <= counts.last)
    assert(kept.count() < docs.count(), "nothing clipped — vacuous for this fixture")
    assert(kept.count() + op.rejected(docs).count() == docs.count())
    // shortest doc in the corpus must be gone at p10
    assert(keptCounts.min > counts.head || counts.head == counts(counts.length / 10))
  }

  // ---- embedding quantization ----

  test("quantize: codes bounded, zero/null vectors safe, dequant error within scale/2") {
    val out = new EmbeddingQuantizer()(embs)
      .select(col("vec_id"), col("embedding"), col("scale"), col("codes"))
      .as[(Long, Seq[Float], Double, Seq[Int])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, emb, scale, codes) =>
      assert(codes.length == emb.length)
      assert(codes.forall(c => c >= -127 && c <= 127), s"vec $id code out of range")
      emb.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * scale) <= scale / 2 + 1e-9,
          s"vec $id dequant error beyond scale/2")
      }
    }
    val degenerate = Seq((1L, Seq(0f, 0f)), (2L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val d = new EmbeddingQuantizer()(degenerate)
      .select("vec_id", "codes").as[(Long, Option[Seq[Int]])].collect().toMap
    assert(d(1L).contains(Seq(0, 0)))
    assert(d(2L).isEmpty)
  }

  // ---- matryoshka truncation ----

  test("matryoshka: output is unit-norm in the truncated space, prefix-proportional") {
    val out = new MatryoshkaTruncate(dims = 8)(embs)
      .select(col("vec_id"), col("embedding"), col("embedding_truncated"))
      .as[(Long, Seq[Float], Seq[Double])].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, emb, tr) =>
      assert(tr.length == math.min(8, emb.length))
      val norm = math.sqrt(tr.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"vec $id norm $norm (rounded to 6dp upstream)")
      // direction preserved: truncated[i]/truncated[j] == emb[i]/emb[j]
      val i = emb.indexWhere(math.abs(_) > 1e-3)
      val j = emb.lastIndexWhere(math.abs(_) > 1e-3, 7)
      if (i >= 0 && j >= 0 && i != j)
        assert(math.abs(tr(i) / tr(j) - emb(i).toDouble / emb(j)) < 1e-2, s"vec $id direction bent")
    }
  }

  // ---- epoch upsample ----

  test("epoch upsample: floor copies + deterministic fractional extras, zero drops") {
    val docs = (1L to 1000L).map(i => (i, if (i % 2 == 0) "hot" else "cold"))
      .toDF("doc_id", "source")
    val op = new graft.operators.text.EpochUpsample(
      epochs = Map("hot" -> 2.5, "cold" -> 0.0), defaultEpochs = 1.0)
    val out = op(docs)
    // cold gone entirely
    assert(out.filter(col("source") === "cold").count() == 0)
    // hot: every doc gets 2 or 3 copies; total within binomial range of 2.5x
    val perDoc = out.filter(col("source") === "hot")
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(perDoc.forall(c => c == 2L || c == 3L))
    val total = perDoc.sum
    assert(total > 500 * 2.25 && total < 500 * 2.75, s"total $total")
    // copy ordinals are dense from 0 for every expanded doc
    val ord = out.filter(col("source") === "hot").groupBy("doc_id")
      .agg(min(col("epoch_copy")).as("mn"), max(col("epoch_copy")).as("mx"),
        count(lit(1)).as("c"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("c") - 1).count()
    assert(ord == 0L)
    // determinism: a second run emits the identical multiset
    val again = op(docs)
    assert(out.groupBy("doc_id").count().collect().toSet ==
      again.groupBy("doc_id").count().collect().toSet)
  }

  test("epoch upsample: pure generate — no exchange in the plan") {
    val docs = Seq((1L, "a")).toDF("doc_id", "source")
    val p = new graft.operators.text.EpochUpsample(Map("a" -> 2.5))(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  // ---- embedding simhash ----

  test("embedding simhash: parallel vectors share a signature, opposite vectors don't") {
    val op = new graft.operators.vector.EmbeddingSimHash(
      vecCol = "v", idCol = "id", orderCol = "id", bits = 16, dims = 4, seed = 7L)
    val df = Seq(
      (1L, Seq(1f, 2f, 3f, 4f)),
      (2L, Seq(2f, 4f, 6f, 8f)),      // same direction => same signs everywhere
      (3L, Seq(-1f, -2f, -3f, -4f))   // antipodal => every bit flips
    ).toDF("id", "v")
    val sig = df.select(col("id"), op.signature(col("v")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L), "parallel vectors must collide")
    assert(sig(1L) == (~sig(3L) & ((1L << 16) - 1)), "antipodal must be the bit complement")
    // dedup keeps the first of the colliding pair
    val kept = op(df).select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("embedding simhash: hyperplanes are seed-deterministic and bounded") {
    val a = new graft.operators.vector.EmbeddingSimHash(bits = 8, dims = 16, seed = 42L)
    val b = new graft.operators.vector.EmbeddingSimHash(bits = 8, dims = 16, seed = 42L)
    val c = new graft.operators.vector.EmbeddingSimHash(bits = 8, dims = 16, seed = 43L)
    assert(a.planes.flatten.toSeq == b.planes.flatten.toSeq)
    assert(a.planes.flatten.toSeq != c.planes.flatten.toSeq)
    assert(a.planes.flatten.forall(v => v >= -1.0 && v < 1.0))
  }

  test("matryoshka: dims beyond the vector length clamps; zero vector maps to null") {
    val tiny = Seq((1L, Seq(3f, 4f)), (2L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    val out = new MatryoshkaTruncate(dims = 8)(tiny)
      .select("vec_id", "embedding_truncated").as[(Long, Option[Seq[Double]])].collect().toMap
    assert(out(1L).contains(Seq(0.6, 0.8)))
    assert(out(2L).isEmpty)
  }

  // ---- Product quantization ----

  test("pq: a vector assembled from centroids encodes to exactly those codes, ADC 0") {
    import spark.implicits._
    val pq = new graft.operators.vector.ProductQuantizer(
      vecCol = "v", dims = 64, numSubspaces = 8, numCentroids = 16, seed = 23L)
    val ks = Array(3, 0, 15, 7, 9, 1, 12, 5)
    val vec = (0 until 8).flatMap(m => pq.codebook(m)(ks(m)).map(_.toFloat))
    val df = Seq((1L, vec)).toDF("id", "v")
    val packed = pq(df).select("pq_code").head().getLong(0)
    val expected = (0 until 8).map(m => ks(m).toLong * math.pow(16, m).toLong).sum
    assert(packed == expected)
    // ADC of the query equal to that same assembled vector is exactly 0
    val q = (0 until 8).flatMap(m => pq.codebook(m)(ks(m))).toArray
    val adc = pq(df).select(pq.adcDistance(org.apache.spark.sql.functions.col("pq_code"), q))
      .head().getDouble(0)
    assert(adc == 0.0)
  }

  test("pq: encode is partition-invariant and codes stay in range") {
    val pq = new graft.operators.vector.ProductQuantizer(
      vecCol = "embedding", dims = 64, numSubspaces = 8, numCentroids = 16, seed = 23L)
    val emb = TestSpark.table("embeddings")
    val a = pq(emb).select("vec_id", "pq_code").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = pq(emb.repartition(7)).select("vec_id", "pq_code").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    val lim = math.pow(16, 8).toLong
    assert(a.forall { case (_, c) => c >= 0L && c < lim })
  }

  test("pq: ADC top-k recalls the exact-distance neighbor for a planted near-dup") {
    import spark.implicits._
    val pq = new graft.operators.vector.ProductQuantizer(
      vecCol = "v", dims = 64, numSubspaces = 8, numCentroids = 16, seed = 23L)
    // target = centroid-assembled vector; distractors = other centroids
    val ks = Array(2, 4, 6, 8, 10, 12, 14, 1)
    val target = (0 until 8).flatMap(m => pq.codebook(m)(ks(m)).map(_.toFloat))
    val rows = (0 until 16).map { j =>
      val v = (0 until 8).flatMap(m => pq.codebook(m)((ks(m) + j) % 16).map(_.toFloat))
      (j.toLong, v)
    }
    val df = rows.toDF("id", "v")
    val q = (0 until 8).flatMap(m => pq.codebook(m)(ks(m))).toArray
    val top = pq(df)
      .select(org.apache.spark.sql.functions.col("id"),
        pq.adcDistance(org.apache.spark.sql.functions.col("pq_code"), q).as("adc"))
      .orderBy("adc", "id").limit(1).head()
    assert(top.getLong(0) == 0L && top.getDouble(1) == 0.0)
  }

  test("hashed doc embedding: unit norm, lexical-overlap cosine ordering, null on no tokens") {
    import graft.operators.vector.HashedDocEmbedding
    import TestSpark.spark.implicits._
    val op = new HashedDocEmbedding("text", "id", dims = 16)
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // identical -> identical vector
      (3L, "alpha beta gamma epsilon"), // 3/4 overlap
      (4L, "zeta eta theta iota"),      // disjoint
      (5L, "")).toDF("id", "text")
    val out = op(df).collect().map(r => r.getLong(0) ->
      Option(r.get(1)).map(_ => r.getSeq[Double](1).toList)).toMap
    assert(out.get(5L).forall(_.isEmpty)) // no-token doc: null or absent
    val v1 = out(1L).get; val v3 = out(3L).get; val v4 = out(4L).get
    assert(out(2L).get == v1)
    def cos(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(cos(v1, v1) - 1.0) < 1e-4) // unit norm
    assert(cos(v1, v3) > cos(v1, v4), "lexical overlap must order cosines")
  }

  test("embedding simhash: NULL vectors get NULL signatures, never a real group") {
    import graft.operators.vector.EmbeddingSimHash
    import TestSpark.spark.implicits._
    val op = new EmbeddingSimHash(vecCol = "emb", idCol = "id",
      orderCol = "id", bits = 8, dims = 2)
    // a vector whose dots are all negative owns the legit signature 0;
    // NULL-embedding rows must NOT merge into its group
    val df = Seq(
      (1L, Some(Seq(-1.0, -1.0))),
      (2L, Option.empty[Seq[Double]]),
      (3L, Option.empty[Seq[Double]])).toDF("id", "emb")
    val sigs = df.select(col("id"), op.signature(col("emb")).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(sigs(1L).isDefined && sigs(2L).isEmpty && sigs(3L).isEmpty)
    // dedup: the real vector survives; the two NULL rows collapse to
    // one representative of the no-content group
    val kept = op(df).select("id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && (kept - 1L).size == 1, s"kept $kept")
  }

  test("priority sample: weight-proportional inclusion, partition-invariant, top-k plan") {
    import TestSpark.spark.implicits._
    val op = new graft.operators.text.PrioritySample("id", "w", k = 200, salt = "s")
    // 1000 light rows (w=10) + 1000 heavy rows (w=1000): heavy rows must
    // dominate the 200-row sample (E[heavy] ≈ 198)
    val df = ((0L until 1000L).map(i => (i, 10L)) ++
      (1000L until 2000L).map(i => (i, 1000L))).toDF("id", "w")
    val picked = op(df).collect().map(_.getLong(0))
    assert(picked.length == 200)
    val heavy = picked.count(_ >= 1000L)
    assert(heavy > 180, s"heavy rows should dominate, got $heavy/200")
    // same result whatever the partitioning
    val re = op(df.repartition(13)).collect().map(_.getLong(0))
    assert(re.sameElements(picked))
    // distributed top-k, not a global sort
    val plan = TestSpark.planOf(op(df))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // zero/null weights only surface when k exceeds the positive rows
    val tiny = op(Seq((1L, 0L), (2L, 5L)).toDF("id", "w")).collect()
    assert(tiny.head.getLong(0) == 2L && tiny.length == 2)
  }
}
