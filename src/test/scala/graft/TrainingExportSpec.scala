package graft

import graft.core.Disposition
import graft.operators.text.{CcnetBucketRefiner, SequencePackRefiner}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing and CCNet bucketing: packing algebra (contiguous
  * fill, partition independence), bucket ordering/proportions, and the
  * alive-rows-only disposition contract both share with the other
  * corpus-global operators.
  */
class TrainingExportSpec extends ScopedSuite {
  import TestSpark._

  private val packOp = new SequencePackRefiner(
    "text", "doc_id", maxTokens = 256, numShards = 4,
    hashName = "portable", salt = "spec")

  test("packing: contiguous fill respects the budget and bin positions") {
    val out = packOp(table("documents"))
      .select("doc_id", "pack_tokens", "pack_shard", "pack_bin", "pack_pos")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(out.nonEmpty)
    out.groupBy(_._3).foreach { case (shard, rows) =>
      val byId = rows.sortBy(_._1)
      // recompute the contiguous fill in plain Scala
      var cum = 0L
      byId.foreach { case (id, toks, _, bin, _) =>
        val expected = cum / 256L
        assert(bin == expected, s"doc $id in shard $shard: bin $bin != $expected")
        cum += toks
      }
      // pack_pos is 1..k per bin in id order
      byId.groupBy(_._4).foreach { case (bin, binRows) =>
        assert(binRows.sortBy(_._1).map(_._5).toSeq == (1 to binRows.size),
          s"shard $shard bin $bin positions")
      }
    }
  }

  test("pack stats reconcile with the per-document packing") {
    val docs = table("documents")
    val stats = packOp.packStats(docs).collect()
    val perDoc = packOp(docs).select("pack_shard", "pack_bin", "pack_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.map(_.getLong(0)).toSeq == stats.map(_.getLong(0)).toSeq.sorted)
    assert(stats.map(_.getLong(2)).sum == perDoc.length)      // docs
    assert(stats.map(_.getLong(3)).sum == perDoc.map(_._3).sum) // tokens
    stats.foreach { r =>
      val shard = r.getLong(0)
      val bins = perDoc.filter(_._1 == shard).groupBy(_._2)
        .map { case (_, rs) => rs.map(_._3).sum }
      assert(r.getLong(1) == bins.size)
      val used = bins.map(t => math.min(t, 256L)).sum
      // Spark round() is HALF_UP over the double's shortest repr —
      // math.rint (half-even) would flake on exact dyadic .5e-6 ties
      val expected = BigDecimal(used.toDouble / (bins.size * 256.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(4) == expected)
      assert(r.getLong(5) == bins.count(_ > 256L))
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("packing is partition-independent and deterministic") {
    val a = packOp(table("documents"))
      .select("doc_id", "pack_shard", "pack_bin", "pack_pos")
    val b = packOp(table("documents").repartition(7))
      .select("doc_id", "pack_shard", "pack_bin", "pack_pos")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("ccnet buckets are ordered and roughly proportional") {
    val scored = table("documents")
      .withColumn("score", (col("doc_id") % 97).cast("double") + col("n_chars") / 1000.0)
    val out = new CcnetBucketRefiner("score")(scored)
      .select("score", "ccnet_bucket").collect()
      .map(r => r.getDouble(0) -> r.getString(1))
    val byBucket = out.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    val n = out.length.toDouble
    assert(math.abs(byBucket("head").size / n - 1.0 / 3) < 0.05)
    assert(math.abs(byBucket("middle").size / n - 1.0 / 3) < 0.05)
  }

  test("disposition: packing and buckets see alive rows only, dead rows null") {
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, Array.fill(10)(s"w$i").mkString(" "), (i % 13).toDouble)).toDF("doc_id", "text", "score")
    val dropEven = new graft.core.RowFilter {
      val name = "drop_even"
      def keep(df: DataFrame) = col("doc_id") % 2 === 1
    }
    val pack = new SequencePackRefiner("text", "doc_id", maxTokens = 35,
      numShards = 2, hashName = "portable", salt = "d")
    val bucket = new CcnetBucketRefiner("score")
    val seq_ = bucket(pack(dropEven(docs)))
      .select("doc_id", "pack_shard", "pack_bin", "pack_pos", "ccnet_bucket")
    var d = Disposition.init(docs)
    d = Disposition.step(d, dropEven, "_e0")
    d = Disposition.step(d, pack, "_e1")
    d = Disposition.step(d, bucket, "_e2")
    val disp = Disposition.passed(d)
      .select("doc_id", "pack_shard", "pack_bin", "pack_pos", "ccnet_bucket")
    assert(disp.exceptAll(seq_).isEmpty && seq_.exceptAll(disp).isEmpty)
    val dead = Disposition.rejected(d)
      .select("pack_bin", "ccnet_bucket").head()
    assert(dead.isNullAt(0) && dead.isNullAt(1), dead)
  }

  test("materialized packs agree with the per-document labels") {
    val labels = packOp(table("documents"))
      .select("doc_id", "pack_shard", "pack_bin", "pack_tokens").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap // doc_id -> (shard, bin, tokens)
    val bins = packOp.materialize(table("documents")).collect()
    assert(bins.nonEmpty)
    var docsSeen = 0L
    bins.foreach { b =>
      val shard = b.getAs[Long]("pack_shard"); val bin = b.getAs[Long]("pack_bin")
      val ids = b.getSeq[Long](b.fieldIndex("pack_doc_ids")).toList
      docsSeen += ids.size
      assert(b.getAs[Long]("pack_doc_count") == ids.size)
      // ids are in pack (= id) order and carry the right labels
      assert(ids == ids.sorted, s"bin ($shard,$bin) not in pack order")
      ids.foreach(id => assert(labels(id)._1 == shard && labels(id)._2 == bin))
      assert(b.getAs[Long]("pack_token_count") == ids.map(labels(_)._3).sum)
      // text joins with a blank line per document boundary
      assert(b.getAs[String]("pack_text").split("\n\n", -1).length >= ids.size)
    }
    assert(docsSeen == labels.size, "every document lands in exactly one bin")
  }

  test("materializer in disposition mode packs alive rows and restarts the chain") {
    import spark.implicits._
    val docs = (1L to 30L).map(i =>
      (i, Array.fill(8)(s"w$i").mkString(" "))).toDF("doc_id", "text")
    val dropBig = new graft.core.RowFilter {
      val name = "drop_big"
      def keep(df: org.apache.spark.sql.DataFrame) = col("doc_id") <= 20
    }
    val mat = new graft.operators.text.SequencePackMaterializer(
      "text", "doc_id", maxTokens = 30, numShards = 2,
      hashName = "portable", salt = "m")
    val seq_ = mat(dropBig(docs))
      .select("pack_shard", "pack_bin", "pack_doc_count", "pack_token_count")
    var d = Disposition.init(docs)
    d = Disposition.step(d, dropBig, "_m0")
    d = Disposition.step(d, mat, "_m1")
    val disp = Disposition.passed(d)
      .select("pack_shard", "pack_bin", "pack_doc_count", "pack_token_count")
    assert(disp.exceptAll(seq_).isEmpty && seq_.exceptAll(disp).isEmpty)
    assert(Disposition.rejected(d).count() == 0, "aggregation boundary restarts clean")
  }

  test("both operators build from the registry with YAML params") {
    import graft.runner.{OperatorRegistry, Params}
    val p = OperatorRegistry.create("sequence_pack", Params(Map(
      "text_field" -> "text", "id_field" -> "doc_id",
      "max_tokens" -> 256, "num_shards" -> 4,
      "hash_algorithm" -> "portable", "salt" -> "spec")))
    val a = p(table("documents")).select("doc_id", "pack_shard", "pack_bin")
    val b = packOp(table("documents")).select("doc_id", "pack_shard", "pack_bin")
    assert(a.exceptAll(b).isEmpty)
    val c = OperatorRegistry.create("ccnet_bucket", Params(Map(
      "score_field" -> "n_chars")))
    assert(c(table("documents")).columns.contains("ccnet_bucket"))
  }

  test("approx percentile family stays available for the 1e8+ row path") {
    val scored = table("documents").withColumn("score", col("n_chars").cast("double"))
    val out = new CcnetBucketRefiner("score", exact = false)(scored)
    assert(out.select("ccnet_bucket").distinct().count() == 3)
  }

  test("string-digest hash families are rejected at construction") {
    // md5/sha256 digests are hex STRINGS: pmod would cast them to
    // bigint as NULL and silently pack every row into one NULL shard
    for (bad <- Seq("md5", "sha256")) {
      intercept[IllegalArgumentException] {
        new graft.operators.text.SequencePackRefiner(hashName = bad)
      }
      intercept[IllegalArgumentException] {
        new graft.operators.text.SequencePackMaterializer(hashName = bad)
      }
      intercept[IllegalArgumentException] {
        graft.runner.OperatorRegistry.create("sequence_pack", graft.runner.Params(Map(
          "text_field" -> "text", "id_field" -> "doc_id",
          "hash_algorithm" -> bad)))
      }
    }
  }
}
