package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("gen-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** SHA-256 over the data files' bytes, in name order. */
  private def contentHash(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    FsUtil.files(path).foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"pipebench-$name").toString

  test("the same seed gives the same rows, another seed other rows") {
    assert(Gen.web(7, 300)._1 == Gen.web(7, 300)._1)
    assert(Gen.web(7, 300)._1 != Gen.web(8, 300)._1)
    assert(Gen.docs(7, 500)._1 == Gen.docs(7, 500)._1)
    assert(Gen.docs(7, 500)._1 != Gen.docs(8, 500)._1)
    val (v1, t1) = Gen.vectors(7, 300)
    val (v2, t2) = Gen.vectors(7, 300)
    assert(v1.map(_.getSeq[Float](1)) == v2.map(_.getSeq[Float](1)))
    assert(t1.cluster.sameElements(t2.cluster))
  }

  test("the same seed gives byte-identical parquet files") {
    val (rows, _) = Gen.docs(11, 2000)
    val a = tmp("a")
    val b = tmp("b")
    Gen.writeParquet(spark, rows, Gen.DocSchema, a, 4)
    Gen.writeParquet(spark, rows, Gen.DocSchema, b, 4)
    assert(FsUtil.files(a).size == 4)
    assert(contentHash(a) == contentHash(b))
    Gen.writeShards(spark, rows, Gen.DocSchema, s"$a/shards", 20)
    Gen.writeShards(spark, rows, Gen.DocSchema, s"$b/shards", 20)
    assert(FsUtil.files(s"$a/shards").map(_.getName) == (0 until 20).map(k => f"shard-$k%03d.parquet"))
    assert(contentHash(s"$a/shards") == contentHash(s"$b/shards"))
    assert(spark.read.parquet(s"$a/shards").count() == 2000)
  }

  test("cluster sizes cover every row with a fixed Zipf head") {
    Seq(1001, 2000, 5000, 12345).foreach { n =>
      val sizes = Gen.clusterSizes(n, dupShare = 0.4, top = n / 100)
      assert(sizes.sum == n, n)
      assert(sizes.head >= sizes.filter(_ > 1).last)
    }
    val (rows, truth) = Gen.docs(3, 5000)
    assert(rows.size == 5000 && rows.forall(_ != null))
    assert(truth.plantedDuplicates == 5000 - truth.clusters)
    assert(truth.clusterHasNear.count(identity) > 0)
  }

  test("near copies differ from their base by a few words; exact copies not at all") {
    val (rows, truth) = Gen.docs(5, 3000)
    val text = rows.map(_.getString(1))
    val byCluster = text.indices.groupBy(truth.cluster(_))
    byCluster.values.filter(_.size > 1).take(50).foreach { ids =>
      val groups = ids.groupBy(truth.exactGroup(_))
      groups.values.foreach(g => assert(g.map(text).distinct.size == 1))
      val words = ids.map(i => text(i).split(' ').toSeq)
      words.foreach(w => assert(w.size == words.head.size))
      words.foreach(w => assert(w.zip(words.head).count { case (x, y) => x != y } <= 4))
    }
    assert(text.forall(t => t.length >= 300 && t.length < 640))
  }

  test("web pages carry the planted properties") {
    val (rows, truth) = Gen.web(9, 2000)
    val texts = rows.map(_.getString(3))
    val lengths = texts.map(_.length).sorted
    val median = lengths(lengths.size / 2)
    assert(median > 1200 && median < 3200, median)
    assert(truth.emails.nonEmpty)
    truth.emails.foreach { case (id, e) => assert(texts(id.toInt).contains(e)) }
    val blocked = rows.count(r => truth.blockedDomains.exists(d => r.getString(1).contains(s"/$d/") ||
      r.getString(1).contains(s".$d/") || r.getString(1).contains(s"//$d/")))
    assert(blocked > 20 && blocked < 200, blocked)
    assert(rows.map(_.getString(2)).distinct.size == 4)
    assert(texts.count(_.length < truth.minLength) > 0)
  }
}
