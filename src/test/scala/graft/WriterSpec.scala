package graft

import graft.core.Disposition
import graft.io.{DriverCommit, ParquetDataWriter, RejectedWriter}
import graft.metrics.{HtmlReport, MetricsRollup, OperatorCounts}
import graft.operators.dedup.TextExactDedup
import graft.operators.text.TextLengthFilter
import org.apache.spark.sql.functions._

/** W1 writer semantics (partition layout, nested/JSON key extraction,
  * sanitization, unknown fallback) and the end-to-end pipeline → passed +
  * rejected write → read-back complement check.
  */
class WriterSpec extends ScopedSuite {
  import TestSpark._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_writer").toString

  test("partitioned write produces sanitized hive-style directories") {
    val dir = tmp()
    val df = spark.range(6).toDF("id")
      .withColumn("src", concat(lit("s rc/"), (col("id") % 2).cast("string")))
    new ParquetDataWriter(dir, "docs", partitionBy = Some("src")).write(df)
    val parts = new java.io.File(s"$dir/docs").listFiles().map(_.getName)
      .filter(_.startsWith("src=")).sorted
    assert(parts.toSeq == Seq("src=s_rc_0", "src=s_rc_1"))
    assert(spark.read.parquet(s"$dir/docs").count() == 6)
  }

  test("partitioned layout prunes at the scan: filter becomes a PartitionFilter, other dirs unread") {
    val dir = tmp()
    new ParquetDataWriter(dir, "docs", partitionBy = Some("source"))
      .write(table("documents").select(col("doc_id"), col("text"), col("source")))
    val rd = spark.read.parquet(s"$dir/docs").filter(col("source") === "src3")
    // the predicate must land in the scan's PartitionFilters (pruning at
    // file-listing time — at 100 TB this is the difference between
    // reading one directory and reading the corpus)
    val fmt = planFormatted(rd)
    assert(fmt.contains("PartitionFilters") &&
      fmt.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("src3")), fmt)
    // and the executed scan actually reads only the src3 directory's
    // file (Dataset.inputFiles would lie here — it lists the whole
    // relation pre-pruning; the scan's own numFiles metric is truth)
    // collect() runs THIS Dataset's queryExecution (count() would build
    // a fresh one and leave these metrics empty)
    assert(rd.collect().length ==
      table("documents").filter(col("source") === "src3").count())
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case other => other +: other.children.flatMap(unwrap)
    }
    val scan = unwrap(rd.queryExecution.executedPlan)
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val totalParts = new java.io.File(s"$dir/docs").listFiles()
      .count(_.getName.startsWith("source="))
    assert(totalParts > 1, s"fixture should span partitions, got $totalParts")
    assert(scan.metrics("numFiles").value == 1,
      s"pruned scan read ${scan.metrics("numFiles").value} files of $totalParts partitions")
  }

  test("nested struct extractor and null → unknown") {
    val dir = tmp()
    val df = spark.range(4).toDF("id")
      .withColumn("meta", when(col("id") < 3,
        struct(concat(lit("op"), (col("id") % 2).cast("string")).as("operator"))))
    new ParquetDataWriter(dir, "t", partitionBy = Some("op"),
      partitionKeyExtractor = Some("meta.operator")).write(df)
    val parts = new java.io.File(s"$dir/t").listFiles().map(_.getName)
      .filter(_.startsWith("op=")).sorted
    assert(parts.toSeq == Seq("op=op0", "op=op1", "op=unknown"))
  }

  test("JSON-string column mid-path is parsed with get_json_object") {
    val dir = tmp()
    val df = spark.range(2).toDF("id")
      .withColumn("payload", concat(lit("""{"kind":{"name":"k"""),
        col("id").cast("string"), lit(""""}}""")))
    new ParquetDataWriter(dir, "t", partitionBy = Some("k"),
      partitionKeyExtractor = Some("payload.kind.name")).write(df)
    val parts = new java.io.File(s"$dir/t").listFiles().map(_.getName)
      .filter(_.startsWith("k=")).sorted
    assert(parts.toSeq == Seq("k=k0", "k=k1"))
  }

  test("end-to-end: pipeline run → passed + rejected writes → complement reads back") {
    val dir = tmp()
    val docs = table("documents")
    // prefix dedup guarantees duplicate groups on the tiny fixture
    val prefixDedup = new graft.operators.dedup.ExactDedup("prefix_dedup",
      d => graft.functions.TextFunctions.normalizeText(substring(col("text"), 1, 30)),
      orderCol = "doc_id", repCol = "doc_id")
    val stages = Seq(
      new TextLengthFilter(minLength = 100, maxLength = Some(400),
        textCol = "text", lengthCol = Some("n_chars")),
      prefixDedup)
    val annotated = stages.zipWithIndex.foldLeft(Disposition.init(docs)) {
      case (d, (op, i)) => Disposition.step(d, op, s"_t$i")
    }
    new ParquetDataWriter(dir, "docs").write(Disposition.passed(annotated))
    RejectedWriter.writeAll(Disposition.rejected(annotated), dir, "docs")

    val passed = spark.read.parquet(s"$dir/docs")
    val rejected = spark.read.parquet(s"${dir}_rejected/docs_rejected")
    assert(passed.count() + rejected.count() == docs.count())
    // rejects partitioned by rejecting operator; expect one partition per
    // operator that actually rejected rows, and at least the filter + dedup
    val expected = stages.map(_.name).filter(n => Disposition.rejected(annotated)
      .filter(col(s"${graft.core.Rejection.ColName}.operator") === n).count() > 0).toSet
    assert(expected == Set("text_length_filter", "prefix_dedup"))
    val ops = rejected.select(col("operator")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(ops == expected)
    val dirs = new java.io.File(s"${dir}_rejected/docs_rejected").listFiles()
      .map(_.getName).filter(_.startsWith("operator=")).toSet
    assert(dirs == expected.map("operator=" + _))
  }

  test("catalog table writer: writeTo create-then-append round trip") {
    val tbl = s"default.graft_w2_${System.nanoTime()}"
    val w = new graft.io.CatalogTableWriter(tbl)
    try {
      val df = spark.range(5).toDF("id")
      w.write(df)
      assert(w.read(spark).count() == 5)
      w.write(df) // second write must APPEND, not replace
      assert(w.read(spark).count() == 10)
      assert(spark.catalog.tableExists(tbl))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("catalog table writer against a REAL Iceberg catalog (optional jar)") {
    // Exercised only when iceberg-spark-runtime is on the classpath;
    // otherwise the test is CANCELED (visible as such in the report),
    // never silently green. With the jar, the identical writeTo calls
    // must produce a real Iceberg table: one snapshot per append.
    val icebergPresent =
      try { Class.forName("org.apache.iceberg.spark.SparkCatalog"); true }
      catch { case _: ClassNotFoundException => false }
    if (!icebergPresent)
      cancel("iceberg-spark-runtime jar not on the classpath — skipped")
    val cat = "graft_ice"
    spark.conf.set(s"spark.sql.catalog.$cat",
      "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp())
    val tbl = s"$cat.db.w2_${System.nanoTime()}"
    val w = new graft.io.CatalogTableWriter(tbl, format = "iceberg")
    try {
      val df = spark.range(5).toDF("id")
      w.write(df)
      w.write(df)
      assert(w.read(spark).count() == 10)
      // snapshot isolation: each append is its own Iceberg snapshot
      assert(spark.sql(s"SELECT * FROM $tbl.snapshots").count() == 2)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("target_file_mb compacts the write to a size-derived file count") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val docs = table("documents").repartition(16)
    def files(dir: String): Int =
      new java.io.File(dir).listFiles((_, n) => n.endsWith(".parquet")).length
    // uncompacted: one file per input partition
    new graft.io.ParquetDataWriter(base, "raw").write(docs)
    assert(files(s"$base/raw") == 16)
    // a target far above the table's size → everything in ONE file
    new graft.io.ParquetDataWriter(base, "one", targetFileMb = Some(1024)).write(docs)
    assert(files(s"$base/one") == 1)
    // written content identical either way
    assert(spark.read.parquet(s"$base/one").count() == docs.count())
  }

  test("html report renders counts and escapes content") {
    val run = MetricsRollup.run("run_x<y>", Seq(MetricsRollup.stage("s&1", Seq(
      OperatorCounts(0, "op<a>", 100, 60, 1.5)))), 2.0)
    val html = HtmlReport.render(run)
    assert(html.contains("run_x&lt;y&gt;") && html.contains("s&amp;1") && html.contains("op&lt;a&gt;"))
    assert(html.contains("<td>100</td>") && html.contains("<td>60</td>"))
    // funnel svg with input + boundary segments; bottleneck row for the 40 dropped
    assert(html.contains("<svg") && html.contains("s&amp;1/op&lt;a&gt;"))
    assert(html.contains("Bottlenecks") && html.contains("<td>40</td>"))
    // the reporter.py chart family rendered as dependency-free svg:
    // record flow (sankey), duration waterfall, throughput (timed ops)
    assert(html.contains("Record flow") && html.contains("-40"))
    assert(html.contains("Stage duration waterfall"))
    assert(html.contains("Operator throughput"))
    val f = tmp() + "/report.html"
    HtmlReport.write(run, f)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(f)) > 0)
  }

  test("jsonl writer: shards + manifest round-trip, counts exact") {
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    val docs = TestSpark.table("documents").select("doc_id", "text", "source")
    new graft.io.JsonlDataWriter(base, "docs", compression = "gzip")
      .write(docs)
    // shards are gzip jsonl readable by the stock json source
    val back = spark.read.json(s"$base/docs/*.json.gz")
    assert(back.count() == docs.count())
    assert(back.columns.sorted.toSeq == Seq("doc_id", "source", "text"))
    // manifest totals match, shard entries cover every file
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/docs/manifest.json")), "UTF-8")
    assert(mf.contains(s""""total_rows":${docs.count()}"""), mf)
    val shardFiles = new java.io.File(s"$base/docs").listFiles()
      .map(_.getName).filter(_.endsWith(".json.gz")).toSet
    shardFiles.foreach(f => assert(mf.contains(f), s"manifest missing $f"))
  }

  test("jsonl writer: yaml pipeline routes through the registry writer type") {
    val base = java.nio.file.Files.createTempDirectory("graft_jsonl_yaml").toString
    TestSpark.table("documents").select("doc_id", "text").limit(50)
      .write.parquet(s"$base/in")
    val conf = graft.runner.PipelineConf.fromYaml(
      s"""data_loader:
         |  type: ParquetLoader
         |  params: {format: parquet, path: "$base/in"}
         |stages:
         |  - name: s
         |    operators:
         |      - name: text_length_filter
         |        params: {min_length: 1}
         |data_writer:
         |  type: JsonlDataWriter
         |  params: {output_path: "$base/out", table_name: "docs", compression: "gzip"}
         |""".stripMargin)
    graft.runner.PipelineRunner.run(spark, conf)
    val back = spark.read.json(s"$base/out/docs/*.json.gz")
    assert(back.count() > 0)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/out/docs/manifest.json")))
  }

  test("token shards: bin bytes match index offsets, ids exact, partition-invariant") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_tokshard").toString
    val docs = Seq(
      (0L, "aa bb aa"), (1L, "bb zz"), (2L, "aa"), (3L, ""), (4L, "zz zz aa bb"),
      (5L, "bb bb")).toDF("doc_id", "text")
    val w = new graft.io.TokenShardWriter(s"$base/t", numShards = 2,
      vocab = Seq("aa", "bb"))
    val (nd, nt) = w.write(docs)
    assert(nd == 6L && nt == 3 + 2 + 1 + 0 + 4 + 2)
    // decode every shard and slice by the index: each doc's ids must
    // equal the vocab mapping (aa=2, bb=3, OOV=1)
    def decode(path: java.nio.file.Path): Array[Int] = {
      val bytes = java.nio.file.Files.readAllBytes(path)
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      Array.fill(bytes.length / 4)(bb.getInt())
    }
    val expected = Map(
      0L -> Seq(2, 3, 2), 1L -> Seq(3, 1), 2L -> Seq(2), 3L -> Seq(),
      4L -> Seq(1, 1, 2, 3), 5L -> Seq(3, 3))
    val idx = TestSpark.spark.read.parquet(s"$base/t/index").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(idx.map(_._2).sorted.toSeq == (0L to 5L))
    idx.foreach { case (shard, docId, off, n) =>
      val ids = decode(java.nio.file.Paths.get(f"$base/t/shard-$shard%04d.bin"))
      assert(ids.slice(off.toInt, off.toInt + n.toInt).toSeq == expected(docId),
        s"doc $docId in shard $shard at $off")
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/t/manifest.json")))
    // identical shard bytes whatever the input partitioning
    val base2 = java.nio.file.Files.createTempDirectory("graft_tokshard2").toString
    new graft.io.TokenShardWriter(s"$base2/t", 2, Seq("aa", "bb"))
      .write(docs.repartition(7))
    idx.map(_._1).distinct.foreach { shard =>
      val a = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$base/t/shard-$shard%04d.bin"))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$base2/t/shard-$shard%04d.bin"))
      assert(java.util.Arrays.equals(a, b), s"shard $shard bytes differ")
    }
    // speculation-safe commit: no _temporary leftovers after a clean run
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/t/_temporary")))
  }

  test("token shards: duplicate task attempts commit ONE identical file, loser temp removed") {
    // simulates speculation: two attempts of the same task drain the same
    // deterministic bytes into their own temp paths, then both commit
    val base = java.nio.file.Files.createTempDirectory("graft_tokcommit").toString
    val conf = TestSpark.spark.sparkContext.hadoopConfiguration
    val bytes = Array[Byte](1, 0, 0, 0, 2, 0, 0, 0)
    def mkTemp(attempt: Long): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(
        s"$base/_temporary/attempt-$attempt/shard-0000.bin")
      val fs = p.getFileSystem(conf)
      val os = fs.create(p, true)
      try os.write(bytes) finally os.close()
      p
    }
    val dest = new org.apache.hadoop.fs.Path(s"$base/shard-0000.bin")
    val t1 = mkTemp(1L); val t2 = mkTemp(2L)
    graft.io.TokenShardWriter.commitShard(t1, dest, conf)
    graft.io.TokenShardWriter.commitShard(t2, dest, conf) // loses the race
    val fs = dest.getFileSystem(conf)
    assert(fs.exists(dest))
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/shard-0000.bin")).toSeq == bytes.toSeq)
    assert(!fs.exists(t1) && !fs.exists(t2))
    // a commit whose temp vanished AND whose dest is absent must be loud
    intercept[java.io.IOException] {
      graft.io.TokenShardWriter.commitShard(
        new org.apache.hadoop.fs.Path(s"$base/_temporary/attempt-9/shard-0001.bin"),
        new org.apache.hadoop.fs.Path(s"$base/shard-0001.bin"), conf)
    }
  }

  test("driver commit: the hidden temp is renamed into place; a failed rename or write is loud") {
    import org.apache.hadoop.fs.{LocalFileSystem, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(tmp())
    val fs = dir.getFileSystem(conf)
    def put(p: Path): Unit = { val o = fs.create(p, true); try o.write(1) finally o.close() }
    def visible = fs.listStatus(dir).map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
    assert(DriverCommit.commit(fs, dir, "part-a.txt")(put) == new Path(dir, "part-a.txt"))
    assert(visible == Set("part-a.txt"))
    // a rename that returns false fails the commit instead of losing the file
    val noRename = new LocalFileSystem {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    noRename.initialize(java.net.URI.create("file:///"), conf)
    intercept[java.io.IOException](DriverCommit.commit(noRename, dir, "part-b.txt")(put))
    // a write that throws propagates
    intercept[IllegalStateException](DriverCommit.commit(fs, dir, "part-c.txt") { p =>
      put(p); throw new IllegalStateException("write failed")
    })
    // neither failure leaves its temp file or a committed file behind
    assert(visible == Set("part-a.txt"))
  }

  test("token shards: re-run with fewer shards leaves NO stale shard files") {
    import TestSpark.spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tokstale").toString
    val docs = (0L until 40L).map(i => (i, s"aa bb tok$i")).toDF("doc_id", "text")
    new graft.io.TokenShardWriter(s"$base/t", numShards = 4, Seq("aa", "bb")).write(docs)
    val before = new java.io.File(s"$base/t").listFiles()
      .map(_.getName).filter(_.endsWith(".bin")).sorted.toSeq
    assert(before.size == 4, before.toString)
    // plant a failed-run leftover too
    val junk = java.nio.file.Paths.get(s"$base/t/_temporary/attempt-7/shard-0003.bin")
    java.nio.file.Files.createDirectories(junk.getParent)
    java.nio.file.Files.write(junk, Array[Byte](9, 9, 9, 9))
    val (nd, _) = new graft.io.TokenShardWriter(s"$base/t", numShards = 2,
      Seq("aa", "bb")).write(docs)
    assert(nd == 40L)
    val after = new java.io.File(s"$base/t").listFiles()
      .map(_.getName).filter(_.endsWith(".bin")).sorted.toSeq
    assert(after == Seq("shard-0000.bin", "shard-0001.bin"),
      s"stale shards must be removed: $after")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/t/_temporary")))
    // manifest agrees with the files on disk (the glob-consumer contract)
    val mf = scala.io.Source.fromFile(s"$base/t/manifest.json").mkString
    assert(mf.contains("\"shards\":[{\"shard\":0,") && !mf.contains("\"shard\":2,"), mf)
  }
}
