package graft

import graft.functions.TextFunctions
import graft.operators.text.TextLengthFilter
import graft.streaming.StreamingCuration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** §2.9 incremental mode: file-source backpressure, unbounded keyed dedup
  * state across triggers, operator reuse on streaming frames, the
  * foreachBatch dedup twins over epoch-store priors, and batch operators
  * run unchanged as streaming readouts.
  */
class StreamingSpec extends ScopedSuite {
  import TestSpark._

  private def copyPart(fromDir: String, to: java.nio.file.Path): Unit = {
    val part = new java.io.File(fromDir).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, to,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("incremental dedup: global first-seen state across triggers, filter ops reused") {
    val docs = table("documents")
    val base = java.nio.file.Files.createTempDirectory("graft_stream")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val stage = base.resolve("stage").toString

    // two shards with overlapping dedup keys (same text prefixes recur)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.mode("overwrite").parquet(s"$stage/1")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.mode("overwrite").parquet(s"$stage/2")
    copyPart(s"$stage/1", srcDir.resolve("shard1.parquet"))

    val lengthFilter = new TextLengthFilter(minLength = 50, maxLength = None,
      textCol = "text", lengthCol = Some("n_chars"))
    val key = TextFunctions.normalizeText(substring(col("text"), 1, 30))

    val stream = StreamingCuration.dedupByKey(
      lengthFilter(StreamingCuration.incrementalSource(
        spark, srcDir.toString, docs.schema, maxFilesPerTrigger = 1)),
      key)
    val q = stream.writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("dedup_out").count()

      copyPart(s"$stage/2", srcDir.resolve("shard2.parquet"))
      q.processAllAvailable()
      val out = spark.table("dedup_out")

      // ground truth: batch first-wins over the union with the same filter
      val expected = lengthFilter(docs).withColumn("_k", key)
        .select(col("_k")).distinct().count()
      assert(out.count() == expected, s"stream=${out.count()} batch=$expected")
      assert(out.count() > afterFirst, "second shard contributed no new keys — vacuous")
      // no key emitted twice despite overlap across shards
      val dupKeys = out.withColumn("_k", key).groupBy(col("_k"))
        .count().filter(col("count") > 1).count()
      assert(dupKeys == 0)
    } finally q.stop()
  }

  test("fingerprint dedup drops a reworded near-duplicate across triggers") {
    import spark.implicits._
    val original = ("d1", "the quick brown fox jumps over the lazy dog while " +
      "seventeen curious researchers watch from a distant hill recording every " +
      "single movement with their battered field notebooks and cheap pencils")
    // formatting-variant re-crawl: same token stream, different raw text
    // (case, punctuation, whitespace) — an exact content hash misses it
    val reworded = ("d2", original._2.toUpperCase.replace(" ", "  ").replace("dog", "dog,"))
    val different = ("d3", "completely unrelated text about compiling scala " +
      "spark pipelines with catalyst expressions and whole stage codegen enabled " +
      "for fast columnar execution across many worker nodes tonight")
    // precondition: the variant keeps the token fingerprint, the
    // different doc moves it
    val fp = new graft.operators.dedup.SimHashDedup("text", "id", "id").simhash(col("text"))
    val fps = Seq(original, reworded, different).toDF("id", "text")
      .select(col("id"), fp.as("f")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fps("d1") == fps("d2") && fps("d1") != fps("d3"))

    val base = java.nio.file.Files.createTempDirectory("graft_fpdedup")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = StreamingCuration.dedupByFingerprint(mem.toDF().toDF("id", "text"), "text")
      .writeStream.format("memory").queryName("fp_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      mem.addData(original)
      q.processAllAvailable()
      mem.addData(reworded, different) // later trigger: near-dup + new doc
      q.processAllAvailable()
      val out = spark.table("fp_out").select("id").as[String].collect().toSet
      assert(out == Set("d1", "d3"), s"got $out")
    } finally q.stop()
  }

  test("foreachBatch minhash near-dedup: cross-trigger AND within-batch drops, prior store grows") {
    import spark.implicits._
    val a = ("a1", "the quick brown fox jumps over the lazy dog near the wide " +
      "river bank while herons stalk the shallows hunting silver minnows at dawn")
    // later-trigger rewording of a1: most 3-shingles shared, fingerprint
    // NOT necessarily equal — only LSH+Jaccard catches it
    val aReworded = ("a2", "the quick brown fox jumps over the lazy dog near the wide " +
      "river bank while herons stalk the shallows hunting silver minnows")
    val b = ("b1", "an entirely different document describing catalyst expression " +
      "trees whole stage codegen and shuffle exchanges inside spark executors")
    // same-trigger near-dup pair: only the first survives
    val c1 = ("c1", "measuring tokenizer throughput across byte pair encodings " +
      "with large multilingual corpora under strict latency budgets today")
    val c2 = ("c2", "measuring tokenizer throughput across byte pair encodings " +
      "with large multilingual corpora under strict latency budgets")

    val base = java.nio.file.Files.createTempDirectory("graft_nbdedup")
    val outDir = base.resolve("out").toString
    val priorDir = base.resolve("prior").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = StreamingCuration.nearDedupForeachBatch(
        mem.toDF().toDF("id", "text"), outDir, priorDir,
        textCol = "text", idCol = "id", threshold = 0.7)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try {
      mem.addData(a, c1, c2)       // trigger 1: within-batch pair c1/c2
      q.processAllAvailable()
      mem.addData(aReworded, b)    // trigger 2: cross-trigger near-dup + novel
      q.processAllAvailable()
      val out = spark.read.parquet(outDir).select("id").as[String].collect().toSet
      assert(out == Set("a1", "c1", "b1"), s"got $out")
      // the prior store accumulated exactly the accepted docs
      val prior = spark.read.parquet(priorDir).select("id").as[String].collect().toSet
      assert(prior == out, s"prior=$prior out=$out")
    } finally q.stop()
    // priorMaxBucketSize passthrough (r17): a huge cap reproduces the
    // default run exactly; a cap of 1 can only keep MORE (the guard
    // removes prior-side candidates per trigger, never adds)
    def rerun(cap: Option[Int], tag: String): Set[String] = {
      val b2 = java.nio.file.Files.createTempDirectory(s"graft_nbdedup_$tag")
      val m2 = MemoryStream[(String, String)]
      val q2 = StreamingCuration.nearDedupForeachBatch(
          m2.toDF().toDF("id", "text"), b2.resolve("out").toString,
          b2.resolve("prior").toString,
          textCol = "text", idCol = "id", threshold = 0.7,
          priorMaxBucketSize = cap)
        .option("checkpointLocation", b2.resolve("ckpt").toString)
        .start()
      try {
        m2.addData(a, c1, c2); q2.processAllAvailable()
        m2.addData(aReworded, b); q2.processAllAvailable()
      } finally q2.stop()
      spark.read.parquet(b2.resolve("out").toString)
        .select("id").as[String].collect().toSet
    }
    assert(rerun(Some(1000000), "huge") == Set("a1", "c1", "b1"))
    assert(Set("a1", "c1", "b1").subsetOf(rerun(Some(1), "tiny")))
  }

  test("fused near-dedup drop keeps exactly what in-batch dedup then the against-prior dedup keep") {
    import spark.implicits._
    import graft.operators.dedup.{IncrementalMinHashDedup, MinHashLSHDedup}
    val (hashes, bands, th) = (16, 8, 0.5)
    val lsh = new MinHashLSHDedup(textCol = "text", idCol = "id",
      numHashes = hashes, numBands = bands, threshold = th)
    val words = (0 until 40).map(i => s"w$i")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").as[Long].collect().toSet
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def doc(): Seq[String] = Seq.fill(12)(words(rnd.nextInt(words.size)))
      def near(toks: Seq[String]): String =
        toks.updated(rnd.nextInt(toks.size), words(rnd.nextInt(words.size))).mkString(" ")
      val bases = Seq.fill(8)(doc())
      // the prior: 8 docs and one near-dup of each (ids 0-15)
      val priorRows = bases.zipWithIndex.flatMap { case (b, i) =>
        Seq((i.toLong, b.mkString(" ")), (i + 8L, near(b))) }
      val fresh = Seq.fill(4)(doc())
      val batchRows: Seq[(Long, String)] =
        // near-dups of prior docs
        bases.take(4).zipWithIndex.map { case (b, i) => (100L + i, near(b)) } ++
        // in-batch near-dup pairs of new docs
        fresh.zipWithIndex.flatMap { case (f, i) =>
          Seq((110L + 2 * i, f.mkString(" ")), (111L + 2 * i, near(f))) } ++
        // two exact copies of a prior row: an in-batch and a prior drop at once
        Seq((120L, priorRows(3)._2), (121L, priorRows(3)._2)) ++
        // ids shared with prior rows: a novel doc and a near-dup
        Seq((5L, doc().mkString(" ")), (9L, near(bases(1)))) ++
        // fewer than shingleWidth tokens, twice, and null text
        Seq((130L, "w1 w2"), (131L, "w1 w2"), (132L, null))
      val batch = batchRows.toDF("id", "text")
      val prior = priorRows.toDF("id", "text")
      val selfKept = ids(lsh(batch))
      assert(ids(lsh.applyAgainst(batch, None)) == selfKept, s"seed $seed: no prior")
      assert(selfKept.size < batchRows.size, s"seed $seed: no in-batch drop — vacuous")
      for (cap <- Seq(None, Some(1))) {
        val composed = ids(new IncrementalMinHashDedup(prior = Some(prior),
          textCol = "text", idCol = "id", numHashes = hashes, numBands = bands,
          threshold = th, priorMaxBucketSize = cap)(lsh(batch)))
        val fused = ids(lsh.applyAgainst(batch, Some(prior), cap))
        assert(fused == composed, s"seed $seed cap $cap")
        assert(Set(130L, 131L, 132L).subsetOf(fused), s"seed $seed: unshingled rows dropped")
        if (cap.isEmpty)
          assert(fused.size < selfKept.size && !fused.contains(120L),
            s"seed $seed: no prior drop — vacuous")
      }
    }
  }

  test("near-dedup foreachBatch job budget: a first trigger, and a trigger with a prior") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_nbbudget")
    val srcDir = base.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val rows = (0L until 40L).map(i => (i, s"doc ${i % 25} says " +
      Seq.tabulate(10)(k => s"t${(i % 25) * 7 + k}").mkString(" "))).toDF("id", "text")
    // two shards, drained one per trigger (the stream_dedup shape)
    rows.filter($"id" < 20).coalesce(1).write.parquet(s"$base/stage/1")
    rows.filter($"id" >= 20).coalesce(1).write.parquet(s"$base/stage/2")
    copyPart(s"$base/stage/1", srcDir.resolve("shard1.parquet"))
    val q = StreamingCuration.nearDedupForeachBatch(
        StreamingCuration.incrementalSource(spark, srcDir.toString, rows.schema),
        base.resolve("out").toString, base.resolve("prior").toString, threshold = 0.7)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    // a streaming query runs its jobs in a job group named by its run id
    val sc = spark.sparkContext
    def jobs(): Int = {
      org.apache.spark.TestBus.drain(sc)
      sc.statusTracker.getJobIdsForGroup(q.runId.toString).length
    }
    try {
      q.processAllAvailable()
      val first = jobs()
      copyPart(s"$base/stage/2", srcDir.resolve("shard2.parquet"))
      q.processAllAvailable()
      val second = jobs() - first
      // one band join per trigger plus the two epoch writes, and no
      // schema-inference job for the prior (the nested self-dedup plan
      // and the inference job made the second trigger 10)
      assert(first <= 5 && second <= 6, s"first trigger $first jobs, second $second")
    } finally q.stop()
  }

  test("foreachBatch semantic dedup: identical vector drops cross-trigger, novel survives") {
    import spark.implicits._
    val dims = 8
    def vec(seed: Int): Seq[Float] =
      Seq.tabulate(dims)(i => math.sin(seed * 31 + i).toFloat)
    val base = java.nio.file.Files.createTempDirectory("graft_semdedup")
    val outDir = base.resolve("out").toString
    val priorDir = base.resolve("prior").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingCuration.semanticDedupForeachBatch(
        mem.toDF().toDF("id", "embedding"), outDir, priorDir,
        vecCol = "embedding", idCol = "id",
        threshold = 0.99, bits = 6, dims = dims)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try {
      // id 2 = −v1: every sign bit flips, so its signature is the exact
      // complement of v1's — never a first-wins casualty of a chance
      // bucket collision (vec(2) collided at 6 bits over 8 dims)
      mem.addData((1L, vec(1)), (2L, vec(1).map(-_)), (3L, vec(1))) // 3 dups 1 in-batch
      q.processAllAvailable()
      mem.addData((4L, vec(1)), (5L, vec(9)))               // 4 dups prior 1, 5 novel
      q.processAllAvailable()
      val out = spark.read.parquet(outDir).select("id").as[Long].collect().toSet
      assert(out == Set(1L, 2L, 5L), s"got $out")
      val prior = spark.read.parquet(priorDir).select("id").as[Long].collect().toSet
      assert(prior == out, s"prior=$prior out=$out")
    } finally q.stop()
  }

  test("fingerprint dedup runs under the RocksDB state store provider") {
    // SURVEY §7.4's 100 TB posture: at real scale the dedup state no
    // longer fits the default in-memory HDFS-backed store; the same
    // query must run unchanged under RocksDB (incremental checkpoints,
    // state spills to local disk).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_rocks")
    val mem = MemoryStream[(String, String)]
    val q = StreamingCuration.dedupByFingerprint(mem.toDF().toDF("id", "text"), "text")
      .writeStream.format("memory").queryName("rocks_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      val original = ("r1", "the quick brown fox jumps over the lazy dog while " +
        "seventeen curious researchers watch from a distant hill recording every " +
        "single movement with their battered field notebooks and cheap pencils")
      val reworded = ("r2", original._2.toUpperCase.replace(" ", "  "))
      val different = ("r3", "completely unrelated text about compiling scala " +
        "spark pipelines with catalyst expressions and whole stage codegen enabled " +
        "for fast columnar execution across many worker nodes tonight")
      mem.addData(original)
      q.processAllAvailable()
      mem.addData(reworded, different)
      q.processAllAvailable()
      val out = spark.table("rocks_out").select("id").as[String].collect().toSet
      assert(out == Set("r1", "r3"), s"got $out")
      // the provider actually engaged: RocksDB custom metrics appear in
      // the state operator progress
      assert(q.lastProgress.json.contains("rocksdb"), q.lastProgress.json)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming probed dedup: union of per-trigger kept sets equals batch ProbedCosineDedup under frozen centroids") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(4242)
    // planted near-dup CHAINS across triggers: base vectors plus tiny
    // perturbations of earlier ids landing in LATER triggers — the
    // cross-trigger drop path and the pairwise (dropped-row-still-
    // kills) semantics both engage
    val base = (0L until 90L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val dups = (0 until 30).map { j =>
      (90L + j, jitter(base(rnd.nextInt(60))._2))
    }
    val vecs = (base ++ dups).sortBy(_._1)
    val all = vecs.toDF("vec_id", "embedding")
    val ref = vecs.take(40).toDF("vec_id", "embedding")
    val (nb, np, t) = (4, 2, 0.9)
    val baseDir = java.nio.file.Files.createTempDirectory("graft_probed_stream")
    val outDir = baseDir.resolve("out").toString
    val priorDir = baseDir.resolve("prior").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingCuration.probedDedupForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), ref, outDir, priorDir,
        vecCol = "embedding", idCol = "vec_id", numBuckets = nb,
        nprobe = np, threshold = t)
      .option("checkpointLocation", baseDir.resolve("ckpt").toString)
      .start()
    try {
      val (b1, rest) = vecs.splitAt(40)
      val (b2, b3) = rest.splitAt(40)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val km = new graft.operators.ml.KMeansBuckets("embedding", "_cell", nb, 42L)
    val cents = km.centroidsOf(km.fit(ref))
    val want = new graft.operators.vector.ProbedCosineDedup(
        "embedding", "vec_id", t, cents, np)(all)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(outDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(want.size < vecs.size, "vacuous fixture — nothing dropped at all")
    assert(got == want,
      s"stream kept (${got.size}) must equal batch (${want.size}); " +
        s"sym-diff: ${(got diff want) union (want diff got)}")
    // replay of the LAST epoch (same rows, same epoch number under a
    // fresh single-epoch run): identical kept set and prior store
    val b2dir = java.nio.file.Files.createTempDirectory("graft_probed_replay")
    def runOnce(ckpt: String): Unit = {
      val m = MemoryStream[(Long, Array[Float])]
      val qq = StreamingCuration.probedDedupForeachBatch(
          m.toDF().toDF("vec_id", "embedding"), ref,
          b2dir.resolve("out").toString, b2dir.resolve("prior").toString,
          vecCol = "embedding", idCol = "vec_id", numBuckets = nb,
          nprobe = np, threshold = t)
        .option("checkpointLocation", b2dir.resolve(ckpt).toString)
        .start()
      try { m.addData(vecs.take(40): _*); qq.processAllAvailable() }
      finally qq.stop()
    }
    runOnce("ck_a")
    val keptOnce = spark.read.parquet(b2dir.resolve("out").toString).count()
    val priorOnce = spark.read.parquet(b2dir.resolve("prior").toString).count()
    runOnce("ck_b")
    assert(spark.read.parquet(b2dir.resolve("out").toString).count() == keptOnce)
    assert(spark.read.parquet(b2dir.resolve("prior").toString).count() == priorOnce)
    // r17 store layout: the prior store is cell-partitioned
    // (epoch=N/_pc=C/), so a trigger's prior read prunes to the cells
    // its batch probes — assert the layout and that an isin read over
    // the partition column plans real partition filters
    val priorRoot = java.nio.file.Paths.get(priorDir)
    val pcDirs = java.nio.file.Files.list(priorRoot).toArray.map(_.toString)
      .filter(_.contains("epoch="))
      .flatMap(e => java.nio.file.Files.list(java.nio.file.Paths.get(e))
        .toArray.map(_.toString))
      .filter(_.contains("_pc="))
    assert(pcDirs.nonEmpty, "prior store must be partitioned by probed cell")
    val pruned = spark.read.parquet(priorDir)
      .filter(col("epoch") =!= 99L && col("_pc").isin(0, 1))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "_pc")),
      s"prior scan must push the cell filter to partition pruning: " +
        s"${scan.partitionFilters}")
  }

  test("streaming probed dedup under the hot-cell cap: per-trigger union equals the capped batch operator; store holds only admitted assignments") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(2026)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    // duplicates INTERLEAVED across the id range (every 4th id is a
    // near-copy of id-3): an append-only dup block would sit entirely
    // past the id-rank cap and the capped run would drop nothing
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    for (i <- 0L until 120L)
      buf += ((i, if (i % 4 == 3) jitter(buf((i - 3).toInt)._2)
                  else Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = buf.toSeq
    val all = vecs.toDF("vec_id", "embedding")
    val ref = vecs.take(40).toDF("vec_id", "embedding")
    // a small cap so cells CLOSE mid-stream: admission must account for
    // prior-trigger members, the prefix-stability contract under test
    val (nb, np, t, cap) = (4, 2, 0.9, 15)
    val baseDir = java.nio.file.Files.createTempDirectory("graft_probed_cap")
    val outDir = baseDir.resolve("out").toString
    val priorDir = baseDir.resolve("prior").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingCuration.probedDedupForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), ref, outDir, priorDir,
        vecCol = "embedding", idCol = "vec_id", numBuckets = nb,
        nprobe = np, threshold = t, maxCellSize = Some(cap))
      .option("checkpointLocation", baseDir.resolve("ckpt").toString)
      .start()
    try {
      val (b1, rest) = vecs.splitAt(40)
      val (b2, b3) = rest.splitAt(40)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val km = new graft.operators.ml.KMeansBuckets("embedding", "_cell", nb, 42L)
    val cents = km.centroidsOf(km.fit(ref))
    val want = new graft.operators.vector.ProbedCosineDedup(
        "embedding", "vec_id", t, cents, np, Some(cap))(all)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(outDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(want.size < vecs.size, "vacuous fixture — nothing dropped at all")
    // the cap must BIND on this fixture or the test is the uncapped one
    val uncapped = new graft.operators.vector.ProbedCosineDedup(
        "embedding", "vec_id", t, cents, np)(all).count()
    assert(want.size > uncapped, "vacuous cap — choose a smaller maxCellSize")
    assert(got == want,
      s"capped stream kept (${got.size}) must equal capped batch (${want.size}); " +
        s"sym-diff: ${(got diff want) union (want diff got)}")
    // store = the capped batch membership exactly: per cell, the cap
    // smallest ids across ALL epochs — never more than cap per cell
    val store = spark.read.parquet(priorDir)
      .groupBy(col("_pc")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(store.values.forall(_ <= cap.toLong),
      s"store must hold at most cap=$cap admitted rows per cell: $store")
  }

  test("streaming anchored-cap probed dedup: per-trigger union equals the anchored batch operator; tail duplicates of anchors are caught") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(2027)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    for (i <- 0L until 100L)
      buf += ((i, if (i % 4 == 3) jitter(buf((i - 3).toInt)._2)
                  else Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // a duplicate-heavy TAIL: near-copies of the earliest rows landing
    // long after every cell closed — the shape the first-cap misses
    // (both pair sides past the cap) and the anchored cap must catch
    // (the original sits among its cell's anchors)
    for (i <- 0L until 20L) buf += ((200L + i, jitter(buf((i % 5).toInt)._2)))
    val vecs = buf.toSeq
    val all = vecs.toDF("vec_id", "embedding")
    val ref = vecs.take(40).toDF("vec_id", "embedding")
    val (nb, np, t, cap) = (4, 2, 0.9, 15)
    val baseDir = java.nio.file.Files.createTempDirectory("graft_probed_anch")
    val outDir = baseDir.resolve("out").toString
    val priorDir = baseDir.resolve("prior").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingCuration.probedDedupForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), ref, outDir, priorDir,
        vecCol = "embedding", idCol = "vec_id", numBuckets = nb,
        nprobe = np, threshold = t, maxCellSize = Some(cap),
        anchoredCap = true)
      .option("checkpointLocation", baseDir.resolve("ckpt").toString)
      .start()
    try {
      val (b1, rest) = vecs.splitAt(40)
      val (b2, b3) = rest.splitAt(40)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val km = new graft.operators.ml.KMeansBuckets("embedding", "_cell", nb, 42L)
    val cents = km.centroidsOf(km.fit(ref))
    val want = new graft.operators.vector.ProbedCosineDedup(
        "embedding", "vec_id", t, cents, np, Some(cap), anchoredCap = true)(all)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = spark.read.parquet(outDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == want,
      s"anchored stream kept (${got.size}) must equal anchored batch (${want.size}); " +
        s"sym-diff: ${(got diff want) union (want diff got)}")
    // the anchored policy's whole point on this fixture: the tail
    // copies are dropped (their originals are anchors), while the
    // first-cap run keeps them all
    val tailIds = (0L until 20L).map(200L + _).toSet
    assert(tailIds.forall(i => !got(i)),
      s"anchored twin must drop the tail duplicates; kept: ${tailIds.filter(got)}")
    val firstCapKept = new graft.operators.vector.ProbedCosineDedup(
        "embedding", "vec_id", t, cents, np, Some(cap))(all)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(tailIds.forall(firstCapKept),
      "fixture check: the first-cap keeps the tail copies by construction")
    // the store is still the ADMITTED (anchor) membership — at most
    // cap per cell even though every row is probed against it
    val store = spark.read.parquet(priorDir)
      .groupBy(col("_pc")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(store.values.forall(_ <= cap.toLong),
      s"store must hold at most cap=$cap anchors per cell: $store")
  }

  test("a crashed first epoch (dir exists, nothing committed) wedges neither the probed twin nor the prior helper") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseDir = java.nio.file.Files.createTempDirectory("graft_wedge")
    val priorDir = baseDir.resolve("prior").toString
    // simulate the crash artifact: epoch=0 exists with only _temporary
    // debris — no _SUCCESS, no data files (ADVICE r16: a bare
    // dir-existence check would send the read into schema inference
    // over zero files and wedge the replay loop)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(priorDir, "epoch=0", "_temporary", "0"))
    assert(StreamingCuration.committedPrior(spark, priorDir, 5L).isEmpty,
      "uncommitted debris must read as no-prior")
    // a missing dir and a committed store behave as before
    assert(StreamingCuration.committedPrior(
      spark, baseDir.resolve("never").toString, 0L).isEmpty)
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 30L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val ref = vecs.take(10).toDF("vec_id", "embedding")
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingCuration.probedDedupForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), ref,
        baseDir.resolve("out").toString, priorDir,
        vecCol = "embedding", idCol = "vec_id", numBuckets = 4,
        nprobe = 2, threshold = 0.9)
      .option("checkpointLocation", baseDir.resolve("ckpt").toString)
      .start()
    try { mem.addData(vecs: _*); q.processAllAvailable() } finally q.stop()
    // the epoch ran as a fresh start over the debris: output committed,
    // store now holds a committed epoch the helper accepts
    assert(spark.read.parquet(baseDir.resolve("out").toString).count() == 30L)
    assert(StreamingCuration.committedPrior(spark, priorDir, 99L).isDefined)
  }

  test("committedPrior surfaces a store with data that fails analysis instead of reading it as no-prior") {
    import spark.implicits._
    // a committed-but-EMPTY store (epoch dir, _SUCCESS, zero data
    // files) is the clean no-prior fallback
    val emptyBase = java.nio.file.Files.createTempDirectory("graft_prior_empty")
    val emptyDir = emptyBase.resolve("prior").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(emptyDir, "epoch=0"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(emptyDir, "epoch=0", "_SUCCESS"))
    assert(StreamingCuration.committedPrior(spark, emptyDir, 5L).isEmpty,
      "committed-but-empty must still fall back to no-prior")
    // but a store HOLDING DATA whose read fails analysis (here: _pc as
    // a data column in one epoch, a partition directory in another —
    // the layout-drift shape) must THROW, not silently disable the
    // cross-trigger dedup
    val driftBase = java.nio.file.Files.createTempDirectory("graft_prior_drift")
    val driftDir = driftBase.resolve("prior").toString
    Seq((1L, 3)).toDF("vec_id", "_pc")
      .write.parquet(s"$driftDir/epoch=0")
    Seq((2L, 4)).toDF("vec_id", "_pc")
      .write.partitionBy("_pc").parquet(s"$driftDir/epoch=1")
    // Spark surfaces this layout conflict as SparkRuntimeException (not
    // AnalysisException) — either way the contract is THROW: a store
    // with data must never silently read as "no prior yet"
    val e = intercept[Exception](
      StreamingCuration.committedPrior(spark, driftDir, 5L))
    assert(e.getMessage.contains("_pc"), s"unexpected error: $e")
    // a store missing a store column fails analysis when the trigger
    // selects its store columns, instead of reading the column as nulls
    val otherDir = java.nio.file.Files.createTempDirectory("graft_prior_cols")
      .resolve("prior").toString
    Seq((1L, 3)).toDF("id", "_pc").write.parquet(s"$otherDir/epoch=0")
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      StreamingCuration.committedPrior(spark, otherDir, 5L).get.select("id", "text"))
    assert(e2.getMessage.contains("text"), s"unexpected error: $e2")
  }

  test("epoch store listing: committed epoch=N children only; below vs excluding") {
    import spark.implicits._
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft_epochs").resolve("store").toString
    // a crashed epoch: only the writer's _temporary debris, no marker
    Files.createDirectories(java.nio.file.Paths.get(d, "epoch=4", "_temporary"))
    // a committed child with data outside the epoch= layout: if either
    // the marker rule or the prefix rule were lost, the store would be
    // read, and its epoch-less data would fail analysis and throw
    Seq(1L).toDF("v").write.parquet(s"$d/7")
    assert(StreamingCuration.committedPrior(spark, d, 9L).isEmpty,
      "epoch=4 (uncommitted) and the non-epoch child must not count")
    // committed epochs with data read as a prior that excludes only the
    // current epoch: epochs above it stay visible (excluding, not below)
    val s = Files.createTempDirectory("graft_epochs").resolve("store").toString
    Seq(0L, 1L, 3L).foreach(e => Seq(e).toDF("v").write.parquet(s"$s/epoch=$e"))
    def priorOf(epoch: Long): Set[Long] =
      StreamingCuration.committedPrior(spark, s, epoch).get
        .select("v").as[Long].collect().toSet
    assert(priorOf(1L) == Set(0L, 3L))
    assert(priorOf(9L) == Set(0L, 1L, 3L))
  }

  test("streaming canonical-url dedup: stream kept set equals the batch operator across triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.text.UrlCanonicalize
    // messy spellings: ids 2k and 2k+1 canonicalize to the same page
    def messy(id: Long): String =
      if (id % 2 == 0) s"HTTPS://Example.COM:443/p${id / 2}/?utm_source=f&q=1"
      else s"https://example.com/p${id / 2}?q=1#top"
    val rows = (0L until 12L).map(id => (id, messy(id)))
    // batch truth: first-wins on the hashed canonical key
    val batchOp = new graft.operators.dedup.ExactDedup("canonical_url_dedup",
      d => graft.functions.HashFunctions.portableHash64(
        expr(UrlCanonicalize.canonicalSqlSpark("url"))).cast("string"),
      orderCol = "id", repCol = "id")
    val batchKept = batchOp(rows.toDF("id", "url"))
      .select("id").as[Long].collect().toSet
    // stream the SAME rows in id order, the dup pair SPLIT across
    // triggers (cross-trigger state is the point); key = canonical url
    val mem = MemoryStream[(Long, String)]
    val keyed = mem.toDS().toDF("id", "url")
      .select(expr(UrlCanonicalize.canonicalSqlSpark("url")).as("_1"),
        col("id").cast("string").as("_2"))
      .as[(String, String)]
    val q = StreamingCuration.markSeenWithIds(keyed)
      .writeStream.format("memory").queryName("curl_dedup_out")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(7) // pair (6,7) straddles the triggers
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamKept = spark.table("curl_dedup_out")
        .filter(col("kept")).select("id").as[String].collect().map(_.toLong).toSet
      assert(streamKept == batchKept,
        s"stream $streamKept must equal batch $batchKept")
      assert(streamKept == (0L until 12L by 2).toSet) // evens win first
    } finally q.stop()
  }

  test("stateful dedup tracks first-seen representative across triggers") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = StreamingCuration.markSeenWithIds(mem.toDS())
      .writeStream.format("memory").queryName("markseen_out")
      .outputMode("append").start()
    try {
      mem.addData(("k1", "a"), ("k2", "b"))
      q.processAllAvailable()
      // k1 recurs in a LATER trigger: its reject must point back at "a"
      mem.addData(("k1", "c"), ("k3", "d"), ("k3", "e"))
      q.processAllAvailable()
      val out = spark.table("markseen_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getString(3)))
      assert(out.toSet.contains(("k1", "a", true, "a")))
      assert(out.toSet.contains(("k1", "c", false, "a")), "state lost across triggers")
      val k3 = out.filter(_._1 == "k3")
      assert(k3.count(_._3) == 1 && k3.count(!_._3) == 1)
      assert(k3.forall(_._4 == k3.find(_._3).get._2))
    } finally q.stop()
  }

  test("streaming warc ingestion: files landing across triggers extract exactly once") {
    val base = java.nio.file.Files.createTempDirectory("graft_warcstream")
    val srcDir = base.resolve("in"); java.nio.file.Files.createDirectories(srcDir)
    def rec(uri: String, html: String): Array[Byte] = {
      val body = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
      val c = body.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2024-12-01T00:00:00Z\r\nContent-Length: ${c.length}\r\n\r\n" +
        body + "\r\n\r\n").getBytes("UTF-8")
    }
    def page(tag: String) = s"<html><body><p>Document $tag carries plenty of " +
      "perfectly ordinary readable words to clear the extraction minimum.</p></body></html>"
    java.nio.file.Files.write(srcDir.resolve("a.warc"), rec("http://x/a", page("alpha")))
    val q = graft.sources.Warc.loadStream(spark, srcDir.toString, "CC-S")
      .writeStream.format("memory").queryName("warc_stream")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream").count() == 1)
      // second trigger: one NEW file; the old one is not re-extracted.
      // Temp-suffixed in-flight names (half-copied archives) must stay
      // invisible — the default glob is suffix-anchored, not *.warc*.
      java.nio.file.Files.write(srcDir.resolve("b.warc"), rec("http://x/b", page("beta")))
      java.nio.file.Files.write(srcDir.resolve("c.warc.tmp"), rec("http://x/c", page("gamma")))
      java.nio.file.Files.write(srcDir.resolve("d.warc.gz._COPYING_"),
        rec("http://x/d", page("delta")))
      q.processAllAvailable()
      val urls = spark.table("warc_stream").select("url")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(urls == Seq("http://x/a", "http://x/b"))
    } finally q.stop()
  }

  test("streaming drift monitor: complete-mode bucket counts finish to the batch PSI") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_driftstream")
    val drift = new graft.operators.stats.DistributionDrift(
      "m", "grp", baseVal = "base", curVal = "cur", buckets = 5, width = 10L)
    val mem = MemoryStream[(Long, String)]
    // the streamable half runs on the stream (complete-mode groupBy);
    // the spine/window finish reads the maintained counts table
    // batch-side — the calibration-monitor idiom
    val q = drift.bucketCounts(mem.toDF().toDF("m", "grp"))
      .writeStream.format("memory").queryName("drift_counts")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("complete").start()
    val b1 = Seq((5L, "base"), (15L, "base"), (12L, "cur"))
    val b2 = Seq((25L, "base"), (44L, "cur"), (47L, "cur"), (31L, "base"))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = drift.psiFromCounts(spark.table("drift_counts")).head()
      val batch = drift.psi((b1 ++ b2).toDF("m", "grp")).head()
      assert(streamed == batch, s"stream monitor $streamed must equal batch $batch")
    } finally q.stop()
  }

  test("streaming anomaly monitor: hourly counts over a stream finish to the batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_anomstream")
    val op = new graft.operators.events.EventAnomaly(
      trailing = 24, minPrior = 12, zThreshold = 3.0)
    def hourTs(h: Int, i: Int) = h * 3600000000L + i * 1000000L
    val rows = (for {
      h <- 0 until 40
      n = if (h == 30) 60 else 10 + (h % 3) - 1
      i <- 0 until n
    } yield (hourTs(h, i), "A")).toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = op.counts(mem.toDF().toDF("us", "event_type")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
      .writeStream.format("memory").queryName("anom_counts")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("complete").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = op.fromCounts(spark.table("anom_counts")).collect().toSeq
      val batch = op(b1.union(b2).toDF("us", "event_type")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")).collect().toSeq
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(batch.nonEmpty) // the planted spike is in the verdicts
    } finally q.stop()
  }

  // Boundary contract: session_window starts a NEW session at an
  // exactly-gap-spaced event ([t,t+g) windows touch, not overlap) while
  // the batch sessionizer's strict `> gap` keeps it — the pin holds for
  // any stream without exact-gap spacing (measure-zero on real traffic;
  // this fixture keeps gaps strictly off the boundary).
  test("streaming session_window: finalized sessions equal the batch sessionizer") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sesstream")
    val gapMin = 30
    // user 1: two sessions (10:00-10:10, 11:30); user 2: one session
    def ev(id: Long, user: Long, minute: Long, v: Double) =
      (id, user, minute * 60000000L, v)
    val rows = Seq(
      ev(1, 1L, 600, 1.0), ev(2, 1L, 605, 2.0), ev(3, 1L, 610, 3.0),
      ev(4, 1L, 690, 4.0),                       // 11:30 -> new session (80 min gap)
      ev(5, 2L, 600, 5.0), ev(6, 2L, 615, 6.0))
    // sentinel far in the future pushes the watermark past every session
    val sentinel = ev(99, 9L, 10000, 0.0)
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val stream = mem.toDF().toDF("event_id", "user_id", "us", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMin minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"))
    val q = stream.writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append").start()
    try {
      mem.addData(rows: _*); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      mem.addData(ev(100, 9L, 10001, 0.0)); q.processAllAvailable()
      val streamed = spark.table("sess_out")
        .filter(col("user_id") < 9)
        .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = new graft.operators.events.Sessionize(gapMinutes = gapMin)
        .sessions(rows.toDF("event_id", "user_id", "us", "value")
          .withColumn("ts", timestamp_micros(col("us"))))
        .select(col("user_id"), col("session_start"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(batch.size == 3)
    } finally q.stop()
  }

  test("streaming calibration: the reliability table over a stream equals the batch table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_calstream")
    val mem = MemoryStream[(Double, Long)]
    val q = graft.operators.ml.Calibration.table(
        mem.toDF().toDF("score", "lab"), col("score"), col("lab"))
      .writeStream.format("memory").queryName("cal_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("complete").start()
    val b1 = Seq((0.05, 0L), (0.55, 1L), (0.58, 1L))
    val b2 = Seq((0.08, 1L), (0.51, 0L), (1.0, 1L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("cal_out").orderBy("bucket").collect().toSeq
      val batch = graft.operators.ml.Calibration.table(
        (b1 ++ b2).toDF("score", "lab"), col("score"), col("lab")).collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming A/B readout: WelchTTest over a stream converges to the batch answer") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_abstream")
    val op = new graft.operators.stats.WelchTTest("v", "grp", "a", "b")
    val mem = MemoryStream[(String, Double)]
    // the batch operator IS the streaming operator: its one aggregate
    // becomes incremental streaming state, the t projection recomputes
    // per trigger (complete mode — the readout is a single row)
    val q = op(mem.toDF().toDF("grp", "v"))
      .writeStream.format("memory").queryName("ab_out")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("complete").start()
    val batch1 = Seq(("a", 1.0), ("a", 2.0), ("b", 2.0))
    val batch2 = Seq(("a", 3.0), ("b", 4.0), ("b", 6.0), ("b", 8.0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("ab_out").collect().last
      val batch = op((batch1 ++ batch2).toDF("grp", "v")).head()
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }
}
