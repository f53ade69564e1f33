package graft

import graft.functions.TextFunctions
import graft.operators.text.TextLengthFilter
import graft.streaming.StreamingCuration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §2.9 incremental mode: file-source backpressure, unbounded keyed dedup
  * state across triggers, operator reuse on streaming frames, and
  * watermarked event-time windows.
  */
class StreamingSpec extends AnyFunSuite {
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

  test("streaming bigram-LM scoring: frozen-model stream scores equal batch scoreAgainst across triggers; retrain tracks the accumulated corpus") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the lazy dog sleeps while the quick fox runs"),
      (102L, "a slow green turtle walks under the old bridge")).toDF("doc_id", "text")
    // stream docs mix SEEN transitions, unseen pairs with seen contexts,
    // and fully-unseen contexts (the three backoff arms), plus a <2-token
    // doc (NULL score)
    val rows = Seq(
      (1L, "the quick brown fox"),
      (2L, "the purple fox telephones zebras"),
      (3L, "completely novel vocabulary everywhere tonight"),
      (4L, "dog"),
      (5L, "the lazy dog jumps over a slow green turtle"),
      (6L, "bridge the gap between corpora"))
    val base = java.nio.file.Files.createTempDirectory("graft_blmstream")
    val outDir = base.resolve("out").toString
    val corpusDir = base.resolve("corpus").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.bigramLmScoreForeachBatch(
        mem.toDF().toDF("doc_id", "text"), train, outDir, corpusDir,
        base.resolve("model").toString, textCol = "text", idCol = "doc_id")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    val model = lm.freeze(train)
    try {
      val (b1, b2) = rows.splitAt(3)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      def scoresOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val streamed = scoresOf(spark.read.parquet(outDir))
      val batch = scoresOf(lm.scoreAgainst(rows.toDF("doc_id", "text"), model))
      assert(streamed == batch, s"stream $streamed must equal batch $batch")
      assert(streamed(4L)._2.isEmpty, "a 1-token doc has no transitions")
      assert(streamed(1L)._2.get < streamed(3L)._2.get,
        "seen transitions must cost fewer bits than fully-novel text")
      // the raw corpus accumulated for retrains
      assert(spark.read.parquet(corpusDir).count() == rows.size.toLong)
    } finally { q.stop(); model.release() }

    // retrain path: with retrainEvery=1, trigger 2 scores under the model
    // re-trained on trigger 1's accumulated raw corpus
    val base2 = java.nio.file.Files.createTempDirectory("graft_blmretrain")
    val out2 = base2.resolve("out").toString
    val corpus2 = base2.resolve("corpus").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingCuration.bigramLmScoreForeachBatch(
        mem2.toDF().toDF("doc_id", "text"), train, out2, corpus2,
        base2.resolve("model").toString, textCol = "text", idCol = "doc_id",
        retrainEvery = Some(1))
      .option("checkpointLocation", base2.resolve("ckpt").toString)
      .start()
    try {
      val (b1, b2) = rows.splitAt(3)
      mem2.addData(b1: _*); q2.processAllAvailable()
      mem2.addData(b2: _*); q2.processAllAvailable()
      val streamed = spark.read.parquet(out2).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val m1 = lm.freeze(train)
      val m2 = lm.freeze(b1.toDF("doc_id", "text"))
      try {
        val want1 = lm.scoreAgainst(b1.toDF("doc_id", "text"), m1).collect()
        val want2 = lm.scoreAgainst(b2.toDF("doc_id", "text"), m2).collect()
        val want = (want1 ++ want2)
          .map(r => r.getLong(0) -> ((r.getLong(1),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
        assert(streamed == want,
          s"retrain stream $streamed must equal per-epoch batch $want")
      } finally { m1.release(); m2.release() }
    } finally q2.stop()
  }

  test("streaming KN-smoothed bigram scoring: stream scores equal batch scoreAgainst under a KN freeze; snapshot is KN-complete") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the lazy dog sleeps while the quick fox runs"),
      (102L, "a slow green turtle walks under the old bridge")).toDF("doc_id", "text")
    val rows = Seq(
      (1L, "the quick brown fox"),
      (2L, "the purple fox telephones zebras"),
      (3L, "completely novel vocabulary everywhere tonight"),
      (4L, "dog"),
      (5L, "the lazy dog jumps over a slow green turtle"),
      (6L, "bridge the gap between corpora"))
    val base = java.nio.file.Files.createTempDirectory("graft_blmknstream")
    val outDir = base.resolve("out").toString
    val modelDir = base.resolve("model").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.bigramLmScoreForeachBatch(
        mem.toDF().toDF("doc_id", "text"), train, outDir,
        base.resolve("corpus").toString, modelDir,
        textCol = "text", idCol = "doc_id", smoothing = "kn")
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    val model = lm.freeze(train, smoothing = "kn")
    try {
      val (b1, b2) = rows.splitAt(3)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      def scoresOf(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val streamed = scoresOf(spark.read.parquet(outDir))
      val batch = scoresOf(lm.scoreAgainst(rows.toDF("doc_id", "text"), model))
      assert(streamed == batch, s"KN stream $streamed must equal batch $batch")
      assert(streamed(4L)._2.isEmpty)
      // the v0 snapshot carries all FOUR KN tables (a reboot with
      // smoothing=kn would adopt it; the 3-table add-one probe must NOT
      // see a KN snapshot as complete-for-addone-and-missing-cont)
      assert(graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "kn")
        .exists(_.endsWith("v0")))
    } finally { q.stop(); model.release() }
  }

  test("bigram-LM streaming restart: replayed epoch never duplicates the corpus; a reboot adopts the latest complete snapshot, not v0") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the lazy dog sleeps while the quick fox runs")).toDF("doc_id", "text")
    val b1 = Seq((1L, "the quick brown fox"), (2L, "a lazy dog runs"),
      (3L, "novel words entirely here"))
    val base = java.nio.file.Files.createTempDirectory("graft_blmrestart")
    val corpusDir = base.resolve("corpus").toString
    val modelDir = base.resolve("model").toString
    // fresh start: no snapshots yet
    assert(graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "addone").isEmpty)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.bigramLmScoreForeachBatch(
        mem.toDF().toDF("doc_id", "text"), train,
        base.resolve("out1").toString, corpusDir, modelDir,
        textCol = "text", idCol = "doc_id", retrainEvery = Some(1))
      .option("checkpointLocation", base.resolve("ckpt1").toString)
      .start()
    try { mem.addData(b1: _*); q.processAllAvailable() } finally q.stop()
    // epoch 0 retrained: v0 (train) and v1 (accumulated corpus = b1) exist;
    // an empty decoy dir without _SUCCESS markers is never adopted
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(modelDir).resolve("v7"))
    val latest = graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "addone")
    assert(latest.exists(_.endsWith("v1")), s"latest must be v1, got $latest")
    // reboot: fresh checkpoint REPLAYS epoch 0 with the same rows — the
    // epoch-keyed overwrite must leave the corpus count unchanged, and the
    // scorer must resume under v1 (trained on b1), not re-freeze train
    val out2 = base.resolve("out2").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingCuration.bigramLmScoreForeachBatch(
        mem2.toDF().toDF("doc_id", "text"), train,
        out2, corpusDir, modelDir, textCol = "text", idCol = "doc_id")
      .option("checkpointLocation", base.resolve("ckpt2").toString)
      .start()
    try { mem2.addData(b1: _*); q2.processAllAvailable() } finally q2.stop()
    assert(spark.read.parquet(corpusDir).count() == b1.size.toLong,
      "replayed epoch must overwrite its own partition, not append")
    def scoresOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val mB1 = lm.freeze(b1.toDF("doc_id", "text"))
    try {
      val want = scoresOf(lm.scoreAgainst(b1.toDF("doc_id", "text"), mB1))
      val got = scoresOf(spark.read.parquet(out2))
      assert(got == want,
        s"rebooted scorer must score under the v1 snapshot: got $got want $want")
    } finally mB1.release()
    // no new snapshot was written by the reboot (loaded, not re-frozen)
    assert(graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "addone")
      .exists(_.endsWith("v1")))
  }

  test("KN bigram-LM streaming restart: a reboot adopts the latest KN snapshot without re-freezing and scores under it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lm = new graft.operators.text.BigramLm("text", "doc_id")
    val train = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "the lazy dog sleeps while the quick fox runs")).toDF("doc_id", "text")
    val b1 = Seq((1L, "the quick brown fox"), (2L, "a lazy dog runs"),
      (3L, "novel words entirely here"), (4L, "a lazy dog runs home"))
    // the reboot's batch mixes trained transitions, seen contexts with
    // unseen words and fully unseen text, so every backoff arm reads
    // the loaded ctx/cont/tot tables
    val b2 = Seq((5L, "a lazy dog runs"), (6L, "a lazy cat sleeps"),
      (7L, "zebras telephone the quick fox"), (8L, "dog"))
    val base = java.nio.file.Files.createTempDirectory("graft_blmknrestart")
    val modelDir = base.resolve("model").toString
    val corpusDir = base.resolve("corpus").toString
    // first run: epoch 0 scores under v0 (train), then re-freezes on the
    // accumulated corpus (b1) as v1
    val mem = MemoryStream[(Long, String)]
    val q = StreamingCuration.bigramLmScoreForeachBatch(
        mem.toDF().toDF("doc_id", "text"), train,
        base.resolve("out1").toString, corpusDir, modelDir,
        textCol = "text", idCol = "doc_id", retrainEvery = Some(1),
        smoothing = "kn")
      .option("checkpointLocation", base.resolve("ckpt1").toString)
      .start()
    try { mem.addData(b1: _*); q.processAllAvailable() } finally q.stop()
    val v1 = graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "kn")
    assert(v1.exists(_.endsWith("v1")), s"latest KN snapshot must be v1, got $v1")
    assert(graft.operators.text.BigramLm.latestSnapshot(spark, modelDir, "addone").isEmpty,
      "a KN snapshot is never complete for the add-one probe")
    val fs = new org.apache.hadoop.fs.Path(modelDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stamps() = fs.listStatus(new org.apache.hadoop.fs.Path(modelDir))
      .map(st => st.getPath.getName -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(st.getPath, "cost/_SUCCESS")).getModificationTime)
      .toMap
    val before = stamps()
    // reboot on a fresh checkpoint over the same modelDir
    val out2 = base.resolve("out2").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamingCuration.bigramLmScoreForeachBatch(
        mem2.toDF().toDF("doc_id", "text"), train,
        out2, corpusDir, modelDir, textCol = "text", idCol = "doc_id",
        smoothing = "kn")
      .option("checkpointLocation", base.resolve("ckpt2").toString)
      .start()
    try { mem2.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    // adopted, not re-frozen: the same snapshots, none rewritten
    assert(stamps() == before, s"the reboot rewrote a snapshot: ${stamps()} vs $before")
    def scoresOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    val mB1 = lm.freeze(b1.toDF("doc_id", "text"), smoothing = "kn")
    val mTrain = lm.freeze(train, smoothing = "kn")
    try {
      val want = scoresOf(lm.scoreAgainst(b2.toDF("doc_id", "text"), mB1))
      val got = scoresOf(spark.read.parquet(out2))
      assert(got == want,
        s"rebooted KN scorer must score under the v1 snapshot: got $got want $want")
      assert(got != scoresOf(lm.scoreAgainst(b2.toDF("doc_id", "text"), mTrain)),
        "v0 and v1 must score the reboot batch differently, or adoption is unobservable")
      assert(got(8L)._2.isEmpty && got.values.count(_._2.isDefined) == 3)
    } finally { mB1.release(); mTrain.release() }
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
  }

  test("epoch store listing: committed epoch=N children only; below vs excluding") {
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft_epochs").resolve("store")
    def child(name: String, committed: Boolean): Path = {
      val d = Files.createDirectories(dir.resolve(name))
      if (committed) Files.createFile(d.resolve("_SUCCESS"))
      d
    }
    Seq("epoch=0", "epoch=1", "epoch=3").foreach(child(_, committed = true))
    // a crashed epoch: only the writer's _temporary debris, no marker
    Files.createDirectories(child("epoch=4", committed = false).resolve("_temporary"))
    // a committed child outside the epoch= layout (read as 7 if the
    // prefix rule were lost)
    child("7", committed = true)
    val d = dir.toString
    assert(StreamingCuration.latestCommittedEpochBelow(spark, d, 3L) == Some(1L))
    assert(StreamingCuration.latestCommittedEpoch(spark, d, excluding = 3L) == Some(1L))
    assert(StreamingCuration.latestCommittedEpoch(spark, d, excluding = 9L) == Some(3L),
      "epoch=4 (uncommitted) and the non-epoch child must not count")
    assert(StreamingCuration.latestCommittedEpochBelow(spark, d, 0L).isEmpty)
    assert(StreamingCuration.latestCommittedEpoch(
      spark, dir.resolveSibling("absent").toString, excluding = 0L).isEmpty)
  }

  test("streaming anchor mining: union of per-trigger pairs equals the batch first-cap twin; frozen stats never drift") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.vector.AnnSearch
    val rnd = new scala.util.Random(777)
    val vecs = (0L until 120L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val all = vecs.toDF("vec_id", "embedding")
    // the reference corpus (frozen stats source) is a 40-row slice — NOT
    // the full stream, so drift would be visible if stats weren't frozen
    val ref = vecs.take(40).toDF("vec_id", "embedding")
    val bands = Seq(Seq(0, 1, 2), Seq(3, 4, 5))
    val (cap, t) = (9, 0.1) // small cap: buckets CLOSE mid-stream
    val base = java.nio.file.Files.createTempDirectory("graft_anchor_stream")
    val outDir = base.resolve("out").toString
    val priorDir = base.resolve("prior").toString
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamingCuration.anchorMiningForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), ref, outDir, priorDir,
        vecCol = "embedding", idCol = "vec_id", bands = bands,
        maxBucketSize = cap, threshold = t)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try {
      // id-ordered arrival across THREE triggers (the first-cap contract)
      val (b1, rest) = vecs.splitAt(40)
      val (b2, b3) = rest.splitAt(40)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val stats = AnnSearch.bandStatsOf(ref, "embedding", bands)
    val want = AnnSearch.anchorCandidatesFirstCap(all, "embedding", "vec_id",
        bands, cap, t, stats)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = spark.read.parquet(outDir).select("a", "b", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(want.nonEmpty, "vacuous fixture — no anchor pairs at all")
    assert(got == want,
      s"stream pairs (${got.size}) must equal batch twin (${want.size}); " +
        s"sym-diff keys: ${(got.keySet diff want.keySet) union (want.keySet diff got.keySet)}")
    // the prior store holds exactly the capped membership of the twin
    val storeN = spark.read.parquet(priorDir).count()
    val twinN = {
      import org.apache.spark.sql.expressions.Window
      AnnSearch.bandedFrozen(all, "embedding", "vec_id", bands, stats)
        .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
          Window.partitionBy(col("_band"), col("_bk")).orderBy(col("vec_id"))))
        .filter(col("_rn") <= cap).count()
    }
    assert(storeN == twinN, s"prior store $storeN vs twin membership $twinN")
    // the cap actually engaged (buckets closed mid-stream): without it
    // the membership would be the full banded row count
    assert(twinN < 120L * bands.length, "cap never engaged — weak fixture")
    // replay idempotency: epoch 0 re-processed with the SAME rows and
    // the SAME epoch number (the crash-replay shape) must re-derive the
    // identical admission and pair set — the prior read excludes the
    // epoch's own partition, so the replay sees exactly the pre-epoch
    // state (without the exclusion the replayed rows would count
    // against the cap, be rejected, and the overwrite would DROP them)
    val base2 = java.nio.file.Files.createTempDirectory("graft_anchor_replay")
    val out2 = base2.resolve("out").toString
    val prior2 = base2.resolve("prior").toString
    def runEpoch0(ckpt: String): Unit = {
      val m = MemoryStream[(Long, Array[Float])]
      val qq = StreamingCuration.anchorMiningForeachBatch(
          m.toDF().toDF("vec_id", "embedding"), ref, out2, prior2,
          vecCol = "embedding", idCol = "vec_id", bands = bands,
          maxBucketSize = cap, threshold = t)
        .option("checkpointLocation", base2.resolve(ckpt).toString)
        .start()
      try { m.addData(vecs.take(40): _*); qq.processAllAvailable() }
      finally qq.stop()
    }
    runEpoch0("ckpt_a")
    val pairsOnce = spark.read.parquet(out2).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val storeOnce = spark.read.parquet(prior2).count()
    runEpoch0("ckpt_b") // the replay: same rows, same epoch number
    val pairsTwice = spark.read.parquet(out2).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsTwice == pairsOnce, "replayed epoch must re-derive the same pairs")
    assert(spark.read.parquet(prior2).count() == storeOnce,
      "replayed epoch must re-derive the same store membership")
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

  test("ttl-bounded dedup state: expiry frees the key, re-arrival dedups afresh") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val fn = StreamingCuration.ttlDedupFunc("1 hours") _
    // batch 1: first-seen kept, duplicate rejected, TTL timer registered
    val s1 = TestGroupState.create[String](org.apache.spark.api.java.Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    val out1 = fn("k1", Iterator(("k1", "a"), ("k1", "b")), s1).toList
    assert(out1 == List(
      StreamingCuration.DedupDecision("k1", "a", kept = true, "a"),
      StreamingCuration.DedupDecision("k1", "b", kept = false, "a")))
    assert(s1.get == "a" && s1.getTimeoutTimestampMs.isPresent)
    // batch 2 within TTL: duplicate still rejected against the stored rep
    val s2 = TestGroupState.create[String](org.apache.spark.api.java.Optional.of("a"),
      GroupStateTimeout.ProcessingTimeTimeout, batchProcessingTimeMs = 2000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    assert(fn("k1", Iterator(("k1", "c")), s2).toList ==
      List(StreamingCuration.DedupDecision("k1", "c", kept = false, "a")))
    // timeout fires: state removed, nothing emitted
    val s3 = TestGroupState.create[String](org.apache.spark.api.java.Optional.of("a"),
      GroupStateTimeout.ProcessingTimeTimeout, batchProcessingTimeMs = 9999999L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty(), hasTimedOut = true)
    assert(fn("k1", Iterator.empty, s3).isEmpty && s3.isRemoved)
    // post-expiry re-arrival: fresh first-seen with a NEW representative
    val s4 = TestGroupState.create[String](org.apache.spark.api.java.Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, batchProcessingTimeMs = 10000000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    assert(fn("k1", Iterator(("k1", "c")), s4).toList ==
      List(StreamingCuration.DedupDecision("k1", "c", kept = true, "c")))
    assert(s4.get == "c")
  }

  test("watermarked session windows close by gap and emit on watermark advance") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamingCuration.sessionizeStream(events, "ts", "user_id", "value")
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // user 7: two events 10 min apart (one session), then 50 min gap (new session)
      mem.addData(
        (t("2024-06-01 10:00:00"), 7L, 1.0),
        (t("2024-06-01 10:10:00"), 7L, 2.0),
        (t("2024-06-01 11:00:00"), 7L, 4.0))
      q.processAllAvailable()
      // push the watermark far past every session's end + gap
      mem.addData((t("2024-06-02 10:00:00"), 99L, 0.0))
      q.processAllAvailable()
      mem.addData((t("2024-06-03 10:00:00"), 99L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("session_out")
        .select(col("user_id"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((7L, 2L, 3.0)), s"first session missing from $rows")
      assert(rows.contains((7L, 1L, 4.0)), s"second session missing from $rows")
    } finally q.stop()
  }

  test("stream-stream attribution join matches clicks in the trailing window, outer-emits after watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val cMem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val purchases = pMem.toDF().toDF("ts", "user_id", "p_id")
    val clicks = cMem.toDF().toDF("cts", "c_user", "click_id")
    val q = StreamingCuration.attributionJoinStream(
      purchases, clicks, "user_id", "ts", "c_user", "cts")
      .select(col("p_id"), col("click_id"))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      cMem.addData(
        (t("2024-06-01 09:30:00"), 7L, 100L),  // inside p1's 1h window
        (t("2024-06-01 08:30:00"), 7L, 101L),  // too early for p1
        (t("2024-06-01 09:40:00"), 8L, 102L))  // other user
      pMem.addData(
        (t("2024-06-01 10:00:00"), 7L, 1L),
        (t("2024-06-01 10:00:00"), 9L, 2L))    // user 9: no clicks at all
      q.processAllAvailable()
      // advance BOTH watermarks far past the windows so the unmatched
      // left row is released by the outer join
      cMem.addData((t("2024-06-02 10:00:00"), 99L, 999L))
      pMem.addData((t("2024-06-02 10:00:00"), 99L, 99L))
      q.processAllAvailable()
      cMem.addData((t("2024-06-03 10:00:00"), 99L, 998L))
      pMem.addData((t("2024-06-03 10:00:00"), 99L, 98L))
      q.processAllAvailable()
      val rows = spark.table("attr_out")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 100L)), s"in-window click missing: $rows")
      assert(!rows.contains((1L, 101L)) && !rows.contains((1L, 102L)), rows)
      assert(rows.contains((2L, -1L)), s"unmatched purchase not outer-emitted: $rows")
    } finally q.stop()
  }

  test("watermarked hourly window counts over an event stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val events = mem.toDF().toDF("ts", "event_type")
    val q = StreamingCuration.hourlyEventCounts(events, "ts", "event_type")
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("update").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-06-01 $h%02d:$m%02d:00")
      mem.addData((t(10, 5), "click"), (t(10, 40), "click"), (t(10, 50), "view"),
        (t(11, 10), "click"))
      q.processAllAvailable()
      val rows = spark.table("hourly_out")
        .select(col("window.start").cast("string"), col("event_type"), col("n_events"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-06-01 10:00:00", "click", 2L)))
      assert(rows.contains(("2024-06-01 10:00:00", "view", 1L)))
      assert(rows.contains(("2024-06-01 11:00:00", "click", 1L)))
    } finally q.stop()
  }

  test("streaming hll cardinality: last trigger's estimates equal the one-shot batch sketch exactly; replay never inflates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.{HashFunctions, HllSketch}
    val p = 10
    // overlapping values across triggers: idempotence of the register
    // max is what keeps re-seen keys from inflating the estimate
    val b1 = (0L until 400L).map(v => ("a", v)) ++ (0L until 100L).map(v => ("b", v))
    val b2 = (200L until 700L).map(v => ("a", v)) ++ (50L until 120L).map(v => ("b", v))
    val b3 = (600L until 900L).map(v => ("a", v))
    val all = b1 ++ b2 ++ b3
    val base = java.nio.file.Files.createTempDirectory("graft_hllstream")
    val outDir = base.resolve("out").toString
    val storeDir = base.resolve("store").toString
    def estsOf(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    def batchEsts(rows: Seq[(String, Long)]): Map[String, Double] =
      estsOf(rows.toDF("src", "v").groupBy(col("src"))
        .agg(round(HllSketch.hllDistinct(
          HashFunctions.portableHash64(col("v")), p), 6).as("estimate")))
    // run 1 processes only b1 (epoch 0 commits), then "crashes"
    val mem = MemoryStream[(String, Long)]
    val q = StreamingCuration.hllCardinalityForeachBatch(
        mem.toDF().toDF("src", "v"), outDir, storeDir, keyCol = "v",
        groupCol = "src", p = p)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .start()
    try { mem.addData(b1: _*); q.processAllAvailable() } finally q.stop()
    // reboot with a fresh checkpoint: epoch 0 REPLAYS b1 against the
    // store that already holds its partial write — the epoch-overwrite
    // plus max-idempotence must republish the same estimates, not
    // double-count; the stream then continues with b2/b3
    val mem2 = MemoryStream[(String, Long)]
    val q2 = StreamingCuration.hllCardinalityForeachBatch(
        mem2.toDF().toDF("src", "v"), outDir, storeDir, keyCol = "v",
        groupCol = "src", p = p)
      .option("checkpointLocation", base.resolve("ckpt2").toString)
      .start()
    try {
      mem2.addData(b1: _*); q2.processAllAvailable()
      mem2.addData(b2: _*); q2.processAllAvailable()
      mem2.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(estsOf(spark.read.parquet(s"$outDir/epoch=0")
      .select(col("src"), col("estimate"))) == batchEsts(b1),
      "replayed epoch 0 must republish its own estimates, prior-free")
    assert(estsOf(spark.read.parquet(s"$outDir/epoch=1")
      .select(col("src"), col("estimate"))) == batchEsts(b1 ++ b2))
    // the final published estimates equal the one-shot batch sketch
    // EXACTLY — register max is batch-order invariant
    assert(estsOf(spark.read.parquet(s"$outDir/epoch=2")
      .select(col("src"), col("estimate"))) == batchEsts(all),
      "stream-final estimates must equal the one-shot batch sketch")
    // the store holds exactly the three epoch partitions
    assert(spark.read.parquet(storeDir).select(col("epoch")).distinct()
      .collect().map(_.getInt(0)).toSet == Set(0, 1, 2))
  }

  test("streaming pca: epoch-merged exact moments == batch fit bit-for-bit; crash replay republishes identical state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.vector.Pca
    val base = java.nio.file.Files.createTempDirectory("graft_pca_stream")
    val outDir = base.resolve("out").toString
    val storeDir = base.resolve("store").toString
    val d = 8; val nc = 3
    def vec(i: Long): Seq[Double] = (0 until d).map(j =>
      math.sin(i * 0.7 + j * 1.3) + (if (j % 2 == 0) 0.3 else -0.1) * (i % 5).toDouble)
    val b1 = (0L until 40L).map(i => (i, vec(i)))
    val b2 = (40L until 90L).map(i => (i, vec(i)))
    val b3 = (90L until 120L).map(i => (i, vec(i)))
    def asTuples(m: Pca.PcaModel): Seq[(Int, Double, Double, Seq[Double])] =
      m.components.indices.map(k =>
        (k, m.eigenvalues(k), m.offsets(k), m.components(k).toSeq))
    def batchModel(rows: Seq[(Long, Seq[Double])]) = asTuples(
      Pca.fit(rows.toDF("vec_id", "embedding"), "embedding", d, nc))
    def published(epoch: Int): Seq[(Int, Double, Double, Seq[Double])] =
      spark.read.parquet(s"$outDir/epoch=$epoch").orderBy(col("k")).collect()
        .toSeq.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
          r.getSeq[Double](3).toSeq))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StreamingCuration.pcaMomentsForeachBatch(
        mem.toDF().toDF("vec_id", "embedding"), outDir, storeDir,
        "embedding", d, nc)
      .option("checkpointLocation", base.resolve("ckpt").toString).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // reboot with a FRESH checkpoint over the TWO-epoch store: the new
    // stream renumbers from 0, so its replayed b1 folds against a store
    // whose STALE epoch=1 snapshot already contains b1+b2 — the fold
    // must read strictly-below snapshots only (integer add is NOT
    // idempotent: folding into the stale higher epoch would silently
    // double-count b1 and corrupt every later model — this pin is
    // load-bearing in a way the HLL max twin's is not)
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamingCuration.pcaMomentsForeachBatch(
        mem2.toDF().toDF("vec_id", "embedding"), outDir, storeDir,
        "embedding", d, nc)
      .option("checkpointLocation", base.resolve("ckpt2").toString).start()
    try {
      mem2.addData(b1: _*); q2.processAllAvailable()
      mem2.addData(b2: _*); q2.processAllAvailable()
      mem2.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    // each epoch's published model equals the batch fit over the union
    // so far — bit-for-bit (identical integer moments → identical
    // Jacobi), not approximately
    assert(published(0) == batchModel(b1),
      "replayed epoch 0 must republish the prior-free fit")
    assert(published(1) == batchModel(b1 ++ b2))
    assert(published(2) == batchModel(b1 ++ b2 ++ b3))
    // the cumulative snapshot is ONE row per epoch; three epochs live
    val snaps = spark.read.parquet(storeDir)
    assert(snaps.select(col("epoch")).distinct().collect()
      .map(_.getInt(0)).toSet == Set(0, 1, 2))
    assert(snaps.filter(col("epoch") === 2).count() == 1)
  }

  test("streaming cdc upsert: snapshots fold per trigger, _LATEST pointer wins") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val snap = java.nio.file.Files.createTempDirectory("graft_cdc_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt").toString
    // (key, tsMicros, seq, op, value)
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val changes = mem.toDF().toDF("k", "tsl", "seq", "op", "v")
      .withColumn("ts", org.apache.spark.sql.functions.timestamp_micros($"tsl")).drop("tsl")
    val q = StreamingCuration.cdcUpsertForeachBatch(
        changes, snap, "k", "ts", "seq", "op", "D", "v")
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData((1L, 10L, 1L, "U", 1.0), (2L, 10L, 1L, "U", 2.0), (2L, 20L, 2L, "U", 2.5))
      q.processAllAvailable()
      def snapshot(): Map[Long, Double] = {
        val ptr = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$snap/_LATEST")), "UTF-8").trim
        spark.read.parquet(s"$snap/$ptr")
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      assert(snapshot() == Map(1L -> 1.0, 2L -> 2.5)) // within-batch netting
      mem.addData((1L, 30L, 1L, "U", 9.0), (2L, 30L, 1L, "D", 0.0), (3L, 30L, 1L, "U", 3.0))
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> 9.0, 3L -> 3.0)) // update, delete, insert
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
