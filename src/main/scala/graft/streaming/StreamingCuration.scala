package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental/streaming execution (SURVEY.md §2.9). The reference's
  * "streaming" is pull-based incremental batch: loader actors pulling
  * bounded batches (backpressure via max_in_flight), checkpoint =
  * (shard, records_processed), and an unbounded global dedup key-set
  * (framework/loader_worker.py:83-234, backend.py:39-66). Structured
  * Streaming gives each a strictly stronger native form:
  *
  *  - incremental scan  → file source with `maxFilesPerTrigger`
  *  - checkpoint/resume → `checkpointLocation` (exactly-once offsets)
  *  - global dedup set  → `dropDuplicates` over the keyed state store
  *    (hash-partitioned state = the reference's bucketed set actors;
  *    use RocksDB state store at 100 B-key scale)
  *
  * Refiners and filters are narrow transformations, so the SAME operator
  * objects run unchanged on a streaming frame — asserted in
  * StreamingSpec.
  *
  * The `foreachBatch` twins keep their cross-trigger state in EPOCH
  * STORES, one contract for all of them:
  *
  *  - layout: one child per micro-batch, `dir/epoch=N` ([[epochDir]]);
  *  - commit marker: an epoch counts only once its child holds the
  *    writer's `_SUCCESS` ([[committedEpochs]]) — a crash mid-write
  *    leaves `_temporary` debris, never a half-read epoch;
  *  - overwrite per epoch: a trigger writes its epoch with OVERWRITE,
  *    so a crash-replayed epoch replaces its own partial write instead
  *    of duplicating it;
  *  - the current epoch is excluded on read: a replay sees exactly the
  *    pre-epoch state and re-derives the same result, instead of
  *    matching against (and dropping) its own earlier partial write.
  *    Accumulating stores read every committed epoch but the current
  *    one ([[committedPrior]]). Cumulative-snapshot stores read ONE
  *    snapshot: an idempotent fold takes the newest committed epoch
  *    EXCLUDING the current one ([[latestCommittedEpoch]]); a
  *    non-idempotent fold takes the newest STRICTLY BELOW it
  *    ([[latestCommittedEpochBelow]]).
  */
object StreamingCuration {
  import org.apache.hadoop.fs.Path

  private val EpochPrefix = "epoch="

  /** The store child of epoch `e` — every epoch-store read and write. */
  private def epochDir(dir: String, e: Long): String = s"$dir/$EpochPrefix$e"

  /** The committed epochs of the store at `dir` (its [[epochDir]]
    * children holding `_SUCCESS`), or Nil when `dir` does not exist.
    */
  private def committedEpochs(spark: SparkSession, dir: String): Seq[Long] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(EpochPrefix) &&
          fs.exists(new Path(st.getPath, "_SUCCESS")))
        name.stripPrefix(EpochPrefix).toLongOption
      else None
    }
  }

  /** The accumulated prior store with the current epoch's own partition
    * excluded, or None when the store holds nothing COMMITTED to read.
    * Bare directory existence is NOT enough (ADVICE r16): a first-epoch
    * crash leaves only `_temporary` debris, and schema inference over
    * zero data files throws and wedges the very replay loop the
    * overwrite discipline makes safe. The read is then still resolved
    * eagerly (forcing schema inference) so a committed-but-empty store
    * (a zero-row epoch writes `_SUCCESS` and no data files) also falls
    * back cleanly.
    */
  private[graft] def committedPrior(spark: SparkSession, dir: String,
      epoch: Long): Option[DataFrame] =
    if (committedEpochs(spark, dir).isEmpty) None
    else {
      val path = new Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // distinguish committed-but-EMPTY (zero data files — schema
      // inference throws, the clean no-prior fallback) from a store
      // that HAS data but fails analysis (schema drift, a corrupt
      // layout): swallowing the latter would silently disable
      // cross-trigger dedup while looking healthy — that failure must
      // surface, not read as "no prior yet"
      def hasDataFile(p: Path): Boolean = {
        val it = fs.listStatus(p).iterator
        var found = false
        while (!found && it.hasNext) {
          val st = it.next(); val n = st.getPath.getName
          if (n.head != '_' && n.head != '.') {
            if (st.isDirectory) found = hasDataFile(st.getPath)
            else found = true
          }
        }
        found
      }
      try Some(spark.read.parquet(dir).filter(col("epoch") =!= epoch))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (hasDataFile(path)) throw e else None
      }
    }

  /** Newest committed epoch STRICTLY BELOW `epoch` — the read side of a
    * cumulative store whose fold is NOT idempotent (exact integer adds):
    * a sequential stream reads epoch−1 exactly like
    * [[latestCommittedEpoch]] would, but a fresh-checkpoint restart that
    * renumbers from 0 over an existing store must NOT fold its replayed
    * batch into a HIGHER stale snapshot that already contains it —
    * epochs above the new stream's head are dead retention,
    * re-accumulated as the new run overtakes and overwrites them, never
    * read.
    */
  private[graft] def latestCommittedEpochBelow(spark: SparkSession,
      dir: String, epoch: Long): Option[Long] =
    committedEpochs(spark, dir).filter(_ < epoch).maxOption

  /** Newest committed epoch other than `excluding` — the read side of a
    * cumulative store whose fold is IDEMPOTENT (HLL register max), so
    * re-folding from a higher stale snapshot republishes the same state.
    */
  private[graft] def latestCommittedEpoch(spark: SparkSession, dir: String,
      excluding: Long): Option[Long] =
    committedEpochs(spark, dir).filter(_ != excluding).maxOption

  /** One trigger of a prior-dedup twin: `selfDedup` the batch, then —
    * when the store holds a committed prior — drop what `againstPrior`
    * (built from the prior's `storeCols`) finds; survivors go to `outDir`
    * and their `storeCols` to `priorDir`.
    */
  private def priorDedupForeachBatch(stream: DataFrame, outDir: String,
      priorDir: String, storeCols: Seq[String],
      selfDedup: DataFrame => DataFrame,
      againstPrior: DataFrame => DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val store = storeCols.map(col)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val selfDeduped = selfDedup(batch)
      val kept = committedPrior(batch.sparkSession, priorDir, epoch) match {
        case None => selfDeduped
        case Some(prior) => againstPrior(prior.select(store: _*))(selfDeduped)
      }
      val out = kept.persist()
      try {
        out.write.mode("overwrite").parquet(epochDir(outDir, epoch))
        out.select(store: _*).write.mode("overwrite").parquet(epochDir(priorDir, epoch))
      } finally out.unpersist()
      ()
    }
  }

  /** First-cap admission: `rows` rank by `idCol` within each `keys`
    * group and are admitted while the prior's members of that group
    * plus the rank fit `cap` — a group closes once full, so membership
    * is prefix-stable under ordered arrival. Returns `rows`' columns.
    */
  private def admitFirstCap(rows: DataFrame, prior: DataFrame, keys: Seq[String],
      idCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val priorCounts = prior.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_prior_n"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    rows.withColumn("_rank", row_number().over(w))
      .join(priorCounts, keys, "left")
      .filter(col("_rank") + coalesce(col("_prior_n"), lit(0L)) <= cap)
      .select(rows.columns.map(col): _*)
  }

  /** Incremental file source over a directory of parquet shards —
    * `maxFilesPerTrigger` is the backpressure bound (the reference's
    * max_in_flight batches).
    */
  def incrementalSource(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Global first-seen dedup on `key` across ALL triggers (unbounded
    * keyed state) — the streaming twin of the batch window dedup.
    */
  def dedupByKey(df: DataFrame, key: Column): DataFrame =
    df.withColumn("_dedup_key", key).dropDuplicates("_dedup_key").drop("_dedup_key")

  /** Streaming NEAR-dup twin: global first-seen dedup keyed by a content
    * fingerprint (SimHash over tokens) instead of an exact content hash —
    * lightly reworded re-crawls collide on the fingerprint and dedup
    * across triggers through the same unbounded keyed state. True
    * hamming ≤ k search needs candidate self-joins and stays batch
    * ([[graft.operators.dedup.SimHashNearDedup]]); the fingerprint key is
    * the streaming-compatible form (state = one entry per fingerprint).
    */
  def dedupByFingerprint(df: DataFrame, textCol: String, bits: Int = 32): DataFrame =
    dedupByKey(df, new graft.operators.dedup.SimHashDedup(
      textCol, textCol, textCol, bits).simhash(col(textCol)))

  /** Streaming MinHash near-dedup as a micro-batch loop: each trigger's
    * batch drops (1) near-dups of everything accepted in PREVIOUS
    * triggers — [[graft.operators.dedup.IncrementalMinHashDedup]]
    * against the accumulating prior store — and (2) within-batch
    * near-dups ([[graft.operators.dedup.MinHashLSHDedup]], full verified
    * Jaccard); survivors append to both the output and the prior store.
    * This is the production Kafka→micro-batch near-dedup shape: LSH
    * banding with EXACT set verification needs a candidate join, which
    * keyed per-row state can't express (a doc must meet candidates
    * across all its bands) — `foreachBatch` gives each trigger the full
    * batch-join machinery while the prior store carries cross-trigger
    * state. [[dedupByFingerprint]] remains the keyed-state alternative
    * (simhash equality, no join, weaker recall).
    *
    * At scale, point `priorDir` at the signature table you'd persist
    * anyway; restart-safety comes from the checkpointed source offsets
    * plus the epoch-store contract (object doc): both stores are epoch
    * stores, so a crash-replay re-derives the same drops instead of
    * self-matching against its previous partial write (which would drop
    * every replayed row as a "duplicate" of itself) or inflating the
    * stores.
    */
  def nearDedupForeachBatch(
      stream: DataFrame,
      outDir: String,
      priorDir: String,
      textCol: String = "text",
      idCol: String = "id",
      shingleWidth: Int = 3,
      numHashes: Int = 16,
      numBands: Int = 4,
      threshold: Double = 0.8,
      priorMaxBucketSize: Option[Int] = None,
      signatureScheme: String = "kmin"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // priorMaxBucketSize (r17): the per-trigger guard on the
    // accumulated prior's hot (band, bucket) groups — the prior grows
    // without bound across triggers, and its duplicate mass is exactly
    // where a bucket goes hot. Evaluated PER TRIGGER on the prior as
    // it stands (drop-hot, the IncrementalMinHashDedup policy), so a
    // bucket can close at a later trigger once it crosses the cap —
    // this bounds each trigger's join cost; it does NOT claim the
    // prefix-stable union==batch equivalence the probed twin's
    // first-cap admission provides.
    val lsh = new graft.operators.dedup.MinHashLSHDedup(
      textCol = textCol, idCol = idCol, shingleWidth = shingleWidth,
      numHashes = numHashes, numBands = numBands, threshold = threshold,
      signatureScheme = signatureScheme)
    priorDedupForeachBatch(stream, outDir, priorDir, Seq(idCol, textCol), lsh(_),
      prior => new graft.operators.dedup.IncrementalMinHashDedup(
        prior = Some(prior), textCol = textCol, idCol = idCol,
        shingleWidth = shingleWidth, numHashes = numHashes,
        numBands = numBands, threshold = threshold,
        priorMaxBucketSize = priorMaxBucketSize,
        signatureScheme = signatureScheme).apply)
  }

  /** Streaming bigram-LM quality scoring (r15) — the drift-monitor twin
    * of [[graft.operators.text.BigramLm]]: the LM trains ONCE on a
    * reference corpus and FREEZES ([[graft.operators.text.BigramLm.freeze]]);
    * each micro-batch scores against the frozen tables (two hash joins +
    * a broadcast scalar — no training-corpus rescan per trigger, the
    * KenLM-style run shape) and appends `(id, n_bigrams,
    * bits_per_bigram)` to `outDir`. Raw batches accumulate in
    * `corpusDir`; when `retrainEvery = Some(n)`, every n-th epoch
    * re-trains the model on the accumulated corpus AFTER scoring (so an
    * epoch's scores always reflect the model that was live when its data
    * arrived) and releases the old tables — how a curation pipeline
    * actually tracks distribution drift without ever scoring under a
    * half-updated model.
    *
    * Restart story: checkpointed source offsets; the training corpus
    * `corpusDir` is an epoch store (object doc), so a replayed epoch
    * overwrites rather than duplicates —
    * bigram counts never inflate across a crash (score appends to
    * `outDir` stay at-least-once, the standard foreachBatch caveat). On
    * startup the scorer adopts the highest-versioned COMPLETE snapshot
    * under `modelDir` when one exists
    * ([[graft.operators.text.BigramLm.latestSnapshot]]), falling back to
    * `freeze(trainCorpus)` only for a fresh start — a reboot resumes
    * under the model that was live at the crash. One replay edge stays
    * (inherent to post-scoring retrain + at-least-once): a crash between
    * a retrain-epoch's snapshot write and its checkpoint commit replays
    * that epoch's scores under its own retrain. StreamingSpec pins
    * stream score == batch [[graft.operators.text.BigramLm.scoreAgainst]]
    * under the same frozen model across triggers, the retrain path
    * against a batch re-freeze, and the restart path (corpus count
    * stable under replay, latest snapshot adopted).
    */
  def bigramLmScoreForeachBatch(
      stream: DataFrame,
      trainCorpus: DataFrame,
      outDir: String,
      corpusDir: String,
      modelDir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      retrainEvery: Option[Int] = None,
      smoothing: String = "addone")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(retrainEvery.forall(_ >= 1),
      s"retrainEvery must be >= 1 when set, got $retrainEvery")
    require(smoothing == "addone" || smoothing == "kn",
      s"unsupported smoothing '$smoothing' (addone | kn)")
    val lm = new graft.operators.text.BigramLm(textCol, idCol)
    // one handle over both model families: freeze/load/score/release —
    // the foreachBatch body below is smoothing-agnostic
    trait LmHandle { def score(df: DataFrame): DataFrame; def release(): Unit }
    def freeze(corpus: DataFrame, dir: String): LmHandle =
      if (smoothing == "kn") {
        val m = lm.freezeKn(corpus, Some(dir))
        new LmHandle {
          def score(df: DataFrame) = lm.scoreAgainstKn(df, m)
          def release() = m.release()
        }
      } else {
        val m = lm.freeze(corpus, Some(dir))
        new LmHandle {
          def score(df: DataFrame) = lm.scoreAgainst(df, m)
          def release() = m.release()
        }
      }
    def load(spark: org.apache.spark.sql.SparkSession, dir: String): LmHandle =
      if (smoothing == "kn") {
        val m = lm.loadKnSnapshot(spark, dir)
        new LmHandle {
          def score(df: DataFrame) = lm.scoreAgainstKn(df, m)
          def release() = m.release()
        }
      } else {
        val m = lm.loadSnapshot(spark, dir)
        new LmHandle {
          def score(df: DataFrame) = lm.scoreAgainst(df, m)
          def release() = m.release()
        }
      }
    val snapshotTables =
      if (smoothing == "kn") graft.operators.text.BigramLm.KnTables
      else Seq("cost", "ctx", "vocab")
    // adopt only snapshots of THIS smoothing family: a modelDir reused
    // across a smoothing change passes the bare table probe on a mixed
    // per-table-overwritten snapshot (see BigramLm.latestSnapshot)
    val snapshotFamily = Some(if (smoothing == "kn") "kn" else "addone")
    // every model SNAPSHOTS to a versioned dir: a cached plan over the
    // live (appended-to) corpusDir is NOT frozen — Spark's append path
    // refreshes-and-recaches plans rooted in the written path, so the
    // model would silently track data that arrived after its freeze
    // (see BigramLm.freeze). The snapshot is also the restart artifact.
    val model = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.text.BigramLm
        .latestSnapshot(trainCorpus.sparkSession, modelDir, snapshotTables,
          snapshotFamily) match {
        case Some(dir) => load(trainCorpus.sparkSession, dir)
        case None      => freeze(trainCorpus, s"$modelDir/v0")
      })
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val in = batch.persist()
      try {
        // epoch-keyed OVERWRITE: a replayed epoch replaces its own
        // partition, so the accumulated corpus never double-counts
        in.write.mode("overwrite").parquet(epochDir(corpusDir, epoch))
        model.get().score(in).write.mode("append").parquet(outDir)
        retrainEvery.filter(n => (epoch + 1) % n == 0).foreach { _ =>
          val old = model.get()
          model.set(freeze(spark.read.parquet(corpusDir), s"$modelDir/v${epoch + 1}"))
          old.release()
        }
      } finally in.unpersist()
      ()
    }
  }

  /** Streaming SEMANTIC dedup — the embedding twin of
    * [[nearDedupForeachBatch]]: each micro-batch first collapses its own
    * exact-signature duplicates (hyperplane LSH first-wins), then drops
    * rows whose bucket holds a prior-corpus vector at cosine ≥
    * `threshold`, and writes survivors to both the output and the
    * prior store. Restart story: checkpointed source offsets + the
    * epoch-store contract (object doc); the prior store is the (id,
    * vector) table a production pipeline persists anyway.
    */
  def semanticDedupForeachBatch(
      stream: DataFrame,
      outDir: String,
      priorDir: String,
      vecCol: String = "embedding",
      idCol: String = "id",
      threshold: Double = 0.95,
      bits: Int = 8,
      dims: Int = 64,
      seed: Long = 7L): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val self = new graft.operators.vector.EmbeddingSimHash(
      vecCol, idCol, idCol, bits, dims, seed)
    priorDedupForeachBatch(stream, outDir, priorDir, Seq(idCol, vecCol), self(_),
      prior => new graft.operators.vector.IncrementalEmbeddingDedup(
        prior = Some(prior), vecCol = vecCol, idCol = idCol,
        threshold = threshold, bits = bits, dims = dims, seed = seed).apply)
  }

  /** Streaming PROBED semantic dedup (r16) — the incremental twin of
    * [[graft.operators.vector.ProbedCosineDedup]]: k-means centroids
    * train ONCE on `refCorpus` and freeze as driver-side literals (the
    * frozen-band-state discipline — a live-trained cell map would
    * re-bucket prior vectors as data drifts), and each micro-batch
    * drops rows sharing any of their `nprobe` nearest cells with an
    * EARLIER row (in-batch smaller id, or any prior-trigger row) at
    * cosine ≥ `threshold`. The prior store accumulates EVERY seen
    * row's probed cells — kept or dropped — because the batch
    * operator's pairwise semantics let an already-dropped row still
    * kill later lookalikes; with ids arriving in order, the union of
    * per-trigger kept sets equals the one-shot batch
    * ProbedCosineDedup under the same frozen centroids (pinned in
    * StreamingSpec). Both stores are epoch stores (object doc), so a
    * crash-replay re-derives the same drops.
    *
    * Store layout (r17, VERDICT r16 #4): the prior store is ALSO
    * partitioned by the probed cell (`_pc=C/` inside each epoch), and
    * each trigger reads only the cells its own batch probes (a bounded
    * `isin` over ≤ numBuckets values, collected from the batch) — so
    * the per-trigger prior scan is pruned to the touched cells instead
    * of re-reading the whole history, and partition pruning does the
    * skipping at the file level. `maxCellSize` (r17) is the hot-cell
    * first-cap: per cell, admission = prior admitted members + id rank
    * in this batch ≤ cap (the anchor miner's admission discipline);
    * first-cap membership is prefix-stable under ordered arrival, so
    * the per-trigger union still equals the one-shot batch
    * [[graft.operators.vector.ProbedCosineDedup]] under the same cap —
    * a capped-out row keeps flowing to the output (it can no longer
    * drop or be dropped through that cell, exactly the batch
    * semantics), and the store keeps only admitted assignments, which
    * also bounds the store itself at cap rows per (epoch-history,
    * cell).
    *
    * `anchoredCap` (r17): the ANCHORED cap policy's twin — admission
    * (and the store) are identical, but the admitted rows are ANCHORS:
    * every batch assignment (admitted or not) tests against the
    * anchors below it (in-batch by id, cross-trigger against the
    * stored prior anchors), so a tail duplicate of an early row is
    * still dropped while per-trigger pair mass stays ≤ cap × batch
    * cell count. Anchor sets are the cap smallest ids per cell —
    * prefix-stable under ordered arrival — so the per-trigger union
    * equals the one-shot batch ProbedCosineDedup(anchoredCap = true)
    * (pinned in StreamingSpec).
    */
  def probedDedupForeachBatch(
      stream: DataFrame,
      refCorpus: DataFrame,
      outDir: String,
      priorDir: String,
      vecCol: String = "embedding",
      idCol: String = "id",
      numBuckets: Int = 8,
      nprobe: Int = 2,
      threshold: Double = 0.95,
      seed: Long = 42L,
      maxCellSize: Option[Int] = None,
      anchoredCap: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(maxCellSize.forall(_ >= 1),
      s"maxCellSize must be >= 1 when set, got $maxCellSize")
    require(!anchoredCap || maxCellSize.nonEmpty, "anchoredCap requires maxCellSize")
    val km = new graft.operators.ml.KMeansBuckets(vecCol, "_cell", numBuckets, seed)
    val centroids = km.centroidsOf(km.fit(refCorpus)) // frozen ONCE
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val in = batch.persist()
      try {
        val cells = in.filter(col(vecCol).isNotNull)
          .select(col(idCol), col(vecCol),
            explode(graft.plans.kernels.nearest_centroids(
              col(vecCol), centroids, nprobe)).as("_pc"))
        // bounded driver collect (≤ numBuckets ints): the cells this
        // batch probes — the prior read prunes to exactly these
        val batchCells = cells.select(col("_pc")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val prior = committedPrior(spark, priorDir, epoch) match {
          case Some(p) =>
            p.filter(col("_pc").isin(batchCells: _*))
              .select(col(idCol), col(vecCol), col("_pc"))
          case None => cells.limit(0)
        }
        // uncapped, every probed assignment participates (the r16 semantics)
        val admitted = maxCellSize.fold(cells)(
          admitFirstCap(cells, prior, Seq("_pc"), idCol, _)).persist()
        try {
          admitted.count() // materialize: pairs + the store write consume it
          // in-batch pairwise drops (smaller id wins) + cross-trigger
          // drops (every prior row is earlier by the ordered-arrival
          // contract). First-cap: a pair needs a SHARED admitted cell
          // on BOTH sides. Anchored: the d1 side must be admitted (an
          // anchor), the d2/probe side is EVERY batch assignment — the
          // anchors-below-you test of the batch anchored policy.
          val probeSide = if (anchoredCap) cells else admitted
          val l = admitted.select(col("_pc"), col(idCol).as("_d1"),
            col(vecCol).as("_v1"))
          val r = probeSide.select(col("_pc"), col(idCol).as("_d2"),
            col(vecCol).as("_v2"))
          val selfDrops = l.join(r, Seq("_pc"))
            .filter(col("_d1") < col("_d2"))
            .filter(graft.functions.VectorFunctions.cosine(col("_v1"), col("_v2"))
              >= threshold)
            .select(col("_d2").as(idCol))
          val crossDrops = probeSide
            .join(prior.select(col("_pc"), col(vecCol).as("_pv")), Seq("_pc"))
            .filter(graft.functions.VectorFunctions.cosine(col(vecCol), col("_pv"))
              >= threshold)
            .select(col(idCol))
          val kept = in.join(
            selfDrops.unionByName(crossDrops).distinct(), Seq(idCol), "left_anti")
          kept.write.mode("overwrite").parquet(epochDir(outDir, epoch))
          admitted.write.partitionBy("_pc")
            .mode("overwrite").parquet(epochDir(priorDir, epoch))
        } finally admitted.unpersist()
      } finally in.unpersist()
      ()
    }
  }

  /** Streaming ANCHOR-PAIR mining (r16, VERDICT r15 #6) — the
    * incremental twin of the OR-amplified candidate tier: new vectors
    * landing across triggers mine co-bucket anchor pairs against the
    * FROZEN band state. Band centering stats come from `refCorpus` ONCE
    * at setup ([[graft.operators.vector.AnnSearch.bandStatsOf]] —
    * driver-side literals, so assignment is arrival-invariant and
    * nothing recaches on append, the BigramLm.freeze lesson); the prior
    * store accumulates each trigger's capped banded rows. Per trigger:
    * assign the batch under the frozen stats, admit rows into each
    * (band, bucket) only up to `maxBucketSize` TOTAL members
    * (first-cap: a bucket closes once full — membership is
    * prefix-stable under appends, which is exactly what makes the
    * per-trigger union equal the one-shot batch
    * [[graft.operators.vector.AnnSearch.anchorCandidatesFirstCap]] when
    * ids arrive in order; StreamingSpec pins it), mine pairs of the
    * admitted rows against prior ∪ admitted (cosine ≥ `threshold`,
    * deduped across bands, `(least, greatest)`-normalized), and write
    * both epoch stores (object doc) — a replayed epoch replaces its own
    * output, never duplicates.
    */
  def anchorMiningForeachBatch(
      stream: DataFrame,
      refCorpus: DataFrame,
      outDir: String,
      priorDir: String,
      vecCol: String = "embedding",
      idCol: String = "id",
      bands: Seq[Seq[Int]] = (0 until 4).map(b => 4 * b until 4 * (b + 1)),
      maxBucketSize: Int = 1000,
      threshold: Double = 0.8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.vector.AnnSearch
    require(maxBucketSize > 0, "maxBucketSize is required")
    val stats = AnnSearch.bandStatsOf(refCorpus, vecCol, bands)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val banded = AnnSearch.bandedFrozen(batch, vecCol, idCol, bands, stats)
      // the excluded current epoch matters most here: a replay that saw
      // its own partial write would count its rows against the cap,
      // reject them all, and the overwrite would DROP them from the store
      val prior = committedPrior(batch.sparkSession, priorDir, epoch) match {
        case Some(p) => p.select(col(idCol), col(vecCol), col("_band"), col("_bk"))
        case None    => banded.limit(0)
      }
      val kept = admitFirstCap(banded, prior, Seq("_band", "_bk"), idCol,
        maxBucketSize).persist()
      try {
        kept.count() // materialize once; pairs + the store write consume it
        val newSide = kept.select(col("_band"), col("_bk"),
          col(idCol).as("_nb"), col(vecCol).as("_vb"))
        val oldSide = prior.unionByName(kept).select(col("_band"), col("_bk"),
          col(idCol).as("_na"), col(vecCol).as("_va"))
        val pairs = oldSide.join(newSide, Seq("_band", "_bk"))
          .filter(col("_na") =!= col("_nb"))
          .withColumn("_cos",
            graft.functions.VectorFunctions.cosine(col("_va"), col("_vb")))
          .filter(col("_cos") >= threshold)
          .select(least(col("_na"), col("_nb")).as("a"),
            greatest(col("_na"), col("_nb")).as("b"), col("_cos").as("cosine"))
          .dropDuplicates("a", "b")
        pairs.write.mode("overwrite").parquet(epochDir(outDir, epoch))
        kept.write.mode("overwrite").parquet(epochDir(priorDir, epoch))
      } finally kept.unpersist()
      ()
    }
  }

  /** Streaming CDC upsert — the table-maintenance twin of the batch
    * [[graft.operators.table.CdcMerge]]: each micro-batch nets its own
    * changes (latest per key by `(tsCol, seqCol)`), folds them into the
    * versioned snapshot (delete op removes the key, upsert sets the
    * value, untouched keys carry over), and publishes the new snapshot
    * as `snapshot=<epoch>` under `snapshotDir` with a `_LATEST` pointer
    * file written last — readers follow the pointer, so a crash between
    * writes leaves the previous snapshot fully intact (write-ahead
    * publish, the lakehouse commit shape in miniature). Restart safety:
    * checkpointed source offsets + epoch-named snapshot dirs make the
    * fold idempotent per epoch.
    */
  def cdcUpsertForeachBatch(
      stream: DataFrame,
      snapshotDir: String,
      keyCol: String,
      tsCol: String,
      seqCol: String,
      opCol: String,
      deleteOp: String,
      payloadCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val cdc = new graft.operators.table.CdcMerge(
      keyCol, tsCol, seqCol, opCol, deleteOp, payloadCol)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val root = new org.apache.hadoop.fs.Path(snapshotDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val latestPtr = new org.apache.hadoop.fs.Path(root, "_LATEST")
      val base: DataFrame =
        if (!fs.exists(latestPtr))
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(keyCol,
                batch.schema(keyCol).dataType),
              org.apache.spark.sql.types.StructField("value",
                batch.schema(payloadCol).dataType))))
        else {
          val in = fs.open(latestPtr)
          val prev = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
          spark.read.parquet(s"$snapshotDir/$prev").select(col(keyCol), col("value"))
        }
      val merged = cdc.merge(base, batch, baseValueCol = "value")
        .select(col(keyCol), col("value"))
      val name = f"snapshot=$epoch%012d"
      merged.write.mode("overwrite").parquet(s"$snapshotDir/$name")
      val out = fs.create(latestPtr, true)
      try out.write(name.getBytes("UTF-8")) finally out.close()
      ()
    }
  }

  /** Streaming CARDINALITY — per-group HLL registers accumulated across
    * triggers. Each trigger sketches its OWN batch
    * ([[graft.functions.HllSketch]] registers, one row per group),
    * merges with the NEWEST committed prior snapshot (element-wise
    * register max), and OVERWRITEs the epoch's partition with the
    * CUMULATIVE result — so a trigger reads ONE snapshot regardless of
    * stream age (per-trigger cost is O(groups · 2^p), never O(epochs);
    * old partitions are retention, deletable any time). Per-register
    * max is batch-order invariant AND idempotent, so (a) the last
    * trigger's published estimates equal the one-shot batch sketch
    * EXACTLY (StreamingSpec pins double equality, not approximation)
    * and (b) a crash-replayed epoch overwrites its own partial
    * partition and re-folds from the newest OTHER committed snapshot
    * ([[latestCommittedEpoch]]), republishing the same state even when
    * that snapshot is a higher stale one — the replay guarantee the dedup twins get from id
    * anti-joins falls out of the algebra here. State per group is 2^p
    * bytes regardless of stream length: the canonical streaming-sketch
    * shape (a keyed-state distinct count would hold every key ever
    * seen).
    */
  def hllCardinalityForeachBatch(
      stream: DataFrame,
      outDir: String,
      storeDir: String,
      keyCol: String,
      groupCol: String,
      p: Int = 12): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.{HashFunctions, HllSketch}
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val regs = batch.groupBy(col(groupCol))
        .agg(HllSketch.hllRegisters(
          HashFunctions.portableHash64(col(keyCol)), p).as("regs"))
      val prior = latestCommittedEpoch(spark, storeDir, excluding = epoch)
        .map(e => spark.read.parquet(epochDir(storeDir, e)))
      val merged = (prior match {
        case Some(snap) => snap.select(col(groupCol), col("regs")).unionByName(regs)
          .groupBy(col(groupCol))
          .agg(HllSketch.hllMergeRegistersAgg(col("regs"), p).as("regs"))
        case None => regs
      }).persist() // consumed twice: snapshot write + estimate publish
      try {
        merged.write.mode("overwrite").parquet(epochDir(storeDir, epoch))
        merged.select(col(groupCol),
            round(HllSketch.estimateRegisters(col("regs"), p), 6).as("estimate"))
          .write.mode("overwrite").parquet(epochDir(outDir, epoch))
      } finally merged.unpersist()
      ()
    }
  }

  /** Streaming PCA — EXACT moment accumulation across triggers (the
    * incremental-fit twin of [[graft.operators.vector.Pca]]). Each
    * trigger runs one distributed moment pass over its OWN batch
    * ([[graft.operators.vector.VectorMomentsAgg]] — n, per-dim sums,
    * upper-triangle products, all exact BIGINTs), folds it into the
    * NEWEST committed cumulative snapshot with `addExact` on the driver
    * (the snapshot is ONE row of `1 + d + d(d+1)/2` longs — 17 KB at
    * d = 64, so the fold is O(d²) driver work regardless of stream
    * age), OVERWRITEs the epoch's snapshot partition, and publishes the
    * epoch's fitted model (component rows + eigenvalues + offsets) to
    * the epoch's child of `outDir`. Because integer addition commutes
    * and the fit is deterministic from the moments, the published model
    * after trigger N equals a batch [[graft.operators.vector.Pca.fit]]
    * over the union
    * of all batches BIT-FOR-BIT (StreamingSpec pins double equality) —
    * and a crash-replayed epoch overwrites its own partial partition
    * and re-folds from the newest snapshot STRICTLY BELOW it
    * ([[latestCommittedEpochBelow]] — not merely self-excluding: the
    * additive fold is not idempotent, so a fresh-checkpoint restart
    * renumbering from 0 must also never fold a replayed batch into a
    * higher stale snapshot that already contains it), so any replay
    * republishes identical state instead of double-counting the
    * batch. This is the 100 TB PCA run shape: the corpus is never
    * rescanned — each epoch pays one moment pass over its OWN data and
    * the refit folds tiny artifacts.
    */
  def pcaMomentsForeachBatch(
      stream: DataFrame,
      outDir: String,
      storeDir: String,
      vecCol: String,
      d: Int,
      q: Int = 8,
      scale: Long = graft.operators.vector.Pca.DefaultScale): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.operators.vector.Pca
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val b = Pca.moments(batch, vecCol, d, scale).head()
      val batchRow = (b.getLong(0), b.getSeq[Long](1), b.getSeq[Long](2))
      // strictly-below, NOT merely self-excluding: the additive fold is
      // not idempotent, and a fresh-checkpoint restart renumbering from
      // epoch 0 over an existing store must never fold its replayed
      // batch into a higher stale snapshot that already contains it
      val prior = latestCommittedEpochBelow(spark, storeDir, epoch)
        .map { e =>
          val r = spark.read.parquet(epochDir(storeDir, e)).head()
          // getAs returns a mutable ArraySeq at runtime — .toSeq before
          // it crosses into the immutable-Seq-typed merge
          (r.getAs[Long]("n"),
            r.getAs[scala.collection.Seq[Long]]("sums").toSeq,
            r.getAs[scala.collection.Seq[Long]]("prods").toSeq)
        }
      val (n, sums, prods) =
        Pca.mergeMomentRows(prior.toSeq :+ batchRow, d)
      Seq((n, sums.toSeq, prods.toSeq)).toDF("n", "sums", "prods")
        .coalesce(1).write.mode("overwrite").parquet(epochDir(storeDir, epoch))
      // the epoch's model artifact: q rows (k, eigenvalue, offset,
      // component). A stream that has seen zero fittable vectors
      // publishes an EMPTY (schema-complete) model — the no-model
      // signal, never a fit error
      val model =
        if (n == 0L) Seq.empty[(Int, Double, Double, Seq[Double])]
        else {
          val m = Pca.fitFromMoments(n, sums, prods, d, q, scale)
          m.components.indices.map(k =>
            (k, m.eigenvalues(k), m.offsets(k), m.components(k).toSeq))
        }
      model.toDF("k", "eigenvalue", "offset", "component")
        .coalesce(1).write.mode("overwrite").parquet(epochDir(outDir, epoch))
      ()
    }
  }

  /** Event-time tumbling-window counts with a watermark (late data beyond
    * `watermark` dropped) — the streaming twin of the q6_events_hourly
    * batch query in [[graft.queries.Relational]].
    */
  def hourlyEventCounts(events: DataFrame, tsCol: String, typeCol: String,
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col(typeCol))
      .agg(count(lit(1)).as("n_events"))

  /** Event-time gap sessionization with a watermark — the streaming
    * twin of the batch [[graft.operators.events.Sessionize]] (same gap
    * semantics via Spark's native `session_window`: a session closes
    * once the watermark passes its end + gap). Emits one row per
    * closed session: user, window start/end, n_events, sum_value.
    * State is per (user, open session) and bounded by the watermark —
    * the scale posture Structured Streaming is built for.
    */
  def sessionizeStream(events: DataFrame, tsCol: String, userCol: String,
      valueCol: String, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream attribution join — the streaming twin of the batch
    * [[graft.operators.events.AsofJoin]]/[[graft.operators.events.IntervalJoinBucketed]]
    * family: every left event (purchase) joined to the same key's right
    * events (clicks) inside the trailing `windowSpec` interval, as a
    * watermarked stream-stream LEFT OUTER join. Both watermarks bound
    * the buffered state: a right row is droppable once the watermark
    * passes its timestamp + window, a left row once its own watermark
    * passes — Spark derives both bounds from the time-range predicate,
    * which is why the condition must be expressed on raw event time.
    * Unmatched left rows emit with nulls AFTER the watermark closes
    * their window (outer-join completeness needs the lateness bound —
    * the stream can't know "no click will come" until then).
    */
  def attributionJoinStream(left: DataFrame, right: DataFrame,
      keyCol: String, leftTsCol: String, rightKeyCol: String, rightTsCol: String,
      window: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    left.withWatermark(leftTsCol, watermark)
      .join(right.withWatermark(rightTsCol, watermark),
        expr(s"$keyCol = $rightKeyCol AND " +
          s"$rightTsCol >= $leftTsCol - interval $window AND $rightTsCol < $leftTsCol"),
        "leftOuter")

  /** One dedup decision per record: kept = first occurrence of its key,
    * rejects carry the first-seen row's id — provenance identical to the
    * batch Deduplicator's reject annotation.
    */
  final case class DedupDecision(key: String, id: String, kept: Boolean,
      representativeId: String)

  /** Streaming first-wins dedup WITH representative tracking — the
    * reference's `batch_mark_seen_with_ids` set-actor RPC
    * (framework/backend.py:49-66) as `flatMapGroupsWithState`: state per
    * key = the first-seen id, unbounded (NoTimeout), hash-partitioned by
    * Spark's state store exactly like the reference's key buckets.
    * `dropDuplicates` ([[dedupByKey]]) is the plain-membership fast path;
    * this variant exists for reject provenance.
    */
  def markSeenWithIds(pairs: org.apache.spark.sql.Dataset[(String, String)])
      : org.apache.spark.sql.Dataset[DedupDecision] = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[String, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(firstSeen)
  }

  /** The first-seen decision over one key's rows: the stored
    * representative (or else the key's first row here) is kept, every
    * other row is rejected against it, and the state holds it after.
    */
  private def firstSeen(key: String, rows: Iterator[(String, String)],
      state: org.apache.spark.sql.streaming.GroupState[String]): Iterator[DedupDecision] = {
    var rep = state.getOption.orNull
    val out = rows.toList.map { case (_, id) =>
      if (rep == null) { rep = id; DedupDecision(key, id, kept = true, id) }
      else DedupDecision(key, id, kept = false, rep)
    }
    if (rep != null) state.update(rep)
    out.iterator
  }

  /** [[markSeenWithIds]] with BOUNDED state: a key's first-seen
    * representative expires after `ttl` of processing-time inactivity
    * (ProcessingTimeTimeout), so dedup state stays O(keys active within
    * the TTL window) instead of O(every key ever seen) — the 100 TB
    * posture for an unbounded stream, where exact forever-dedup state
    * grows without limit. A key re-arriving after expiry dedups afresh
    * (standard TTL-dedup semantics). Expiry is evaluated lazily at the
    * next trigger, per the GroupState contract: a key whose data
    * arrives in the same trigger its timeout would fire keeps its old
    * representative for that batch.
    */
  def markSeenWithIdsTtl(pairs: org.apache.spark.sql.Dataset[(String, String)],
      ttl: String): org.apache.spark.sql.Dataset[DedupDecision] = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[String, DedupDecision](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout)(ttlDedupFunc(ttl))
  }

  /** The TTL-dedup state transition, exposed for direct unit testing
    * with `TestGroupState` (driving real processing-time timers through
    * a live query is nondeterministic: processing-time timeouts make
    * the engine schedule continuous batches).
    */
  private[graft] def ttlDedupFunc(ttl: String)(
      key: String, rows: Iterator[(String, String)],
      state: org.apache.spark.sql.streaming.GroupState[String]): Iterator[DedupDecision] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val out = firstSeen(key, rows, state)
      if (state.exists) state.setTimeoutDuration(ttl)
      out
    }
}
