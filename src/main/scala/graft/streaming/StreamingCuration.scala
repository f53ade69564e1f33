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
  *    writer's `_SUCCESS` ([[hasCommittedEpoch]]) — a crash mid-write
  *    leaves `_temporary` debris, never a half-read epoch;
  *  - overwrite per epoch: a trigger writes its epoch with OVERWRITE,
  *    so a crash-replayed epoch replaces its own partial write instead
  *    of duplicating it;
  *  - the current epoch is excluded on read: a replay sees exactly the
  *    pre-epoch state and re-derives the same result, instead of
  *    matching against (and dropping) its own earlier partial write.
  *    A store reads every committed epoch but the current one
  *    ([[committedPrior]]).
  */
object StreamingCuration {
  import org.apache.hadoop.fs.Path

  private val EpochPrefix = "epoch="

  /** The store child of epoch `e` — every epoch-store read and write. */
  private def epochDir(dir: String, e: Long): String = s"$dir/$EpochPrefix$e"

  /** Whether the store at `dir` holds a committed epoch: an
    * [[epochDir]] child holding `_SUCCESS`. False when `dir` does not
    * exist.
    */
  private def hasCommittedEpoch(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val name = st.getPath.getName
      st.isDirectory && name.startsWith(EpochPrefix) &&
        name.stripPrefix(EpochPrefix).toLongOption.nonEmpty &&
        fs.exists(new Path(st.getPath, "_SUCCESS"))
    }
  }

  /** The accumulated prior store with the current epoch's own partition
    * excluded, or None when the store holds nothing COMMITTED to read.
    * Bare directory existence is NOT enough (ADVICE r16): a first-epoch
    * crash leaves only `_temporary` debris, and schema inference over
    * zero data files throws and wedges the very replay loop the
    * overwrite discipline makes safe. The read takes its schema from
    * the footer inference would read, on the driver
    * ([[graft.io.ParquetSchema.read]]), so it runs no job; a
    * committed-but-empty store (a zero-row epoch can write `_SUCCESS`
    * and no data files) has no footer, and the plain read's inference
    * throws, which reads as None.
    */
  private[graft] def committedPrior(spark: SparkSession, dir: String,
      epoch: Long): Option[DataFrame] =
    if (!hasCommittedEpoch(spark, dir)) None
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
      try Some(graft.io.ParquetSchema.read(spark, dir).filter(col("epoch") =!= epoch))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (hasDataFile(path)) throw e else None
      }
    }

  /** One trigger of a prior-dedup twin: `keep(batch, prior)` gives the
    * survivors, where `prior` is the committed store's `storeCols`
    * (None before the first commit); survivors go to `outDir` and their
    * `storeCols` to `priorDir`.
    */
  private def priorDedupForeachBatch(stream: DataFrame, outDir: String,
      priorDir: String, storeCols: Seq[String],
      keep: (DataFrame, Option[DataFrame]) => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val store = storeCols.map(col)
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val prior = committedPrior(batch.sparkSession, priorDir, epoch)
        .map(_.select(store: _*))
      val out = keep(batch, prior).persist()
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
    * triggers — the [[graft.operators.dedup.IncrementalMinHashDedup]]
    * test against the accumulating prior store — and (2) within-batch
    * near-dups (the [[graft.operators.dedup.MinHashLSHDedup]] test, full
    * verified Jaccard); survivors append to both the output and the
    * prior store. Both drops come from ONE band-key join per trigger
    * ([[graft.operators.dedup.MinHashLSHDedup.applyAgainst]]): prior
    * and batch band rows on one side, batch band rows on the other, a
    * candidate counting when its left row is a prior row or a batch row
    * with a smaller id. Each drop is a per-row test over a fixed set, so
    * this keeps exactly what in-batch dedup followed by the
    * against-prior dedup keeps (pinned in StreamingSpec). The prior is
    * read with the schema of one footer read on the driver
    * ([[committedPrior]]), so no trigger runs a schema-inference job.
    *
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
    priorDedupForeachBatch(stream, outDir, priorDir, Seq(idCol, textCol),
      lsh.applyAgainst(_, _, priorMaxBucketSize))
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
    priorDedupForeachBatch(stream, outDir, priorDir, Seq(idCol, vecCol), (batch, prior) =>
      prior.fold(self(batch))(p => new graft.operators.vector.IncrementalEmbeddingDedup(
        prior = Some(p), vecCol = vecCol, idCol = idCol,
        threshold = threshold, bits = bits, dims = dims, seed = seed)(self(batch))))
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
    * in this batch ≤ cap ([[admitFirstCap]]);
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
}
