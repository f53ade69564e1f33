package graft

import graft.queries.{NearDup, Relational}

/** Physical-plan shape assertions: the optimizations the engine's 100 TB
  * posture depends on must actually appear in the executed plan — pushed
  * scan filters, pruned scan schemas, broadcast joins for small dims,
  * top-k without a global sort, and exactly one shuffle per dedup.
  */
class PlanSpec extends ScopedSuite {
  import TestSpark._

  private val byName = (Relational.queries ++ NearDup.queries ++
    graft.queries.ModelStatsQueries.queries ++
    graft.queries.DriftQueries.queries ++
    graft.queries.ClassifierQueries.queries ++
    graft.queries.CorpusStatsQueries.queries).map(q => q.name -> q).toMap
  private def plan(name: String): String = planOf(byName(name).run(spark, sfDir))
  private def fmtPlan(name: String): String = planFormatted(byName(name).run(spark, sfDir))

  test("q2 scan carries both pushed filters") {
    val p = fmtPlan("q2_filter_prune")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q2 scan schema is pruned to the 5 needed columns") {
    val p = fmtPlan("q2_filter_prune")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"), readSchema)
    // untouched wide columns must NOT be scanned
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"), readSchema)
  }

  test("q3 star join broadcasts both dimension tables") {
    val p = plan("q3_join_agg")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q3 aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q3_join_agg")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg\n" + p)
  }

  test("q5 top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q5_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q7 plans a broadcast or shuffled semi join") {
    assert(plan("q7_semijoin").contains("LeftSemi"), plan("q7_semijoin"))
  }

  test("q8 plans an anti join") {
    assert(plan("q8_antijoin").contains("LeftAnti"), plan("q8_antijoin"))
  }

  test("exact dedup shuffles exactly once (the key exchange IS the bucketed state)") {
    val dedup = graft.operators.dedup.TextExactDedup(
      textCol = "text", idCol = "doc_id", orderCol = "doc_id")
    val p = planOf(dedup(table("documents")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges\n$p")
  }

  test("simhash dedup fingerprint rides a single projection + one exchange") {
    val op = new graft.operators.dedup.SimHashDedup(
      textCol = "text", idCol = "doc_id", orderCol = "doc_id", bits = 32)
    val p = planOf(op(table("documents")))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("phash near-dedup evaluates the decode+DCT UDF once per join side") {
    // an isNotNull pre-filter on the hash gets pushed below the
    // projection and doubles the UDF; null block keys drop out of the
    // equi-join instead (ImagePhashNearDedup.verifiedPairs scaladoc)
    val op = new graft.operators.image.ImagePhashNearDedup("image", idCol = "id", k = 8)
    val p = op.verifiedPairs(graft.sources.SyntheticImages.df(spark))
      .queryExecution.optimizedPlan.toString
    val udfs = "UDF\\(".r.findAllIn(p).size
    assert(udfs == 2, s"expected 1 UDF eval per join side, got $udfs\n$p")
  }

  test("simhash near-dedup evaluates the fingerprint kernel once per join side") {
    val op = new graft.operators.dedup.SimHashNearDedup("text", "doc_id", bits = 60, k = 3)
    val p = op.verifiedPairs(table("documents"))
      .queryExecution.optimizedPlan.toString.toLowerCase
    val kernels = "simhash".r.findAllIn(p).size
    assert(kernels == 2, s"expected 1 kernel eval per join side, got $kernels")
  }

  test("minhash shingle kernel evaluates once per join side (filter barrier holds)") {
    val op = new graft.operators.dedup.MinHashLSHDedup(textCol = "text", idCol = "doc_id")
    val p = op.verifiedPairs(table("documents"))
      .queryExecution.optimizedPlan.toString.toLowerCase
    val kernels = "shinglehashes".r.findAllIn(p).size
    assert(kernels == 2, s"expected 1 shingle eval per join side, got $kernels")
  }

  test("precollapse minhash: no window, text hashed into the collapse groupBy, LSH over reps") {
    val op = new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", preCollapseExact = true)
    val df = op.verifiedPairs(table("documents"))
    val p = planOf(df)
    // the collapse is a hash aggregate on xxhash64(text), never a window
    assert(!p.contains("Window"), p)
    assert(p.toLowerCase.contains("xxhash64"), p)
    // the LSH join still evaluates the shingle kernel once per side, on
    // the collapsed rep frame (2 evals), not per member
    val op2 = df.queryExecution.optimizedPlan.toString.toLowerCase
    val kernels = "shinglehashes".r.findAllIn(op2).size
    assert(kernels == 2, s"expected 1 shingle eval per join side, got $kernels")
  }

  test("oph minhash: one signature kernel eval per banded side, no window, no cartesian") {
    val op = new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", portableHashes = true,
      signatureScheme = "oph")
    val df = op.verifiedPairs(table("documents"))
    val p = planOf(df)
    assert(!p.contains("Window") && !p.contains("Cartesian"), p)
    val lower = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert("ophminhashfromhashes".r.findAllIn(lower).size == 2,
      s"expected 1 OPH signature eval per join side:\n$lower")
    // and the classic mixing kernel is truly absent from the OPH plan
    assert(!lower.replace("ophminhashfromhashes", "").contains("minhashfromhashes"), lower)
  }

  test("dup-ngram keepFirst: first-instance selection is an aggregate, never a window on the gram key") {
    val op = new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", keepFirst = true)
    val p = planOf(op.dupState(op.staged(table("documents"))))
    // the hot gram's instances must never buffer in one window task;
    // min(struct(id, pos)) rides the hash aggregate instead
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("incremental minhash: band equi-join between corpora, no cartesian, no id coupling") {
    val docs = table("documents")
    val op = new graft.operators.dedup.IncrementalMinHashDedup(
      prior = Some(docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)),
      textCol = "text", idCol = "doc_id")
    val p = planOf(op(docs))
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"), p)
    // one kernel eval per corpus side
    val kernels = "shinglehashes".r.findAllIn(p.toLowerCase).size
    assert(kernels == 2, s"expected 1 shingle eval per corpus, got $kernels")
  }

  test("token budget sample: offsets broadcast back, slice windows keyed by (source, bucket)") {
    val op = new graft.operators.text.TokenBudgetSampleFilter(
      budgets = Map("src0" -> 100L), defaultBudget = 500L,
      sourceCol = "source", idCol = "doc_id", textCol = "text", numBuckets = 8)
    val p = planOf(op(table("documents")))
    // the tiny offset aggregate rides a broadcast, not a row-data shuffle
    assert(p.contains("BroadcastExchange"), p)
    // every window partitions by (source, bucket) — never source alone,
    // which would serialize a whole source through one task
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(l => !l.contains("partitionBy") || l.contains("_tbb")),
      windowLines.mkString("\n"))
  }

  test("capped minhash plans the bucket cap as a broadcast anti-join, never a window") {
    val op = new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", maxBucketSize = Some(50))
    val df = op.verifiedPairs(table("documents"))
    val p = planOf(df)
    // the r9 form shuffled every (_id, _h, band) row partitioned by the
    // hot bucket key itself — a skew amplifier; the cap must move counts,
    // not arrays
    assert(!p.contains("Window"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastExchange"), p)
    // the hot-count aggregation side must be pruned to the band key: no
    // exchange whose partial-count child still carries the _h arrays
    val exec = df.queryExecution.executedPlan
    val aggExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]
          || e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] => e
    }
    aggExchanges.foreach { e =>
      assert(!e.output.exists(_.name == "_h"),
        s"hot-count exchange carries shingle arrays: ${e.output.mkString(",")}")
    }
  }

  test("mutual kNN plans the hot-bucket cap as a broadcast anti-join below the self-join") {
    val df = graft.operators.vector.AnnSearch.mutualKnnLsh(
      table("embeddings"), "embedding", "vec_id", k = 5,
      coords = 0 until 4, maxBucketSize = 1000)
    val p = planOf(df)
    // the r13 shape joined the raw-sign buckets with NO cap — quadratic
    // in the hottest orthant on cone-shaped corpora. The cap must exist
    // (LeftAnti over a BroadcastExchange of over-cap bucket ids) and the
    // hot-count side must move counts, never embedding arrays.
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastExchange"), p)
    val exec = df.queryExecution.executedPlan
    val aggExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]
          || e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] => e
    }
    aggExchanges.foreach { e =>
      assert(!e.output.exists(_.name == "embedding"),
        s"hot-count exchange carries embedding arrays: ${e.output.mkString(",")}")
    }
  }

  test("OR-amplified mutual kNN keeps the hot-bucket cap on every band: one (band,bucket)-keyed anti-join, counts-only hot side") {
    val bands = (0 until 4).map(b => 4 * b until 4 * (b + 1))
    val df = graft.operators.vector.AnnSearch.mutualKnnLshOr(
      table("embeddings"), "embedding", "vec_id", k = 5,
      bands = bands, maxBucketSize = 1000)
    val p = planOf(df)
    // the cap applies to the composite (band, bucket) key, so EVERY band
    // is capped by the single LeftAnti — no band may reach the self-join
    // uncapped, and the hot-count side must move counts, never vectors
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastExchange"), p)
    val exec = df.queryExecution.executedPlan
    val aggExchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]
          || e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec] => e
    }
    aggExchanges.foreach { e =>
      assert(!e.output.exists(_.name == "embedding"),
        s"hot-count exchange carries embedding arrays: ${e.output.mkString(",")}")
    }
    // the anti-join condition must include the band id: a bucket hot in
    // band 2 must not delete the same bucket value in band 0 (string
    // pin — the typed tree hides inside the AQE wrapper)
    val antiLines = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
    assert(antiLines.nonEmpty, p)
    antiLines.foreach(l => assert(l.contains("_band"),
      s"anti-join must key on (band, bucket): $l"))
  }

  test("multiprobe operating point: ONE corpus candidate pass serves every probe level") {
    graft.core.Staging.scoped {
      val df = graft.operators.vector.AnnSearch.multiProbeOperatingPoint(
        table("embeddings"), "embedding", "vec_id", k = 5, coords = 0 until 4,
        maxProbes = 3, targetRecall = 0.5, queryMod = 7)
      val p = planOf(df)
      // the r15 leveled rewrite: candidates join the probe-bucket list
      // once (minimal-level tags + a bounded level explode), never one
      // corpus join per level
      val bucketJoins = p.linesIterator
        .filter(l => l.contains("Join") && l.contains("_qpb")).toSeq
      assert(bucketJoins.size == 1,
        s"exactly one bucket join must serve all levels:\n${bucketJoins.mkString("\n")}")
      // and the per-level rank window (orders by the candidate _cos; the
      // staged truth tier's own cached windows also print — the
      // InMemoryTableScan phantom) is (query, level)-partitioned —
      // key-partitioned, never corpus-wide
      val rankWindows = p.linesIterator
        .filter(l => l.contains("Window [row_number()") && l.contains("_cos")).toSeq
      assert(rankWindows.nonEmpty &&
        rankWindows.forall(l => l.contains("_qid") && l.contains("_level")), p)
    }
  }

  test("mutual-kNN OR operating point: one banded self-join serves every L; windows and cap stay keyed") {
    graft.core.Staging.scoped {
      val bands = (0 until 4).map(b => 4 * b until 4 * (b + 1))
      val df = graft.operators.vector.AnnSearch.mutualKnnOrOperatingPoint(
        table("embeddings"), "embedding", "vec_id", k = 5, bands = bands,
        maxBucketSize = 1000, targetRecall = 0.5, sampleMod = 4)
      val p = planOf(df)
      // every candidate join is keyed on the composite (band, bucket) —
      // no unbanded/unkeyed self-join anywhere. (The staged pair list's
      // cached plan prints repeatedly inside InMemoryTableScan — the
      // phantom-plan limitation — so one-pass-ness is pinned
      // behaviorally by the level-equivalence spec in DedupSpec, and
      // here by every join line carrying the band key.)
      val bandJoins = p.linesIterator.filter(l =>
        (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) &&
          l.contains("_bk") && !l.contains("LeftAnti")).toSeq
      assert(bandJoins.nonEmpty && bandJoins.forall(_.contains("_band")),
        s"every bucket join must key on (band, bucket):\n${bandJoins.mkString("\n")}")
      // the hot-bucket cap is the (band, bucket)-keyed anti-join
      val anti = p.linesIterator.filter(_.contains("LeftAnti")).toSeq
      assert(anti.nonEmpty && anti.forall(_.contains("_band")), p)
      // the per-L rank window is (query, L)-partitioned
      val rankW = p.linesIterator
        .filter(l => l.contains("Window [row_number()") && l.contains("_cos")).toSeq
      assert(rankW.nonEmpty &&
        rankW.forall(l => l.contains("_qid") && l.contains("_nl")), p)
    }
  }

  test("minhash operating point: no per-geometry band join — truth joins signatures by id, agreement is expression work") {
    graft.core.Staging.scoped {
      val df = new graft.operators.dedup.MinHashOperatingPoint(
        "text", "doc_id", shingleWidth = 3, numHashes = 16,
        threshold = 0.8, targetRecall = 0.9, sampleMod = 3)
        .report(table("documents"))
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), p)
      // the leveled design's whole point: band keys NEVER join — every
      // geometry's caught count is expression work over the two staged
      // signature arrays, joined to truth by id alone (a per-geometry
      // _bkey join would rescan/reshuffle once per divisor)
      assert(!p.linesIterator.exists(l => l.contains("Join") && l.contains("_bkey")),
        s"band keys must not join:\n$p")
      // the selection windows ride the divisor-count level table
      val rankW = p.linesIterator.filter(_.contains("Window ")).toSeq
      assert(rankW.nonEmpty, p)
    }
  }

  test("nprobe operating point: ONE cell-keyed candidate join serves every level") {
    graft.core.Staging.scoped {
      val cents: Seq[Seq[Double]] =
        (0 until 8).map(i => Seq.tabulate(16)(d => if (d == i) 1.0 else 0.0))
      val df = graft.operators.vector.EmbeddingCosineDedup.probedOperatingPoint(
        table("embeddings"), "embedding", "vec_id", cents, maxNprobe = 3,
        threshold = 0.35, targetRecall = 0.8, sampleMod = 4)
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), p)
      // the leveled rewrite: candidates join on the probed cell ONCE
      // (rank tags + a bounded level explode), never once per level
      val cellJoins = p.linesIterator
        .filter(l => l.contains("Join") && l.contains("_pc")).toSeq
      assert(cellJoins.size == 1,
        s"exactly one cell join must serve all levels:\n${cellJoins.mkString("\n")}")
    }
  }

  test("probed semantic dedup: the pair join keys on the probed cell, never a cartesian; stats ride one scan") {
    val cents: Seq[Seq[Double]] =
      (0 until 8).map(i => Seq.tabulate(16)(d => if (d == i) 1.0 else 0.0))
    val pairs = graft.operators.vector.EmbeddingCosineDedup.probedPairs(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2,
      threshold = 0.35)
    val p = planOf(pairs)
    assert(!p.contains("CartesianProduct"), p)
    // the self-join is keyed on the probed cell id
    val joins = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) &&
        !l.contains("LeftAnti")).toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("_pc")),
      s"pair join must key on the probed cell:\n${joins.mkString("\n")}")
    // the cluster-stats evidence is ONE scan + one aggregate exchange —
    // counts only, no join, no vector arrays through the exchange
    val st = graft.operators.vector.EmbeddingCosineDedup.probedClusterStats(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2)
    val sp = planOf(st)
    assert(!sp.contains("Join"), sp)
    assert(sp.linesIterator.count(_.contains("FileScan")) == 1, sp)
    val exec = st.queryExecution.executedPlan
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(!e.output.exists(_.name == "embedding"),
      s"stats exchange carries embedding arrays: ${e.output.mkString(",")}"))
  }

  test("capped probed dedup: the first-cap rank window shares the pair join's cell key; capped stats stay count-only") {
    val cents: Seq[Seq[Double]] =
      (0 until 8).map(i => Seq.tabulate(16)(d => if (d == i) 1.0 else 0.0))
    val pairs = graft.operators.vector.EmbeddingCosineDedup.probedPairs(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2,
      threshold = 0.35, maxCellSize = Some(50))
    val p = planOf(pairs)
    assert(!p.contains("CartesianProduct"), p)
    // pair join still keys on the probed cell
    val joins = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) &&
        !l.contains("LeftAnti")).toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("_pc")),
      s"pair join must key on the probed cell:\n${joins.mkString("\n")}")
    // the cap is one rank window partitioned by the same cell key — its
    // exchange hashes on _pc, the key the join needs anyway
    val wins = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("_pc")),
      s"cap window must partition by the probed cell:\n${wins.mkString("\n")}")
    // post-cap mass evidence: one scan, counts only, no join, no rank
    // window, no vector arrays through the exchange
    val st = graft.operators.vector.EmbeddingCosineDedup.probedCappedStats(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2,
      maxCellSize = 50)
    val sp = planOf(st)
    assert(!sp.contains("Join") && !sp.contains("Window"), sp)
    assert(sp.linesIterator.count(_.contains("FileScan")) == 1, sp)
    val exec = st.queryExecution.executedPlan
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(!e.output.exists(_.name == "embedding"),
      s"stats exchange carries embedding arrays: ${e.output.mkString(",")}"))
  }

  test("anchored-cap probed dedup: pair join keys on the cell, anchor window shares it, stats stay count-only") {
    val cents: Seq[Seq[Double]] =
      (0 until 8).map(i => Seq.tabulate(16)(d => if (d == i) 1.0 else 0.0))
    val pairs = graft.operators.vector.EmbeddingCosineDedup.probedPairs(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2,
      threshold = 0.35, maxCellSize = Some(50), anchoredCap = true)
    val p = planOf(pairs)
    assert(!p.contains("CartesianProduct"), p)
    val joins = p.linesIterator.filter(l =>
      (l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")) &&
        !l.contains("LeftAnti")).toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("_pc")),
      s"pair join must key on the probed cell:\n${joins.mkString("\n")}")
    // the anchor rank window partitions by the same cell key — its
    // exchange is the one the join needs anyway
    val wins = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(wins.nonEmpty && wins.forall(_.contains("_pc")),
      s"anchor window must partition by the probed cell:\n${wins.mkString("\n")}")
    // anchored mass evidence: one scan, counts only, no join, no rank
    // window, no vector arrays through the exchange
    val st = graft.operators.vector.EmbeddingCosineDedup.anchoredCapStats(
      table("embeddings"), "embedding", "vec_id", cents, nprobe = 2,
      maxCellSize = 50)
    val sp = planOf(st)
    assert(!sp.contains("Join") && !sp.contains("Window"), sp)
    assert(sp.linesIterator.count(_.contains("FileScan")) == 1, sp)
    val exec = st.queryExecution.executedPlan
    exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach(e => assert(!e.output.exists(_.name == "embedding"),
      s"stats exchange carries embedding arrays: ${e.output.mkString(",")}"))
  }

  test("ann brute-force top-k avoids a global sort and broadcasts the query side") {
    val emb = table("embeddings")
    val df = graft.operators.vector.AnnSearch.bruteForceTopK(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0),
      "embedding", "vec_id", k = 10)
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("knn join: broadcast queries, one exchange carrying only pruned candidates") {
    val emb = table("embeddings")
    val df = graft.operators.vector.AnnSearch.knnJoin(
      emb, emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "embedding", "vec_id", "vec_id", k = 5)
    val p = planOf(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // the corpus-side candidate stream must NOT shuffle: the only hash
    // exchange is the per-query window over the heap-pruned rows
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("fused shingle kernel appears once per projection (no lambda re-inlining)") {
    val op = new graft.operators.dedup.MinHashLSHDedup(
      textCol = "text", idCol = "doc_id", portableHashes = true)
    val p = planOf(op.signatures(table("documents")))
    // PushDownPredicate legitimately duplicates the kernel into the
    // size() filter (pushdown > recompute); the round-1 regression shape
    // was N copies inside ONE projection's transform lambdas — assert
    // each Project evaluates the kernel at most once.
    p.linesIterator.filter(_.contains("Project")).foreach { line =>
      val evals = "shinglehashes".r.findAllIn(line.toLowerCase).size
      assert(evals <= 1, s"kernel re-inlined within a projection:\n$line")
    }
    assert(p.toLowerCase.contains("shinglehashes"))
  }

  test("bucketed cosine dedup joins on the bucket key — no cartesian/nested-loop") {
    val p = plan("embedding_cosine_dedup_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // brute force, by contrast, is the declared all-pairs tier
    val brute = plan("embedding_cosine_dedup")
    assert(brute.contains("CartesianProduct") || brute.contains("BroadcastNestedLoopJoin"), brute)
  }

  test("line dedup shuffles on the line HASH, never the raw line text") {
    val df = new graft.operators.text.LineDedupRefiner(
      "text", "doc_id", "doc_id")(table("documents"))
    val p = planOf(df)
    val windowExchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("_ld_")).toSeq
    assert(windowExchanges.exists(_.contains("_ld_k")), p)
    assert(!windowExchanges.exists(_.contains("_ld_line")),
      s"raw line text must not be a shuffle key:\n${windowExchanges.mkString("\n")}")
  }

  test("registry-built cosine dedup can NOT produce a cartesian plan") {
    // no bucket_field in the config → the registry auto-buckets via
    // seeded k-means instead of falling back to the O(n²) crossJoin
    val op = graft.runner.OperatorRegistry.create("embedding_cosine_deduplicator",
      graft.runner.Params(Map(
        "embedding_field" -> "embedding", "id_field" -> "vec_id",
        "threshold" -> 0.95, "num_buckets" -> 4)))
    val p = planOf(op(table("embeddings")))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("registry-built ngram-jaccard always plans with a doc-frequency cap") {
    // no max_doc_freq in the config → default cap of 1000, so no YAML
    // can plan the unbounded posting self-join (f² rows per hot
    // shingle); the uncapped exact tier stays API-only
    val op = graft.runner.OperatorRegistry.create("ngram_jaccard_deduplicator",
      graft.runner.Params(Map("text_field" -> "text", "id_field" -> "doc_id")))
      .asInstanceOf[graft.operators.dedup.NgramJaccardDedup]
    assert(op.maxDocFreq.contains(1000))
    val explicit = graft.runner.OperatorRegistry.create("ngram_jaccard_deduplicator",
      graft.runner.Params(Map("text_field" -> "text", "id_field" -> "doc_id",
        "max_doc_freq" -> 50)))
      .asInstanceOf[graft.operators.dedup.NgramJaccardDedup]
    assert(explicit.maxDocFreq.contains(50))
    // and the capped plan carries the hot-shingle anti-join
    val p = planOf(op(table("documents")))
    assert(p.contains("LeftAnti"), p)
  }

  test("ngram-jaccard candidates come from prefix postings, verified by the array kernel") {
    val op = new graft.operators.dedup.NgramJaccardDedup(
      textCol = "text", idCol = "doc_id", threshold = 0.8)
    val p = planOf(op.verifiedPairs(table("documents"))).toLowerCase
    // the prefix filter indexes slice(_hs, 1, _p), not the full set
    assert(p.contains("slice"), p)
    // exact verification is one fused pass over the two hash sets
    assert(p.contains("arrayjaccard"), p)
    // no full posting-list self-join output feeds a pair-count shuffle:
    // the old shape aggregated count(1) per (d1, d2) — the new one
    // verifies candidates against the staged arrays instead
    assert(!p.contains("count(1)") || op.maxDocFreq.isEmpty, p)
  }

  test("pii battery evaluates the fused kernel exactly once per row") {
    val df = new graft.operators.text.PiiRedactionRefiner("text")(table("documents"))
    val p = df.queryExecution.optimizedPlan.toString.toLowerCase
    val evals = "piisignals".r.findAllIn(p).size
    assert(evals == 1, s"expected 1 fused eval, got $evals\n$p")
  }

  test("kmeans assignment is a pure per-row map — no join, no shuffle") {
    val p = plan("kmeans_assign")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("flagship pipeline fuses filters into the scan stage (no mid-chain exchange)") {
    val df = SparkEntry.entry(spark)
    val p = planOf(df)
    // url filter + length filter are narrow; only the dedup key exchange shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("dup_ngram: no window rides the gram-instance set, mask is the O(n+d) kernel") {
    val op = new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", ngramWidth = 8)
    // the dup state materializes eagerly (r10: staged once, checkpointed,
    // scratch released) — assert its plan shape PRE-materialization
    val statePlan = planOf(op.dupState(op.staged(table("documents"))))
    // the r8 plan put count(*) over Window.partitionBy(gram hash) across
    // EVERY gram instance — one hot boilerplate gram = one giant buffered
    // partition. The rewrite must carry no Window at all.
    assert(!statePlan.contains("Window"),
      s"window over gram instances is back:\n$statePlan")
    // gram hashing is fused: gram STRINGS never appear post-tokenize
    assert(statePlan.toLowerCase.contains("shinglehashespositional"), statePlan)
    val p = planOf(op(table("documents")))
    assert(!p.contains("Window"), s"window in the mask-side plan:\n$p")
    // coverage mask is the fused kernel, not the interpreted HOF pair
    val low = p.toLowerCase
    assert(low.contains("coveragemask"), p)
    assert(!low.contains("arrayexists"), s"interpreted HOF mask is back:\n$p")
  }

  test("dup_ngram stages the token split once per projection") {
    val op = new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", ngramWidth = 8)
    val p = planOf(op(table("documents")))
    // exactly one Project materializes the split as the scratch column;
    // every consumer (mask, size, array_join) references the attribute.
    // (The split expression itself mentions regexp_replace three times
    // across when/otherwise branches — codegen CSE collapses those; the
    // regression shape is a SECOND projection recomputing the split.)
    val splitLines = p.linesIterator.filter(l =>
      l.contains("Project") && l.contains("regexp_replace")).toSeq
    assert(splitLines.size == 1, s"token split evaluated in ${splitLines.size} projections:\n$p")
    assert(splitLines.head.contains("AS _dn_toks"), splitLines.head)
  }

  test("ngram_lm: term totals ride groupBy+join, not a window over the hash key") {
    val op = new graft.operators.text.NgramLmScoreRefiner("text", "doc_id")
    val p = planOf(op(table("documents")))
    assert(!p.contains("Window"), s"window over the term hash is back:\n$p")
    // corpus totals broadcast as a single row
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("sequence_pack: both windows ride ONE exchange on the shard key") {
    val op = new graft.operators.text.SequencePackRefiner(
      "text", "doc_id", maxTokens = 256, numShards = 4,
      hashName = "portable", salt = "p")
    val p = planOf(op(table("documents")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shard-key exchange, got $exchanges:\n$p")
    // no global sort: every Sort is partition-local (the window sorts)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("ccnet_bucket: thresholds broadcast as one row, assignment shuffle-free") {
    val op = new graft.operators.text.CcnetBucketRefiner("score")
    val p = planOf(op(table("documents")
      .withColumn("score", org.apache.spark.sql.functions.col("n_chars").cast("double"))))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the probe side carries no hash exchange — bucketing is a map
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("ngram_lm leaves no cached RDDs behind (the r8 persist leak)") {
    val op = new graft.operators.text.NgramLmScoreRefiner("text", "doc_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    op(table("documents")).write.format("noop").mode("overwrite").save()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"operator pinned RDDs in the cache: ${after -- before}")
  }

  test("transitive dedup releases its loop caches; only the flat label checkpoint survives") {
    val op = new graft.operators.dedup.MinHashLSHDedup(
      "text", "doc_id", shingleWidth = 3, numHashes = 16, numBands = 4,
      threshold = 0.8)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    op.applyTransitive(table("documents"))
      .write.format("noop").mode("overwrite").save()
    val survivors = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the edges cache and every per-iteration labels cache are released;
    // the one survivor is the checkpointed (small, flat) component table
    // whose blocks ContextCleaner frees with the consumer's plan
    assert(survivors.size <= 1,
      s"loop caches leaked: $survivors")
  }

  test("chunk_documents is a pure generate — zero exchanges") {
    val op = new graft.operators.text.DocumentChunker(
      "text", "doc_id", chunkSize = 32, stride = 24, minTokens = 4)
    val p = planOf(op.chunks(table("documents")))
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("vocabulary aggregates map-side before the token exchange") {
    val p = planOf(new graft.operators.text.VocabularyBuilder(
      minDocFreq = 2, topK = 100).build(table("documents")))
    // both levels plan partial_count — shuffle volume is bounded by
    // distinct (doc, token) / tokens, not corpus token occurrences
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no partial aggregation in:\n$p")
    // the top-K is TakeOrdered, not a global sort exchange
    assert(p.contains("TakeOrderedAndProject"), s"top-K planned as a global sort:\n$p")
  }

  test("tfidf corpus size rides a broadcast, not a per-row subquery") {
    val p = planOf(new graft.operators.text.TfIdfTopTerms(topK = 3)
      .topTerms(table("documents")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("temperature thresholds and domain verdicts broadcast; no document shuffle by source") {
    val tp = planOf(new graft.operators.text.TemperatureSampleFilter(
      alpha = 0.5, idCol = "doc_id")(table("documents")))
    assert(tp.contains("BroadcastExchange") || tp.contains("BroadcastHashJoin"), tp)
    val lp = planOf(new graft.operators.text.LengthPercentileClipFilter(
      pLow = 0.1, pHigh = 0.9)(table("documents")))
    assert(lp.contains("BroadcastNestedLoopJoin") || lp.contains("BroadcastExchange"), lp)
  }

  test("embedding transforms are shuffle-free per-row maps") {
    val qp = planOf(new graft.operators.vector.EmbeddingQuantizer()(table("embeddings")))
    assert(!qp.contains("Exchange"), s"quantize must not shuffle:\n$qp")
    val mp = planOf(new graft.operators.vector.MatryoshkaTruncate(dims = 8)(table("embeddings")))
    assert(!mp.contains("Exchange"), s"truncate must not shuffle:\n$mp")
  }

  test("novelty: long-keyed exchanges only (no text on the wire), no window") {
    val p = plan("ngram_novelty")
    assert(!p.contains("Window"), p)
    // every hash exchange keys on the shingle hash or the doc id — the
    // raw text column never rides an exchange
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exch.nonEmpty && exch.forall(l =>
      l.contains("hashpartitioning(_g") || l.contains("hashpartitioning(_id")), p)
  }

  test("linear fit: ONE partial-aggregated moment pass, no join, no key shuffle") {
    val p = plan("linear_fit")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
  }

  test("kmeans update: one cluster-key exchange carrying only partial sums") {
    val p = plan("kmeans_update")
    assert(p.contains("partial_count"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("embedding outliers: cluster stats broadcast back, single stats exchange, no window") {
    val p = plan("embedding_outliers")
    assert(!p.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("kappa: one partial-aggregated scan — no shuffle of rows, no join, no window") {
    val p = plan("filter_agreement_kappa")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("jsd: corpus scanned once at runtime — broadcast totals over a ReusedExchange, no vocab window") {
    // The totals are a broadcast scalar aggregate over the SAME token-
    // aggregate subtree; AQE's stage reuse dedupes the shared exchange,
    // so the runtime plan reads the corpus once while the vocabulary
    // never transits one partition (the r12 verdict's replan of the
    // unbounded no-partition window). Static-plan strings can't show
    // stage reuse, so this pin executes the (1-row) query and asserts
    // on the FINAL adaptive plan.
    val df = byName("js_divergence").run(spark, sfDir)
    assert(df.collect().length == 1)
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), full)
    val p = full.split("== Initial Plan ==")(0) // final-plan section only
    assert(!p.contains("Window"), s"no vocab-sized window allowed:\n$p")
    assert(p.contains("ReusedExchange"),
      s"totals must reuse the token-aggregate stage, not rescan:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corpus must be scanned once at runtime:\n$p")
    // a ReusedExchange node's description repeats the reused target's
    // "Exchange hashpartitioning" text — count only REAL exchange nodes
    val realTokExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      .size
    assert(realTokExchanges == 1, p)
  }

  test("jsd matrix: all 15 pairs from ONE runtime corpus scan — reused token exchange, no window") {
    val df = byName("js_divergence_matrix").run(spark, sfDir)
    assert(df.collect().length == 15)
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("isFinalPlan=true"), full)
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), s"no vocab-sized window allowed:\n$p")
    assert(p.contains("ReusedExchange"),
      s"totals must reuse the token-aggregate stage, not rescan:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corpus must be scanned once at runtime:\n$p")
  }

  test("psi per group: corpus scanned once at checkpoint — consumers read NO FileScan") {
    // psiPerGroup has three consumers of its counts table (spine, grand
    // total, filled join); per-consumer column pruning defeats AQE
    // exchange reuse (measured: 3 FileScans when left lazy), so the
    // operator eagerly checkpoints the (groups×B)-bounded counts and
    // every consumer must read the checkpoint, not the corpus
    val df = byName("drift_psi_per_group").run(spark, sfDir)
    assert(df.collect().length > 0)
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("FileScan"),
      s"consumers must read the checkpointed counts, not rescan the corpus:\n$p")
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("heaps: the doc-level hash is computed BELOW the token explode, once per doc") {
    // ExtractGenerator hoists non-generator select expressions above
    // the Generate; unstaged, the md5-level ran once per TOKEN
    // (measured 3.2 s vs 0.9 s at sf0.1). The staged projection must
    // keep the hash below the Generate in the planned tree.
    val p = plan("heaps_fit")
    val gen = p.indexOf("Generate explode")
    // r19: the portable hash prints as the kernel expression
    // (portablehash64), no longer as the conv(substring(md5)) chain
    val hash = p.indexOf("portablehash64")
    assert(gen >= 0 && hash >= 0, p)
    assert(gen < hash, // plans print top-down: Generate above = earlier
      s"level hash must sit below the explode (per doc, not per token):\n$p")
  }

  test("events_anomaly: every window is partitioned (spine-sized frames only)") {
    val anomaly = graft.queries.AnalyticsQueries.queries
      .find(_.name == "events_anomaly").get
    val p = planOf(anomaly.run(spark, sfDir))
    // Window nodes must carry a partition spec — an unpartitioned window
    // would funnel the spine through one task (the BinaryAuc trap)
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("event_type"),
      s"window must partition by event_type: $w"))
  }

  test("cluster_top_terms: top-N window partitions by cluster, never global") {
    val q = NearDup.queries.find(_.name == "cluster_top_terms").get
    val p = planOf(q.run(spark, sfDir))
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("_c"),
      s"window must partition by cluster: $w"))
  }

  test("psi drift: corpus scanned once, totals window over the B-row spine") {
    val p = plan("drift_psi")
    assert("FileScan".r.findAllIn(p).size == 1, s"corpus must be scanned once:\n$p")
    // counts keyed by bucket + (possibly) the spine join — never a
    // corpus-row shuffle beyond the B-row aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
    val windowAt = p.indexOf("Window")
    assert(windowAt >= 0 && windowAt < p.indexOf("Exchange hashpartitioning"),
      s"totals window must sit above the bucket aggregate:\n$p")
  }

  test("silhouette: centroids ride the closure — one cluster-keyed exchange, no join") {
    val p = plan("cluster_silhouette")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("zipf: distributed top-K (TakeOrderedAndProject) — the full vocab never rides one window") {
    val p = plan("zipf_fit")
    // one corpus-scale exchange: the token count groupBy; the head
    // selection is a distributed TakeOrderedAndProject (per-partition
    // local top-K, only K rows travel) and the rank window covers ONLY
    // the K-row head — the r12 verdict's fix for the unpartitioned
    // full-vocab row_number this used to plan
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val windowAt = p.indexOf("Window")
    val topKAt = p.indexOf("TakeOrderedAndProject")
    assert(windowAt >= 0 && windowAt < topKAt,
      s"rank window must sit above the K-row top-K, not the vocab:\n$p")
  }

  test("ks_statistic: cumulative CDF sums ride range partitions, never the full value table") {
    // the r13 verdict's last documented-but-unbounded ordered window: an
    // unquantized double metric makes the distinct-value table
    // row-count-sized, so the running sums must partition by the range
    // partition id (QuantileRank two-level decomposition); the only
    // unpartitioned window is the offsets one — one row per range
    // partition, bounded by spark.sql.shuffle.partitions
    val p = plan("ks_statistic")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    val valueWindows = windows.filter(w => w.contains("v#"))
    assert(valueWindows.nonEmpty, s"expected a v-ordered slice window:\n$p")
    valueWindows.foreach(w => assert(w.contains("_pid"),
      s"value-table window must partition by the range partition id: $w"))
  }

  test("bigram_lm: text scans once into the staged count table; consumers read cache, no windows") {
    // counts, context totals, the vocab scalar and the scoring join all
    // derive from the staged (doc, h_bigram) table — left lazy they each
    // re-tokenize the corpus (the psiPerGroup lesson). The only other
    // FileScan is the output left-join's doc_id-pruned scan.
    // walk the physical tree, not the plan STRING: the cached relation
    // re-prints its own recipe (with its FileScan) inside every
    // InMemoryTableScan node, but as a tree the scan node is a LEAF, so
    // collect() sees only scans that actually run
    val df = byName("bigram_lm_score").run(spark, sfDir)
    val top = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case o => o
    }
    val scans = top.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size == 1, s"only the output join's scan may remain:\n$top")
    assert(scans.head.output.map(_.name) == Seq("doc_id"),
      s"the remaining scan must be doc_id-pruned: ${scans.head.output}")
    val inMem = top.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }
    assert(inMem.size >= 3, s"counts/vocab/scoring must read the staged table:\n$top")
    assert(!top.toString.contains("Window ["),
      s"no windows anywhere in the LM (cached recipe included):\n$top")
  }

  test("lm_smoothing ladder: ONE staged count pair serves all three smoothings") {
    // VERDICT r17 #2: the report used to train three independent LMs —
    // three corpus scans, three staged (db, cb) pairs. The ladder must
    // show exactly one FileScan (the outer doc_id+source projection)
    // and at most TWO distinct cached relations (db + cb) feeding every
    // smoothing's cost/context/vocab consumers.
    val df = byName("lm_smoothing_report").run(spark, sfDir)
    val top = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case o => o
    }
    val scans = top.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size == 1,
      s"only the outer (id, source) scan may remain, got ${scans.size}:\n$top")
    val inMem = top.collect {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => i }
    assert(inMem.nonEmpty, s"the ladder must read the staged counts:\n$top")
    val distinctCaches = inMem
      .map(i => System.identityHashCode(i.relation.cacheBuilder)).distinct
    assert(distinctCaches.size <= 2,
      s"one db + one cb cache only, got ${distinctCaches.size}:\n$top")
  }

  test("logreg scoring is a pure literal-weight projection — no shuffle, no join, no window") {
    // the trained model rides as d+1 inlined literals; only the gate's
    // final orderBy may exchange (range partitioning)
    val p = plan("logreg_score")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("nb scoring: doc rows meet the model via broadcast — never a sort-merge join") {
    val p = plan("nb_score")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // totals are a one-row identity broadcast, not a collected literal
    assert(p.contains("IdentityBroadcastMode"), p)
  }

  test("threshold table: level running sums partition by the range pid, never the level table") {
    // the ks_statistic discipline: scores are 1e-6-quantized so the
    // level table is grid-bounded, but the running sums still ride the
    // two-level decomposition — the only unpartitioned window is the
    // offsets one (one row per range partition)
    val p = plan("logreg_threshold_operating_point")
    val windows = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windows.nonEmpty, p)
    val levelWindows = windows.filter(w => w.contains("_s#"))
    assert(levelWindows.nonEmpty, s"expected score-level slice windows:\n$p")
    levelWindows.foreach(w => assert(w.contains("windowspecdefinition(_pid"),
      s"level-table window must partition by the range partition id: $w"))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("NO gate query plans a CartesianProduct — the whole-surface scale audit") {
    // every crossJoin in the repo is against a broadcast single-row
    // stats frame or a broadcast query set (BroadcastNestedLoopJoin,
    // bounded); an unkeyed big-big CartesianProduct anywhere is a scale
    // bug by definition. Building the physical plan runs the query
    // FUNCTIONS (some stage fixtures / checkpoints at sf0.001) but not
    // the final actions — cheap enough for the blanket sweep.
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct") else None
      } catch { case e: Throwable => Some(s"$name: build failed: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // ---- web_clean census: each per-row kernel once in the scan stage ----

  private def webOp(name: String, params: (String, Any)*): graft.core.Operator =
    graft.runner.OperatorRegistry.create(name, graft.runner.Params(params.toMap))

  private val webBlocked = java.util.Arrays.asList[Any]("badsite.example", "spam.example")
  private val c4Clean = webOp("c4_clean", "text_field" -> "text")
  private val c4Quality = webOp("c4_quality_filter", "text_field" -> "text")
  private def webHead = Seq(
    webOp("url_filter", "url_field" -> "url", "blocked_domains" -> webBlocked),
    webOp("text_length_filter", "text_field" -> "text", "min_length" -> 20, "max_length" -> 100000))
  private def webTail = Seq(
    webOp("gopher_quality_filter", "text_field" -> "text_c4_clean"),
    webOp("gopher_repetition_filter", "text_field" -> "text_c4_clean"),
    webOp("pii_redaction", "text_field" -> "text_c4_clean"))

  /** The static executed plan (AQE off) of `ops` chained the way the
    * runner chains them with rejects off.
    */
  private def webPlan(ops: Seq[graft.core.Operator]): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.functions._
    val in = table("documents").withColumn("url", concat(lit("https://"), col("source"),
      lit(".example.com/casino/"), col("doc_id").cast("string")))
    val (df, _) = new graft.metrics.MeteredPipeline("main", ops).instrument(in)
    withConf("spark.sql.adaptive.enabled", "false")(df.queryExecution.executedPlan)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withoutRule[T](body: => T): T =
    withConf("spark.sql.optimizer.excludedRules", graft.plans.ReuseExposedKernel.ruleName)(body)

  private def kernelEvals(plan: org.apache.spark.sql.execution.SparkPlan,
      pick: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]): Int =
    plan.collect { case n => n.expressions.map(_.collect(pick).size).sum }.sum

  private val c4Kernel: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit] =
    { case _: graft.plans.kernels.C4Signals => () }

  test("web_clean census: one C4Signals, one url kernel, every Filter whole-stage codegen'd") {
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    val plan = webPlan(webHead ++ Seq(c4Clean, c4Quality) ++ webTail)
    assert(kernelEvals(plan, c4Kernel) == 1, plan.treeString)
    assert(kernelEvals(plan, { case _: graft.plans.kernels.UrlDrop => () }) == 1, plan.treeString)
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(stage)
    }
    val codegend = plan.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    val interpreted = plan.collect { case f: FilterExec if !codegend.exists(_ eq f) => f }
    assert(interpreted.isEmpty, plan.treeString)
  }

  test("web_clean census: a c4_quality_filter that differs from c4_clean evaluates its own C4Signals") {
    val stricter = webOp("c4_quality_filter", "text_field" -> "text", "min_sentences" -> 4)
    val p1 = webPlan(webHead ++ Seq(c4Clean, stricter) ++ webTail)
    assert(kernelEvals(p1, c4Kernel) == 2, p1.treeString)
    // before c4_clean nothing exposes the verdict yet
    val p2 = webPlan(webHead ++ Seq(c4Quality, c4Clean) ++ webTail)
    assert(kernelEvals(p2, c4Kernel) == 2, p2.treeString)
  }

  test("ReuseExposedKernel changes no web_clean row; it leaves stream_dedup's trigger plans alone") {
    import org.apache.spark.sql.functions._
    def rows(): Seq[String] = {
      // three terminated lines per page where doc_id % 4 > 0: some pages
      // pass the C4 verdict, the rest are dropped by it
      val t = col("text")
      val in = table("documents")
        .withColumn("text", when(col("doc_id") % 4 === 0, t).otherwise(concat_ws("\n",
          concat(t, lit(".")), concat(lit("And "), t, lit("!")), concat(lit("The "), t, lit("?")))))
        .withColumn("url", concat(lit("http://"), col("source"), lit(".example.com/")))
      new graft.metrics.MeteredPipeline("main", webHead ++ Seq(c4Clean, c4Quality) :+ webTail.last)
        .instrument(in)._1.collect().map(_.toString).toSeq.sorted
    }
    val on = rows()
    val off = withoutRule(rows())
    assert(on.nonEmpty && on.size < table("documents").count() && on == off)
    assert(withoutRule(kernelEvals(webPlan(webHead ++ Seq(c4Clean, c4Quality) ++ webTail),
      c4Kernel)) == 2)

    // one stream_dedup trigger: the self-dedup and the against-prior
    // frames, optimized with and without the rule
    val docs = table("documents").select(col("doc_id").as("id"), col("text"))
    val batch = docs.where("id % 3 = 0")
    val prior = docs.where("id % 3 <> 0")
    val selfDeduped = new graft.operators.dedup.MinHashLSHDedup(textCol = "text", idCol = "id",
      shingleWidth = 3, numHashes = 32, numBands = 8, threshold = 0.7,
      signatureScheme = "oph")(batch)
    val kept = new graft.operators.dedup.IncrementalMinHashDedup(prior = Some(prior),
      textCol = "text", idCol = "id", shingleWidth = 3, numHashes = 32, numBands = 8,
      threshold = 0.7, signatureScheme = "oph")(selfDeduped)
    val optimizer = spark.sessionState.optimizer
    Seq(selfDeduped, kept).foreach { df =>
      val analyzed = df.queryExecution.analyzed
      val withRule = optimizer.execute(analyzed)
      val without = withoutRule(optimizer.execute(analyzed))
      assert(withRule.sameResult(without), s"$withRule\n---\n$without")
    }
  }
}
