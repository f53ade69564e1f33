package graft.operators.dedup

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate deduplication (the standard
  * shingle → minhash signature → band → bucket-join pipeline used for
  * web-scale training corpora; cf. RefinedWeb §G.3 fuzzy dedup and the
  * reference's semantic-dedup design notes, framework/backend.py:89-93).
  *
  * Semantics: a row is DROPPED when an LSH candidate row with a smaller
  * `idCol` (earlier arrival) has exact shingle-set Jaccard ≥ `threshold`.
  * Candidates are pairs agreeing on all `rowsPerBand` minhashes of at
  * least one band — pairs never probed cannot be dropped (the usual LSH
  * false-negative tradeoff); verified Jaccard is exact, so no false drops.
  * Rows with fewer than `shingleWidth` tokens have no shingles and are
  * always kept.
  *
  * Note: drop-vs-earlier-candidate is pairwise, not transitive-closure
  * clustering. Full connected components would need an iterative
  * convergence loop; at 100 TB the standard practice is exactly this
  * pairwise form (each duplicate cluster keeps its minimum id because the
  * minimum is a candidate of most members; chains longer than one LSH hop
  * may keep >1 representative — acceptable and deterministic).
  *
  * Scale shape: signatures are computed per row without exploding shingles
  * (array transform, no shuffle); the only shuffles are the band-key join
  * (the LSH bucketing — this IS the reference's bucketed dedup state) and
  * the final left_anti. Band-key hot spots (many docs in one bucket) are
  * AQE-skew-split; `maxBucketSize` caps pathological buckets.
  *
  * `preCollapseExact` runs the LSH pipeline over one representative (min
  * id) per exact-text group instead of every row — the standard
  * production order at corpus scale (exact dedup before near-dedup;
  * RefinedWeb §G.2→G.3 runs exactly this sequence). It is provably
  * output-identical to the uncapped direct form: exact duplicates have
  * identical signatures, so every member always shares all bands with its
  * group's representative and verifies at Jaccard 1.0 (dropped), and any
  * cross-doc candidate of a member is a candidate of its representative
  * with the same Jaccard. Web corpora are ~30-50% exact duplicates, so
  * this cuts the candidate-pair space roughly quadratically in the
  * duplication factor. With `maxBucketSize` also set, the cap applies to
  * collapsed (representative) buckets — the more useful semantics, but
  * not the one `keepSql`'s QUALIFY mirrors, so the oracle twin rejects
  * that combination.
  */
final class MinHashLSHDedup(
    textCol: String = "text",
    val idCol: String = "id",
    shingleWidth: Int = 3,
    numHashes: Int = 16,
    numBands: Int = 4,
    threshold: Double = 0.8,
    portableHashes: Boolean = false,
    maxBucketSize: Option[Int] = None,
    preCollapseExact: Boolean = false,
    // val: the YAML-plumbing pin reads it back (the two schemes keep
    // identical rows at the shipped geometry, so output equality alone
    // cannot detect a dropped signature_scheme param)
    val signatureScheme: String = "kmin") extends graft.core.PairwiseDedup {

  require(numHashes % numBands == 0, "numHashes must be divisible by numBands")
  require(signatureScheme == "kmin" || signatureScheme == "oph",
    s"unsupported signatureScheme '$signatureScheme' (kmin | oph)")
  private val rowsPerBand = numHashes / numBands

  val name = "minhash_lsh_dedup"

  /** doc → (id, distinct hashed shingle set) via the fused
    * kernels.ShingleHashes loop — tokenize+shingle+hash once per row (the
    * round-1 declarative form re-ran the tokenization tree per shingle
    * element inside interpreted HOFs: ~30× slower, measured).
    */
  /** The `_pb` barrier column is nondeterministic so the empty-shingle
    * filter CANNOT be pushed below this projection — pushdown would
    * substitute the alias and re-run the tokenize+shingle kernel per row
    * in the filter (2× the dominant CPU cost; plan-checked in PlanSpec).
    */
  private def shingled(df: DataFrame): DataFrame =
    df.select(col(idCol).as("_id"),
      graft.plans.kernels.shingle_hashes(col(textCol), shingleWidth).as("_h"),
      monotonically_increasing_id().as("_pb"))

  /** MinHash signature (array of `numHashes` longs) from the hashed
    * shingle set. `signatureScheme = "kmin"` is the classic k-min form
    * (per-seed integer mix over the precomputed base hashes — k mixes
    * per shingle); `"oph"` is one-permutation hashing with rotation
    * densification ([[graft.plans.kernels.OphMinHashFromHashes]] — ONE
    * binning pass per shingle, the 100 TB signature-cost path; recall
    * vs the classic scheme at the same geometry is measured by the
    * `oph_lsh_recall` gate).
    */
  def signature(hashedShingles: Column): Column =
    if (signatureScheme == "oph")
      graft.plans.kernels.oph_minhash_from_hashes(hashedShingles, numHashes, portableHashes)
    else
      graft.plans.kernels.minhash_from_hashes(hashedShingles, numHashes, portableHashes)

  /** Verified duplicate pairs (d1 < d2, Jaccard ≥ threshold).
    *
    * Shuffle posture: shingle sets travel as distinct hashed longs (8 B
    * fixed-width, not text); pair dedup is on (d1, d2) ids only; Jaccard
    * verification is a single hash-set loop per surviving pair.
    */
  def verifiedPairs(df: DataFrame): DataFrame =
    if (preCollapseExact) collapsedPairs(df) else lshPairs(df)

  /** Exact-collapse wrapper around [[lshPairs]]: LSH over one
    * representative per exact-text group, then expand representative
    * pairs back to members. The returned pair set differs from the
    * direct form only in pairs where BOTH sides are non-representatives —
    * those are redundant for every consumer: `apply` needs the d2 set
    * (identical: every non-representative appears as d2 of its
    * within-group pair; representatives appear iff a smaller-id
    * representative matches), `rejected` needs min(d1) per d2 (the
    * minimum candidate of any row is always a representative, since a
    * group's representative is its minimum id and shares all its
    * members' bands), and the transitive variant needs components (each
    * group is connected through its representative).
    *
    * Shuffle posture: one groupBy on a 64-bit text hash (no arrays, no
    * text on that exchange beyond the representative `first`), then the
    * full pipeline over representatives only.
    */
  private def collapsedPairs(df: DataFrame): DataFrame = {
    val keyed = df.select(xxhash64(col(textCol)).as("_tk"), col(idCol).as("_mid"))
    val reps = df.groupBy(xxhash64(col(textCol)).as("_tk"))
      .agg(min(col(idCol)).as("_rid"), first(col(textCol)).as("_rtxt"))
    val memberMap = keyed.join(reps.select(col("_tk"), col("_rid")), Seq("_tk"))
      .select(col("_mid"), col("_rid"))
    val repPairs = lshPairs(reps.select(col("_rid").as(idCol), col("_rtxt").as(textCol)))
    val within = memberMap.filter(col("_mid") =!= col("_rid"))
      .select(col("_rid").as("d1"), col("_mid").as("d2"), lit(1.0).as("jaccard"))
    val cross = repPairs.join(memberMap, repPairs("d2") === memberMap("_rid"))
      .select(repPairs("d1"), col("_mid").as("d2"), col("jaccard"))
    within.unionByName(cross).dropDuplicates("d1", "d2")
  }

  /** (_id, _h, _b, _bkey) band rows of `df` — the LSH bucketing frame. */
  private[dedup] def banded(df: DataFrame): DataFrame = {
    // `_pb >= 0` is always true (monotonic ids are non-negative) but
    // keeps the barrier column referenced, so column pruning can't erase
    // it before the pushdown check — see [[shingled]]
    val base = shingled(df).filter(size(col("_h")) > 0 && col("_pb") >= 0).drop("_pb")
      .withColumn("_m", signature(col("_h")))
    val bandKeys = array((0 until numBands).map(b =>
      concat_ws("_", (lit(b) +: (0 until rowsPerBand).map(i =>
        element_at(col("_m"), b * rowsPerBand + i + 1))): _*)): _*)
    base.select(col("_id"), col("_h"), posexplode(bandKeys).as(Seq("_b", "_bkey")))
  }

  /** Verified cross-corpus duplicate pairs: increment rows whose
    * shingle-set Jaccard against SOME prior row reaches `threshold`
    * through an LSH band collision — no id-order constraint (every
    * prior row is "earlier" by construction). Returns
    * (d1 = prior id, d2 = increment id, jaccard). Same shuffle posture
    * as [[lshPairs]]: the band-key equi-join, verification inside the
    * join stage, only true pairs reach the pair-dedup.
    */
  def pairsAgainst(increment: DataFrame, prior: DataFrame): DataFrame =
    pairsAgainst(increment, prior, None)

  /** As above with a PRIOR-side hot-bucket guard (r17): prior (band,
    * bucket) groups larger than `priorMaxBucketSize` drop before the
    * join — the prior is the whole accumulated corpus, so its duplicate
    * mass is where a bucket goes hot (every increment row colliding
    * with a 10⁶-member prior bucket pays 10⁶ verifications). Same
    * count-only broadcast anti-join as [[apply]]'s `maxBucketSize`
    * ([[hotBuckets]]), unstaged: the prior bands feed one join side.
    * The increment side stays full: its size is the per-run/trigger
    * batch, already bounded by the caller.
    */
  def pairsAgainst(increment: DataFrame, prior: DataFrame,
      priorMaxBucketSize: Option[Int]): DataFrame =
    pairsOf(verify(priorBands(prior, priorMaxBucketSize), banded(increment)))

  /** `batch` minus every row with a verified near-dup that is EARLIER:
    * any `prior` row (after [[pairsAgainst]]'s prior-side hot-bucket
    * drop), or a batch row with a smaller id. This keeps exactly what
    * `apply` followed by [[IncrementalMinHashDedup]] against `prior`
    * keeps, because both drops are per-row tests over fixed sets (the
    * in-batch test checks every smaller-id batch row, dropped or not) —
    * but from ONE band-key join: prior bands plus batch bands on the
    * left, batch bands on the right, then one distinct of the dropped
    * ids and one left_anti. With no prior it is `apply`. The in-batch
    * half is the direct, uncapped form.
    */
  def applyAgainst(batch: DataFrame, prior: Option[DataFrame],
      priorMaxBucketSize: Option[Int] = None): DataFrame = {
    require(maxBucketSize.isEmpty && !preCollapseExact,
      "applyAgainst's in-batch half is the direct uncapped form")
    val bands = banded(batch)
    val batchLeft = bands.withColumn("_prior", lit(false))
    val left = prior.fold(batchLeft)(p =>
      priorBands(p, priorMaxBucketSize).unionByName(batchLeft))
    batch.join(verify(left, bands).select(col("d2").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** `prior`'s band rows flagged `_prior`, without the (band, bucket)
    * groups over `priorMaxBucketSize` rows. */
  private def priorBands(prior: DataFrame, priorMaxBucketSize: Option[Int]): DataFrame = {
    require(priorMaxBucketSize.forall(_ >= 1),
      s"priorMaxBucketSize must be >= 1 when set, got $priorMaxBucketSize")
    val pbands = banded(prior)
    priorMaxBucketSize.fold(pbands)(cap =>
      pbands.join(broadcast(hotBuckets(pbands, cap)), Seq("_b", "_bkey"), "left_anti"))
      .withColumn("_prior", lit(true))
  }

  private def lshPairs(df: DataFrame): DataFrame = {
    val bands0 = banded(df)
    val bands = maxBucketSize match {
      case Some(cap) =>
        // drop pathological buckets (e.g. empty-ish texts all colliding).
        // hot-key list STAGED (r19): `bands` feeds both join sides, so
        // an unstaged hot list re-ran the whole count pass (scan +
        // shingle/signature kernels) once per side — 4 banded passes per
        // gate. The list itself is a handful of (_b, _bkey) rows; the
        // signature-array frame stays deliberately uncached (measured
        // REJECTED — see OPTIMIZATION_r19.md).
        val hot = graft.core.Staging.stage(hotBuckets(bands0, cap))
        bands0.join(broadcast(hot), Seq("_b", "_bkey"), "left_anti")
      case None => bands0
    }
    pairsOf(verify(bands.withColumn("_prior", lit(false)), bands))
  }

  /** The (_b, _bkey) groups of `bands` holding more than `cap` rows.
    * Counts only on the wire: the groupBy side is column-pruned to
    * (_b, _bkey) — a map-side partial count — and callers broadcast the
    * (few) hot keys back as an anti-join. The previous window form
    * shuffled every (_id, _h, band) row partitioned by exactly the hot
    * key the cap exists to protect against; under memory pressure that
    * skewed full-array exchange spilled pathologically (161× swing in
    * the r9 driver bench). Plan-checked in PlanSpec: no Window, no
    * _h-carrying exchange keyed on the band.
    */
  private def hotBuckets(bands: DataFrame, cap: Int): DataFrame =
    bands.select(col("_b"), col("_bkey"))
      .groupBy(col("_b"), col("_bkey")).agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > cap).select(col("_b"), col("_bkey"))

  /** Verified candidates (d1 from `left`, d2 from `right`, `_j`) of two
    * band frames: the band-key equi-join, kept when d1 is EARLIER than
    * d2 — `left`'s `_prior` flag is set, or d1 < d2 — then the exact
    * Jaccard check. A constant flag folds away at planning: all-prior
    * leaves no order filter, all-batch leaves `d1 < d2`. Verification
    * runs inside the join stage: the candidate multiset (≤ numBands
    * copies per pair) re-verifies, but the full shingle-hash arrays
    * never ride an exchange.
    */
  private def verify(left: DataFrame, right: DataFrame): DataFrame =
    left.select(col("_b"), col("_bkey"), col("_id").as("d1"), col("_h").as("h1"),
        col("_prior"))
      .join(right.select(col("_b"), col("_bkey"), col("_id").as("d2"), col("_h").as("h2")),
        Seq("_b", "_bkey"))
      .filter(col("_prior") || col("d1") < col("d2"))
      .withColumn("_j", graft.plans.kernels.array_jaccard(col("h1"), col("h2")))
      .filter(col("_j") >= threshold)

  /** The (d1, d2, jaccard) pair set of [[verify]]'s candidates: only
    * true pairs' ids reach the pair-dedup shuffle. */
  private def pairsOf(verified: DataFrame): DataFrame =
    verified.select(col("d1"), col("d2"), col("_j").as("jaccard"))
      .dropDuplicates("d1", "d2")

  /** Transitive-closure variant: connected components over the verified
    * pair graph, keeping exactly the minimum id of every component
    * ([[ConnectedComponents]]; the default `apply` is the pairwise form —
    * see the class note on that tradeoff).
    */
  def applyTransitive(df: DataFrame): DataFrame = {
    val drop = ConnectedComponents.assign(verifiedPairs(df))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-ranked representative selection: like [[applyTransitive]]
    * but each near-dup component keeps its BEST member — max `scoreCol`,
    * ties to the smallest id — instead of the smallest id. This is the
    * curation-grade policy (of N near-identical crawls keep the longest /
    * highest-quality capture, not the one with the lowest key). Same
    * component assignment, then one `max_by` argmax per component —
    * the tiny (clustered-docs-only) table shuffles, never the corpus.
    */
  def applyBestRepresentative(df: DataFrame, scoreCol: String): DataFrame = {
    val comp = ConnectedComponents.assign(verifiedPairs(df))
    val scored = comp.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("_sc")), Seq("id"))
    val reps = scored.groupBy(col("comp"))
      // lexicographic struct max: highest score, then highest -id = lowest id
      .agg(max_by(col("id"), struct(col("_sc"), (-col("id")).as("_ni"))).as("keep_id"))
    val drop = scored
      .join(reps, scored("id") === reps("keep_id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Oracle SQL for [[applyBestRepresentative]] (kept ids, ORDER BY id). */
  def keepBestRepresentativeSql(table: String, scoreCol: String): String =
    s"""WITH RECURSIVE ${verCtes(table)},
       |${ConnectedComponents.assignSql("ver")},
       |_sc AS (SELECT c.id, c.comp, t.$scoreCol AS sc
       |        FROM _comp c JOIN $table t ON c.id = t.$idCol),
       |_reps AS (SELECT id FROM _sc
       |          QUALIFY row_number() OVER (PARTITION BY comp
       |                                     ORDER BY sc DESC, id ASC) = 1)
       |SELECT $idCol FROM $table
       |WHERE $idCol NOT IN (SELECT id FROM _sc WHERE id NOT IN (SELECT id FROM _reps))
       |ORDER BY $idCol""".stripMargin

  /** Oracle SQL for [[applyTransitive]] (kept ids, ORDER BY id). */
  def keepTransitiveSql(table: String): String =
    s"""WITH RECURSIVE ${verCtes(table)},
       |${ConnectedComponents.assignSql("ver")}
       |SELECT $idCol FROM $table
       |WHERE $idCol NOT IN (SELECT id FROM _comp WHERE id <> comp)
       |ORDER BY $idCol""".stripMargin

  /** Duplicate-component size table `(comp, size)` — the dedup AUDIT
    * view: the size distribution of near-dup clusters is what drives
    * policy (a heavy tail means boilerplate/template content that
    * deserves its own filter; a flat head means organic near-dups).
    * Components come from the same verified pair graph as
    * [[applyTransitive]]; only true clusters appear (every component
    * has ≥ 2 members by construction).
    */
  def clusterStats(df: DataFrame): DataFrame =
    ConnectedComponents.assign(verifiedPairs(df))
      .groupBy(col("comp")).agg(count(lit(1)).as("size"))

  /** Oracle SQL for [[clusterStats]] (ORDER BY comp). */
  def clusterStatsSql(table: String): String =
    s"""WITH RECURSIVE ${verCtes(table)},
       |${ConnectedComponents.assignSql("ver")}
       |SELECT comp, count(*) AS size FROM _comp
       |GROUP BY comp ORDER BY comp""".stripMargin

  /** Per-row MinHash signatures, for inspection/testing: (id, sig array). */
  def signatures(df: DataFrame): DataFrame =
    shingled(df).filter(size(col("_h")) > 0 && col("_pb") >= 0)
      .select(col("_id"), signature(col("_h")).as("_m"))

  // ---- DuckDB twin (portable hashes only) ----

  private[dedup] def sigCtes(table: String, pfx: String = ""): String = {
    require(portableHashes, "oracle requires the portable hash family")
    val k = numHashes
    // the OPH twin mirrors OphMinHashFromHashes exactly: bin by residue,
    // min per bin, then circular right-borrow encoded as
    // d·2^(60−s) + (base >> s) — injective in (truncated base, d) and
    // overflow-free (1-based list indexing; list_min over an empty
    // filter is NULL, so the borrow scan is a "first non-NULL over
    // distance d" list pipeline)
    val ophKernel = graft.plans.kernels.OphMinHashFromHashes(
      org.apache.spark.sql.catalyst.expressions.Literal(null), k, portable = true)
    val sigBody =
      if (signatureScheme == "oph")
        s"""${pfx}raw AS (SELECT id, h,
           |    list_transform(range(0, $k), j ->
           |      list_min(list_filter(h, x -> x % $k = j))) AS rw
           |  FROM ${pfx}hv),
           |${pfx}sig AS (SELECT id, h,
           |    list_transform(range(0, $k), j ->
           |      list_filter(list_transform(range(0, $k), d ->
           |        d * ${ophKernel.borrowStep} +
           |          (rw[CAST((j + d) % $k AS INTEGER) + 1] >> ${ophKernel.shiftBits})),
           |        v -> v IS NOT NULL)[1]) AS m
           |  FROM ${pfx}raw)""".stripMargin
      else
        s"""${pfx}sig AS (SELECT id, h, [${(0 until numHashes).map(j =>
              s"list_min(list_transform(h, x -> ${HashFunctions.mixedSql("x", j)}))").mkString(", ")}] AS m
           |  FROM ${pfx}hv)""".stripMargin
    s"""${pfx}sh AS (SELECT $idCol AS id,
       |    list_distinct(${TextFunctions.shinglesSql("t", shingleWidth)}) AS s
       |  FROM (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS t FROM $table)),
       |${pfx}hv AS (SELECT id, list_distinct(list_transform(s, x -> ${HashFunctions.portableHash64Sql("x")})) AS h
       |  FROM ${pfx}sh WHERE len(s) > 0),
       |$sigBody""".stripMargin
  }

  /** `${pfx}bands(id, h, b, bkey)` CTE over `${pfx}sig`; with `cap`,
    * buckets holding more than `cap` rows drop (the Spark-side
    * hot-bucket anti-join). */
  private[dedup] def bandsCte(pfx: String, cap: Option[Int] = None): String =
    s"""${pfx}bands AS (SELECT id, h, b,
       |    CAST(b AS VARCHAR) ${(0 until rowsPerBand).map(i =>
            s"|| '_' || CAST(m[b*$rowsPerBand+${i + 1}] AS VARCHAR)").mkString(" ")} AS bkey
       |  FROM ${pfx}sig CROSS JOIN (SELECT unnest(range(0, $numBands)) AS b) ${pfx}bs${cap.map(c =>
            s"\n  QUALIFY count(*) OVER (PARTITION BY b, bkey) <= $c").getOrElse("")})""".stripMargin

  /** Exact Jaccard of two hashed shingle sets — the twin of kernels.ArrayJaccard. */
  private def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"(CAST(len($a) + len($b) AS DOUBLE) - CAST(len(list_intersect($a, $b)) AS DOUBLE))"

  /** Oracle SQL for [[IncrementalMinHashDedup]]: increment ids KEPT
    * given the prior table (kept = no verified prior near-dup through a
    * band collision), ORDER BY id. `priorMaxBucketSize` mirrors the
    * Spark-side prior hot-bucket drop as a QUALIFY over pbands. */
  def keepAgainstSql(incTable: String, priorTable: String,
      priorMaxBucketSize: Option[Int] = None): String = {
    s"""WITH ${sigCtes(priorTable, "p")},
       |${sigCtes(incTable, "q")},
       |${bandsCte("p", priorMaxBucketSize)},
       |${bandsCte("q")},
       |xver AS (SELECT DISTINCT q.id AS d2
       |  FROM pbands p JOIN qbands q ON p.b = q.b AND p.bkey = q.bkey
       |  WHERE ${jaccardSql("p.h", "q.h")} >= $threshold)
       |SELECT $idCol FROM $incTable WHERE $idCol NOT IN (SELECT d2 FROM xver)
       |ORDER BY $idCol""".stripMargin
  }

  /** Oracle SQL returning (id, m1..mTake) signature prefixes, ORDER BY id. */
  def signatureSql(table: String, take: Int): String =
    s"""WITH ${sigCtes(table)}
       |SELECT id AS $idCol, ${(1 to take).map(i => s"m[$i] AS m$i").mkString(", ")}
       |FROM sig ORDER BY id""".stripMargin

  /** CTE chain ending in `ver(d1, d2)` — the verified duplicate pairs.
    * Verification is on the hashed shingle sets `h` — exactly what the
    * Spark side verifies (kernels.ArrayJaccard over ShingleHashes
    * output). The `maxBucketSize` QUALIFY counts raw rows, so a cap over
    * pre-collapsed buckets has no SQL twin. */
  private def verCtes(table: String): String = {
    require(!(preCollapseExact && maxBucketSize.isDefined),
      "oracle QUALIFY counts raw rows; cap-over-collapsed-buckets has no SQL twin")
    s"""${sigCtes(table)},
       |${bandsCte("", maxBucketSize)},
       |cand AS (SELECT DISTINCT a.id AS d1, b.id AS d2, a.h AS h1, b.h AS h2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id),
       |ver AS (SELECT d1, d2, ${jaccardSql("h1", "h2")} AS jacc
       |  FROM cand
       |  WHERE jacc >= $threshold)""".stripMargin
  }

  /** Audit view of the verified pairs: `(d1, d2, jaccard)` rounded to
    * 6 — the "why was this document dropped" evidence table reviewers
    * ask for before trusting a dedup pass. Requires the DIRECT (non
    * pre-collapsed) configuration: the collapsed form omits redundant
    * non-representative×non-representative pairs, which is fine for
    * every dedup consumer but would make the EVIDENCE table silently
    * incomplete.
    */
  def auditPairs(df: DataFrame): DataFrame = {
    require(!preCollapseExact,
      "auditPairs needs the direct pair form — the pre-collapsed pair set omits " +
        "redundant member pairs and would render an incomplete evidence table")
    verifiedPairs(df)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  def auditPairsSql(table: String): String = {
    require(!preCollapseExact, "audit oracle covers the direct pair form")
    s"""WITH ${verCtes(table)}
       |SELECT d1, d2, round(jacc, 6) AS jaccard FROM ver ORDER BY d1, d2""".stripMargin
  }

  /** NEAR-dup contamination matrix: verified pair counts rolled up by
    * unordered source pair — the fuzzy companion to
    * [[graft.operators.text.CorpusOverlapMatrix]]'s exact-hash cells
    * (mirror crawls with boilerplate drift show up HERE, not there).
    * Diagonal cells (`source_a == source_b`) are within-source
    * near-dup mass — kept, they're the "this source is internally
    * redundant" signal a mixture planner weighs separately from
    * cross-source contamination.
    *
    * Scale shape: the pair table is the [[verifiedPairs]] output
    * (banded + verified, never all-pairs); sources re-attach via two
    * id-keyed joins against a 2-column projection, and the rollup is
    * an S²-row aggregate. Requires the direct pair form for the same
    * completeness reason as [[auditPairs]].
    */
  def sourceMatrix(df: DataFrame, sourceCol: String): DataFrame = {
    require(!preCollapseExact,
      "sourceMatrix needs the direct pair form — the pre-collapsed set omits " +
        "redundant member pairs and would undercount pair cells")
    val src = df.select(col(idCol).as("_smid"), col(sourceCol).as("_smsrc"))
    verifiedPairs(df)
      .join(src.select(col("_smid").as("d1"), col("_smsrc").as("_sa")), Seq("d1"))
      .join(src.select(col("_smid").as("d2"), col("_smsrc").as("_sb")), Seq("d2"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_near_dup_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def sourceMatrixSql(table: String, sourceCol: String): String = {
    require(!preCollapseExact, "source-matrix oracle covers the direct pair form")
    s"""WITH ${verCtes(table)},
       |_smp AS (SELECT least(sa.$sourceCol, sb.$sourceCol) AS source_a,
       |    greatest(sa.$sourceCol, sb.$sourceCol) AS source_b
       |  FROM ver
       |  JOIN $table sa ON ver.d1 = sa.$idCol
       |  JOIN $table sb ON ver.d2 = sb.$idCol)
       |SELECT source_a, source_b, count(*) AS n_near_dup_pairs
       |FROM _smp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Oracle SQL returning kept ids, ORDER BY id. Requires portableHashes. */
  def keepSql(table: String): String =
    s"""WITH ${verCtes(table)}
       |SELECT $idCol FROM $table WHERE $idCol NOT IN (SELECT d2 FROM ver)
       |ORDER BY $idCol""".stripMargin
}
