package graft.operators.text

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained CONDITIONAL bigram language model — per-document
  * cross-entropy under `p(w2|w1)`, the Markov-chain complement to
  * [[NgramLmScoreRefiner]] (which scores by MARGINAL n-gram frequency:
  * that flags rare phrasing; a conditional model flags improbable
  * TRANSITIONS — "the the", shuffled-word soup, template splices —
  * exactly what KenLM-style perplexity filters key on, Wenzek et al.
  * 2020). Self-trained on the corpus, so it needs no external model
  * artifact.
  *
  * Model: `p(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V)` (add-one), with
  * V = the bigram-participating unigram vocabulary (distinct tokens
  * observed in either bigram position; tokens of 1-token documents
  * never condition or get predicted, so they carry no probability mass
  * to smooth over — documented definition, replayed identically by the
  * twin). Doc score = `Σ -log2 p / n_bigrams`; docs with < 2 tokens
  * carry NULL (no transition evidence), never a fake 0.
  *
  * Exactness: counts are exact BIGINTs; each DISTINCT bigram's cost is
  * floor-scaled ONCE to an integer (`floor(-ln p · 1e9/ln 2)`, the
  * [[JsDivergence]] discipline — the constant is a single Scala double
  * spliced into both engines), so per-doc sums are order-invariant
  * integer algebra and the DuckDB twin replays them bit-for-bit.
  *
  * Scale shape (the [[NgramLmScoreRefiner]] disciplines): bigrams hash
  * to 64-bit keys before ANY shuffle — longs on the wire, never
  * strings; the text scans ONCE into the per-doc `(doc, h_bigram)`
  * count table, which map-side combines, is staged via
  * [[graft.core.Staging]] (compact: post-combine rows ≪ tokens), and
  * feeds corpus counts, context totals, the vocab scalar, and the
  * scoring join. Context totals group the bigram-count table by the
  * first-token hash (vocab-bounded); V rides a broadcast scalar; a hot
  * bigram is one post-combine row, and AQE skew-splits the scoring
  * probe if a key still runs hot. No windows, no driver state.
  */
object BigramLm {
  /** Asymmetric overflow-safe combine of two 60-bit token hashes into
    * one bigram key: the existing audited [[HashFunctions.mixed]] family
    * under distinct seeds (each term < 2^61, sum < 2^62 — safe in both
    * ANSI Spark and DuckDB; distinct seeds keep "a b" ≠ "b a"). The
    * Spark side is the fused [[graft.plans.kernels.token_bigrams]].
    */
  private[text] def mixPairSql(h1: String, h2: String): String =
    s"(${HashFunctions.mixedSql(h1, 0)} + ${HashFunctions.mixedSql(h2, 1)})"

  /** Each frozen smoothing's model tables, by name — the one list the
    * freeze and [[BigramLmModel]] read.
    * `cost` (each TRAINING bigram's integer cost, `(_chb, _c9)`) comes
    * first and is built last, derived from the others:
    *  - addone: `ctx (_xh1, _cw)` total count per context, `vocab (_v)`
    *    the one-row bigram-participating vocab size;
    *  - kn: `ctx (_xh1, _cw, _nt)` total and distinct-continuation
    *    counts per context, `cont (_yh2, _pc)` distinct left contexts
    *    per word, `tot (_t, _n1, _n2)` the one-row (types, count-1
    *    types, count-2 types) scalar.
    */
  val FrozenTables: Map[String, Seq[String]] = Map(
    "addone" -> Seq("cost", "ctx", "vocab"),
    "kn"     -> Seq("cost", "ctx", "cont", "tot"))

  private[text] def frozenTables(smoothing: String): Seq[String] =
    FrozenTables.getOrElse(smoothing, throw new IllegalArgumentException(
      s"unsupported frozen smoothing '$smoothing' (addone | kn)"))
}

/** A FROZEN bigram-LM model (r15 add-one, r17 Kneser–Ney): its
  * smoothing and its persisted tables, in [[BigramLm.FrozenTables]]
  * order — so a streaming scorer joins micro-batches against them
  * trigger after trigger without re-deriving the training aggregate.
  * [[release]] unpersists when the consumer retires the model (e.g. on
  * periodic re-train).
  */
final case class BigramLmModel private[text] (
    smoothing: String, tables: Seq[DataFrame]) {
  def apply(name: String): DataFrame =
    tables(BigramLm.FrozenTables(smoothing).indexOf(name))
  def release(): Unit = tables.foreach(_.unpersist(false))
}

final class BigramLm(
    textCol: String = "text",
    idCol: String = "doc_id") {

  val name = "bigram_lm_score"

  // 1e9/ln2 as ONE Scala double literal spliced into BOTH engines, so
  // the transcendental step is the identical double product everywhere
  private val CostScale = 1e9 / math.log(2.0)

  /** Staged distinct-bigram count tables shared by EVERY trainer
    * (add-one, KN, MKN, both freezes): per-(doc, bigram) occurrence
    * counts `db(_hb, idCol, _occ, _h1, _h2)` and corpus type counts
    * `cb(_hb, _cb, _ch1, _ch2)` — both staged (each has 2+ consumers;
    * _h1/_h2 are functions of _hb, so min() just picks the one value).
    * A smoothing that ignores an endpoint column simply never reads it.
    */
  private def stagedCounts(df: DataFrame): (DataFrame, DataFrame) = {
    val db = graft.core.Staging.stage(docCounts(df))
    (db, graft.core.Staging.stage(corpusCounts(db)))
  }

  /** The un-staged per-(doc, bigram) count plan — [[stagedCounts]]
    * stages it; [[stagedCbOnly]] folds it straight into the corpus
    * aggregate without caching the per-doc table.
    */
  private def docCounts(df: DataFrame): DataFrame =
    occurrences(df).groupBy(col(idCol), col("_hb"))
      .agg(count(lit(1)).as("_occ"), min(col("_h1")).as("_h1"),
        min(col("_h2")).as("_h2"))

  private def corpusCounts(db: DataFrame): DataFrame =
    db.groupBy(col("_hb"))
      .agg(sum(col("_occ")).as("_cb"), min(col("_h1")).as("_ch1"),
        min(col("_h2")).as("_ch2"))

  /** The bigram-participating vocab scalar, computed from the CORPUS
    * type counts rather than the per-doc table (r19): `_hb` determines
    * its endpoint hashes (the min() in [[corpusCounts]] collapses equal
    * values), so `distinct(_ch1 ∪ _ch2 over cb)` is the same set as
    * `distinct(_h1 ∪ _h2 over db)` — and cb is the far smaller frame
    * (distinct bigrams vs per-doc-distinct rows) at every scale. The
    * DuckDB twins' `_v` CTE reads `_cb` identically.
    */
  private def vocabOf(cb: DataFrame): DataFrame =
    cb.select(explode(array(col("_ch1"), col("_ch2"))).as("_th"))
      .agg(countDistinct(col("_th")).as("_v"))

  /** Staged corpus type counts ALONE — for consumers that never read
    * the per-doc table ([[freeze]] derives only model tables from
    * `cb`): the per-(doc, bigram) frame is the largest intermediate in
    * a freeze, and persisting it for zero readers is pure cache-write
    * overhead (ADVICE r17). Same values as [[stagedCounts]]._2 — the
    * two-level aggregation runs as one un-cached pipeline.
    */
  private def stagedCbOnly(df: DataFrame): DataFrame =
    graft.core.Staging.stage(corpusCounts(docCounts(df)))

  /** Per-doc grouped `(_blm_id, _blm_n, _blm_bits)` from the per-doc
    * counts and a per-distinct-bigram integer cost table — the shared
    * tail of every self-trained scorer.
    */
  private def groupedBits(db: DataFrame, cost: DataFrame): DataFrame =
    db.join(cost, col("_hb") === col("_chb"))
      .groupBy(col(idCol).as("_blm_id"))
      .agg(sum(col("_occ")).as("_nb"), sum(col("_occ") * col("_c9")).as("_s"))
      .select(col("_blm_id"), col("_nb").as("_blm_n"),
        when(col("_nb") > 0L,
          round(col("_s").cast("double") / col("_nb").cast("double") / lit(1e9), 6))
          .as("_blm_bits"))

  /** The per-row `(idCol, n_bigrams, bits_per_bigram)` shape over any
    * grouped score table — every apply/scoreAgainst variant's spine.
    */
  private def perRow(df: DataFrame, grouped: DataFrame): DataFrame =
    df.select(col(idCol))
      .join(grouped, col(idCol) === col("_blm_id"), "left")
      .select(col(idCol),
        coalesce(col("_blm_n"), lit(0L)).as("n_bigrams"),
        col("_blm_bits").as("bits_per_bigram"))

  /** `(idCol, n_bigrams, bits_per_bigram)` for EVERY input row; NULL
    * score (and 0 bigrams) for docs with < 2 tokens.
    */
  def apply(df: DataFrame): DataFrame = perRow(df, scores(df))

  /** `(_blm_id, _blm_n, _blm_bits)` — ONE row per corpus doc that has at
    * least one bigram (callers left-join and coalesce). The join-ready
    * form [[BigramLmScoreRefiner]] attaches without a second pass over
    * the scored table.
    */
  def scores(df: DataFrame): DataFrame = {
    val (db, cb) = stagedCounts(df)
    groupedBits(db, trainedCost(cb, "addone", modelTable("addone", cb)))
  }

  /** Interpolated Kneser–Ney scores (Kneser & Ney 1995; the smoothing
    * KenLM ships as its default) — grouped `(_blm_id, _blm_n,
    * _blm_bits)` like [[scores]] (per-row form: [[applyKn]]), but under
    * `p(w2|w1) = max(c(w1,w2)−D, 0)/c(w1,·) + D·N1+(w1,·)/c(w1,·) ·
    * N1+(·,w2)/T` with the absolute discount `D = n1/(n1 + 2·n2)`
    * (n1/n2 = bigram types of count 1/2 — the standard Ney/Essen/Kneser
    * estimate; corpora where every bigram repeats ≥ 3× have n1 = n2 = 0
    * and take D = 0, i.e. undiscounted MLE). The continuation
    * distribution `N1+(·,w2)/T` (distinct left-contexts of w2 over total
    * bigram types) is what distinguishes KN from add-one: a word seen in
    * MANY contexts ("francisco" vs "the") keeps low continuation mass,
    * so template splices and shuffled-word soup score worse than their
    * raw frequency suggests. Self-trained and scored on the same corpus
    * (every scored bigram is seen, so p > 0 always: c−D may hit 0 at
    * D = 1 but the continuation term is then strictly positive).
    *
    * Exactness: all counts are exact BIGINTs; D and p are fixed double
    * expression trees replayed op-for-op by [[knSql]]; each distinct
    * bigram's cost floor-scales once to an integer (the [[scores]]
    * discipline), so per-doc sums stay order-invariant integer algebra.
    *
    * Scale shape: identical to [[scores]] plus two more vocab-bounded
    * aggregates of the distinct-bigram table (continuation counts by
    * second token, one global scalar row with (T, n1, n2) broadcast) —
    * the corpus text still scans exactly once.
    */
  def knScores(df: DataFrame): DataFrame = {
    val (db, cb) = stagedCounts(df)
    groupedBits(db, trainedCost(cb, "kn", modelTable("kn", cb)))
  }

  // the KN model aggregates over the corpus type counts — shared by
  // the self-trained scorers and the freeze path
  // context table: total count AND distinct-continuation count per w1
  private def knCtx(cb: DataFrame): DataFrame =
    cb.groupBy(col("_ch1").as("_xh1"))
      .agg(sum(col("_cb")).as("_cw"), count(lit(1)).as("_nt"))
  // continuation table: distinct left-context count per w2
  private def knCont(cb: DataFrame): DataFrame =
    cb.groupBy(col("_ch2").as("_yh2")).agg(count(lit(1)).as("_pc"))
  // one scalar row: total bigram types, count-1 types, count-2 types
  private def knTot(cb: DataFrame): DataFrame =
    cb.agg(count(lit(1)).as("_t"),
      sum(when(col("_cb") === 1L, 1L).otherwise(0L)).as("_n1"),
      sum(when(col("_cb") === 2L, 1L).otherwise(0L)).as("_n2"))

  /** Per-row KN scores — [[apply]]'s shape over [[knScores]]. */
  def applyKn(df: DataFrame): DataFrame = perRow(df, knScores(df))

  /** MODIFIED Kneser–Ney scores (Chen & Goodman 1998 — the KenLM
    * default): like [[knScores]] but with three count-dependent
    * absolute discounts instead of one. With `Y = n1/(n1 + 2·n2)`,
    * `D1 = 1 − 2Y·n2/n1`, `D2 = 2 − 3Y·n3/n2`, `D3+ = 3 − 4Y·n4/n3`
    * (nk = bigram types of count k; a zero denominator takes D = 0 —
    * that count class is empty or unestimable — and every D clamps at
    * 0 from below), the discount applied to a bigram is D(c) by its
    * count class and the interpolation weight is
    * `λ(w1) = (D1·N1(w1) + D2·N2(w1) + D3+·N3+(w1)) / c(w1,·)` over the
    * context's per-class continuation counts. p > 0 always: a fully
    * discounted class contributes its own mass back through λ, and an
    * undiscounted one keeps `c/c(w1,·)`. Same exact-integer cost
    * discipline, same one-scan shape (the ctx aggregate just carries
    * three more bounded counts). Grouped output like [[knScores]];
    * per-row form [[applyMkn]].
    */
  def mknScores(df: DataFrame): DataFrame = {
    val (db, cb) = stagedCounts(df)
    groupedBits(db, mknCost(cb, mknCtx(cb)))
  }

  // the MKN context aggregate: total count + per-count-class
  // continuation counts for λ(w1). In the LADDER path the unified ctx
  // is a superset of this — the expressions only ever read columns by
  // name, so the extra columns are invisible to the cost tree.
  private def mknCtx(cb: DataFrame): DataFrame =
    cb.groupBy(col("_ch1").as("_xh1"))
      .agg(sum(col("_cb")).as("_cw"),
        sum(when(col("_cb") === 1L, 1L).otherwise(0L)).as("_m1c"),
        sum(when(col("_cb") === 2L, 1L).otherwise(0L)).as("_m2c"),
        sum(when(col("_cb") >= 3L, 1L).otherwise(0L)).as("_m3c"))

  /** The `(T, n1..n4)` scalar row WITH the three Chen–Goodman discounts
    * `_d1/_d2/_d3` computed in the one-row projection — so the per-row
    * cost expression references them as plain attributes instead of
    * inlining six copies of the Y/discount case trees. Same doubles
    * (identical expression over identical scalar inputs, evaluated once
    * instead of per row); the change exists because the inlined form's
    * generated code was large enough that janino compilation dominated
    * the leg's first run (44 s vs 1.9 s steady in the r17 driver record
    * — a cost real clusters pay once per executor).
    */
  private def mknTot(cb: DataFrame): DataFrame = {
    val y = when(col("_n1") + lit(2L) * col("_n2") > 0L,
      col("_n1").cast("double") /
        (col("_n1") + lit(2L) * col("_n2")).cast("double"))
      .otherwise(lit(0.0))
    def dk(k: Int, nk: Column, nk1: Column): Column =
      when(nk > 0L,
        greatest(lit(k.toDouble) -
          lit((k + 1).toDouble) * y * nk1.cast("double") / nk.cast("double"),
          lit(0.0)))
        .otherwise(lit(0.0))
    cb.agg(count(lit(1)).as("_t"),
        sum(when(col("_cb") === 1L, 1L).otherwise(0L)).as("_n1"),
        sum(when(col("_cb") === 2L, 1L).otherwise(0L)).as("_n2"),
        sum(when(col("_cb") === 3L, 1L).otherwise(0L)).as("_n3"),
        sum(when(col("_cb") === 4L, 1L).otherwise(0L)).as("_n4"))
      .select(col("_t"), col("_n1"), col("_n2"),
        dk(1, col("_n1"), col("_n2")).as("_d1"),
        dk(2, col("_n2"), col("_n3")).as("_d2"),
        dk(3, col("_n3"), col("_n4")).as("_d3"))
  }

  // the MKN probability over the joined (cb ⋈ ctx ⋈ cont × tot) row —
  // _d1/_d2/_d3 are attributes from mknTot's one-row broadcast
  private def mknProb: Column = {
    val dOfC = when(col("_cb") === 1L, col("_d1"))
      .when(col("_cb") === 2L, col("_d2")).otherwise(col("_d3"))
    val lam = (col("_d1") * col("_m1c").cast("double") +
      col("_d2") * col("_m2c").cast("double") +
      col("_d3") * col("_m3c").cast("double")) / col("_cw").cast("double")
    greatest(col("_cb").cast("double") - dOfC, lit(0.0)) /
      col("_cw").cast("double") +
      lam * (col("_pc").cast("double") / col("_t").cast("double"))
  }

  /** Per-trained-bigram MKN integer costs `(_chb, _c9)` over any ctx
    * frame carrying the MKN context columns.
    */
  private def mknCost(cb: DataFrame, ctx: DataFrame): DataFrame =
    cb.join(ctx, col("_ch1") === col("_xh1"))
      .join(knCont(cb), col("_ch2") === col("_yh2"))
      .crossJoin(broadcast(mknTot(cb)))
      .select(col("_hb").as("_chb"), costOf(mknProb).as("_c9"))

  /** Per-row modified-KN scores — [[apply]]'s shape over [[mknScores]]. */
  def applyMkn(df: DataFrame): DataFrame = perRow(df, mknScores(df))

  /** The WHOLE smoothing ladder from ONE staged count pass: grouped
    * `(_blm_id, _blm_n, _bits_addone, _bits_kn, _bits_mkn)` — each
    * column bit-identical to [[scores]]/[[knScores]]/[[mknScores]]
    * respectively (the same double expression trees over the same
    * staged counts; the three smoothings differ only in the cost table
    * derived from `cb`, so one `(db, cb)` serves all three). Exists for
    * the `lm_smoothing` corpus report, which previously trained three
    * independent LMs — the tokenize + two-level count aggregation (the
    * expensive half of a bigram-LM training, and at 100 TB three corpus
    * scans) ran per smoothing for one readout (VERDICT r17 #2). Here
    * the corpus text scans once, the count tables stage once, one ctx
    * aggregate carries every smoothing's context columns, and one cost
    * join emits all three integer cost columns.
    */
  def ladderScores(df: DataFrame): DataFrame = {
    val (db, cb) = stagedCounts(df)
    // unified ctx: the addone (_cw), KN (_cw, _nt), and MKN (_cw, _m*)
    // context columns from ONE vocab-bounded aggregate — each cost
    // expression reads its own subset by name
    val ctx = cb.groupBy(col("_ch1").as("_xh1"))
      .agg(sum(col("_cb")).as("_cw"), count(lit(1)).as("_nt"),
        sum(when(col("_cb") === 1L, 1L).otherwise(0L)).as("_m1c"),
        sum(when(col("_cb") === 2L, 1L).otherwise(0L)).as("_m2c"),
        sum(when(col("_cb") >= 3L, 1L).otherwise(0L)).as("_m3c"))
    val vocab = vocabOf(cb)
    // mknTot's scalar row carries (_t, _n1, _n2) — exactly what
    // knDiscount/knProb read — plus the MKN discounts
    val cost = cb.join(ctx, col("_ch1") === col("_xh1"))
      .join(knCont(cb), col("_ch2") === col("_yh2"))
      .crossJoin(broadcast(mknTot(cb)))
      .crossJoin(broadcast(vocab))
      .select(col("_hb").as("_chb"),
        costOf(trainedProb("addone")).as("_c9a"),
        costOf(trainedProb("kn")).as("_c9k"),
        costOf(mknProb).as("_c9m"))
    def bits(s: Column): Column =
      when(col("_nb") > 0L,
        round(s.cast("double") / col("_nb").cast("double") / lit(1e9), 6))
    db.join(cost, col("_hb") === col("_chb"))
      .groupBy(col(idCol).as("_blm_id"))
      .agg(sum(col("_occ")).as("_nb"),
        sum(col("_occ") * col("_c9a")).as("_sa"),
        sum(col("_occ") * col("_c9k")).as("_sk"),
        sum(col("_occ") * col("_c9m")).as("_sm"))
      .select(col("_blm_id"), col("_nb").as("_blm_n"),
        bits(col("_sa")).as("_bits_addone"),
        bits(col("_sk")).as("_bits_kn"),
        bits(col("_sm")).as("_bits_mkn"))
  }

  /** DuckDB twin of [[mknScores]] — identical count algebra and double
    * expression trees for Y, the three discounts, λ, and p.
    */
  def mknSql(table: String): String = {
    val y = """CASE WHEN _n1 + 2 * _n2 > 0 THEN
      |          CAST(_n1 AS DOUBLE) / CAST(_n1 + 2 * _n2 AS DOUBLE)
      |        ELSE CAST(0 AS DOUBLE) END""".stripMargin
    def dk(k: Int, nk: String, nk1: String): String =
      s"""CASE WHEN $nk > 0 THEN
         |          greatest(CAST($k AS DOUBLE) -
         |            CAST(${k + 1} AS DOUBLE) * _y * CAST($nk1 AS DOUBLE) / CAST($nk AS DOUBLE),
         |            CAST(0 AS DOUBLE))
         |        ELSE CAST(0 AS DOUBLE) END""".stripMargin
    s"""WITH ${docCountCtesSql(table, "_")},
       |$corpusCbSql,
       |_ctx AS (SELECT _ch1 AS _xh1, CAST(sum(_cb) AS BIGINT) AS _cw,
       |    CAST(sum(CASE WHEN _cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _m1c,
       |    CAST(sum(CASE WHEN _cb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS _m2c,
       |    CAST(sum(CASE WHEN _cb >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS _m3c
       |  FROM _cb GROUP BY 1),
       |_cont AS (SELECT _ch2 AS _yh2, CAST(count(*) AS BIGINT) AS _pc
       |  FROM _cb GROUP BY 1),
       |_tot AS (SELECT CAST(count(*) AS BIGINT) AS _t,
       |    CAST(sum(CASE WHEN _cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _n1,
       |    CAST(sum(CASE WHEN _cb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS _n2,
       |    CAST(sum(CASE WHEN _cb = 3 THEN 1 ELSE 0 END) AS BIGINT) AS _n3,
       |    CAST(sum(CASE WHEN _cb = 4 THEN 1 ELSE 0 END) AS BIGINT) AS _n4
       |  FROM _cb),
       |_cost AS (SELECT _hb AS _chb,
       |    CAST(floor(-ln(
       |      greatest(CAST(_cb AS DOUBLE) -
       |          (CASE WHEN _cb = 1 THEN _d1 WHEN _cb = 2 THEN _d2 ELSE _d3 END),
       |        CAST(0 AS DOUBLE)) / CAST(_cw AS DOUBLE)
       |      + (_d1 * CAST(_m1c AS DOUBLE) + _d2 * CAST(_m2c AS DOUBLE)
       |          + _d3 * CAST(_m3c AS DOUBLE)) / CAST(_cw AS DOUBLE)
       |        * (CAST(_pc AS DOUBLE) / CAST(_t AS DOUBLE))
       |    ) * $CostScale) AS BIGINT) AS _c9
       |  FROM (SELECT *,
       |      ${dk(1, "_n1", "_n2")} AS _d1,
       |      ${dk(2, "_n2", "_n3")} AS _d2,
       |      ${dk(3, "_n3", "_n4")} AS _d3
       |    FROM (SELECT *, $y AS _y
       |      FROM _cb JOIN _ctx ON _ch1 = _xh1
       |        JOIN _cont ON _ch2 = _yh2 CROSS JOIN _tot))),
       |${selfScoreTailSql(table)}""".stripMargin
  }

  // the shared D and p(w2|w1) expression trees — one definition feeding
  // knScores, the KN freeze, and (via the same SQL rendering) both twins
  private def knDiscount: Column =
    when(col("_n1") + lit(2L) * col("_n2") > 0L,
      col("_n1").cast("double") /
        (col("_n1") + lit(2L) * col("_n2")).cast("double"))
      .otherwise(lit(0.0))

  private def knProb: Column = {
    val d = knDiscount
    greatest(col("_cb").cast("double") - d, lit(0.0)) /
      col("_cw").cast("double") +
      d * col("_nt").cast("double") / col("_cw").cast("double") *
        (col("_pc").cast("double") / col("_t").cast("double"))
  }

  /** DuckDB twin of `freeze(smoothing = "kn")` + [[scoreAgainst]]. */
  def scoreAgainstKnSql(trainTable: String, scoreTable: String): String =
    s"""WITH ${docCountCtesSql(trainTable, "_")},
       |$corpusCbSql,
       |$knModelCtesSql,
       |$knCostCteSql,
       |${docCountCtesSql(scoreTable, "_s")},
       |_sx AS (SELECT $idCol, _occ,
       |    coalesce(_c9, CASE WHEN _t > 0 THEN
       |      CAST(floor(-ln(
       |        CASE WHEN _cw IS NOT NULL AND _d > 0 THEN
       |          _d * CAST(_nt AS DOUBLE) / CAST(_cw AS DOUBLE)
       |            * (CAST(coalesce(_pc, 1) AS DOUBLE) / CAST(_t AS DOUBLE))
       |        ELSE CAST(coalesce(_pc, 1) AS DOUBLE) / CAST(_t AS DOUBLE)
       |        END) * $CostScale) AS BIGINT) END) AS _c9x
       |  FROM (SELECT *, ${knDiscountSql} AS _d
       |    FROM _sdb LEFT JOIN _cost ON _hb = _chb
       |      LEFT JOIN _ctx ON _h1 = _xh1
       |      LEFT JOIN _cont ON _h2 = _yh2 CROSS JOIN _tot)),
       |${frozenScoreTailSql(scoreTable)}""".stripMargin

  private def knDiscountSql: String =
    """CASE WHEN _n1 + 2 * _n2 > 0 THEN
      |        CAST(_n1 AS DOUBLE) / CAST(_n1 + 2 * _n2 AS DOUBLE)
      |      ELSE CAST(0 AS DOUBLE) END""".stripMargin

  // ---- shared DuckDB-twin CTE builders (one definition per count
  // table, mirrored from the Scala aggregates above; every twin
  // composes these instead of re-inlining the chain) ----

  /** `${p}ht/${p}oc/${p}db` — the doc-level bigram-count chain over
    * `table` (prefix "_" = the training/self side, "_s" = score side).
    */
  private def docCountCtesSql(table: String, p: String): String = {
    val toks = TextFunctions.tokensOfSql(textCol)
    def ph(e: String) = HashFunctions.portableHash64Sql(e)
    s"""${p}ht AS (SELECT $idCol,
       |    list_transform($toks, t -> ${ph("t")}) AS _hts FROM $table),
       |${p}oc AS (SELECT $idCol,
       |    _hts[i + 1] AS _h1, _hts[i + 2] AS _h2,
       |    ${BigramLm.mixPairSql("_hts[i + 1]", "_hts[i + 2]")} AS _hb
       |  FROM (SELECT $idCol, _hts,
       |        unnest(range(0, len(_hts) - 1)) AS i FROM ${p}ht)),
       |${p}db AS (SELECT $idCol, _hb, count(*) AS _occ,
       |    min(_h1) AS _h1, min(_h2) AS _h2
       |  FROM ${p}oc GROUP BY $idCol, _hb)""".stripMargin
  }

  /** `_cb` — corpus type counts over `_db` (the [[stagedCounts]] twin). */
  private def corpusCbSql: String =
    """_cb AS (SELECT _hb, CAST(sum(_occ) AS BIGINT) AS _cb,
      |    min(_h1) AS _ch1, min(_h2) AS _ch2
      |  FROM _db GROUP BY _hb)""".stripMargin

  /** `_ctx/_cont/_tot` — the KN model tables over `_cb`. */
  private def knModelCtesSql: String =
    """_ctx AS (SELECT _ch1 AS _xh1, CAST(sum(_cb) AS BIGINT) AS _cw,
      |    CAST(count(*) AS BIGINT) AS _nt
      |  FROM _cb GROUP BY 1),
      |_cont AS (SELECT _ch2 AS _yh2, CAST(count(*) AS BIGINT) AS _pc
      |  FROM _cb GROUP BY 1),
      |_tot AS (SELECT CAST(count(*) AS BIGINT) AS _t,
      |    CAST(sum(CASE WHEN _cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS _n1,
      |    CAST(sum(CASE WHEN _cb = 2 THEN 1 ELSE 0 END) AS BIGINT) AS _n2
      |  FROM _cb)""".stripMargin

  /** `_cost` — per-trained-bigram KN integer costs (the [[knProb]] twin). */
  private def knCostCteSql: String =
    s"""_cost AS (SELECT _hb AS _chb,
       |    CAST(floor(-ln(
       |      greatest(CAST(_cb AS DOUBLE) - _d, CAST(0 AS DOUBLE))
       |        / CAST(_cw AS DOUBLE)
       |      + _d * CAST(_nt AS DOUBLE) / CAST(_cw AS DOUBLE)
       |        * (CAST(_pc AS DOUBLE) / CAST(_t AS DOUBLE))
       |    ) * $CostScale) AS BIGINT) AS _c9
       |  FROM (SELECT *, ${knDiscountSql} AS _d
       |    FROM _cb JOIN _ctx ON _ch1 = _xh1
       |      JOIN _cont ON _ch2 = _yh2 CROSS JOIN _tot))""".stripMargin

  /** `_sc` over the SELF side (`_db ⋈ _cost`) plus the final per-row
    * SELECT — the tail every self-trained twin shares ([[groupedBits]]
    * + [[perRow]] in SQL).
    */
  private def selfScoreTailSql(table: String): String =
    s"""_sc AS (SELECT $idCol AS _sid, CAST(sum(_occ) AS BIGINT) AS _nb,
       |    CAST(sum(_occ * _c9) AS BIGINT) AS _s
       |  FROM _db JOIN _cost ON _hb = _chb GROUP BY 1)
       |${finalSelectSql(table)}""".stripMargin

  /** `_sc` over the frozen-scored side (`_sx`) plus the final per-row
    * SELECT — the tail both frozen-model twins share.
    */
  private def frozenScoreTailSql(table: String): String =
    s"""_sc AS (SELECT $idCol AS _sid, CAST(sum(_occ) AS BIGINT) AS _nb,
       |    CAST(sum(_occ * _c9x) AS BIGINT) AS _s
       |  FROM _sx GROUP BY 1)
       |${finalSelectSql(table)}""".stripMargin

  private def finalSelectSql(table: String): String =
    s"""SELECT t.$idCol, coalesce(_nb, 0) AS n_bigrams,
       |  CASE WHEN _nb > 0 AND _s IS NOT NULL
       |    THEN round(CAST(_s AS DOUBLE) / CAST(_nb AS DOUBLE) / 1e9, 6)
       |  END AS bits_per_bigram
       |FROM $table t LEFT JOIN _sc ON t.$idCol = _sid""".stripMargin

  /** DuckDB twin of [[knScores]] — the same hashed integer counts and
    * the same double expression tree for D and p.
    */
  def knSql(table: String): String =
    s"""WITH ${docCountCtesSql(table, "_")},
       |$corpusCbSql,
       |$knModelCtesSql,
       |$knCostCteSql,
       |${selfScoreTailSql(table)}""".stripMargin

  /** `(idCol, _h1, _h2, _hb)` — one row per bigram OCCURRENCE. One
    * corpus text scan: each TOKEN hashes ONCE (one md5 per token — not
    * three per bigram occurrence: at 100 TB the map-side hashing IS the
    * scan cost), and the bigram key is the overflow-safe constant mix
    * of the adjacent pair (the MinHash mixConstants discipline —
    * asymmetric, so "a b" never merges with "b a"; products < 2^60,
    * sum < 2^62 in both engines). The whole derivation is ONE codegen'd
    * kernel ([[graft.plans.kernels.TokenBigrams]]) feeding the explode
    * directly — no staged hash-array projection, no interpreted pair
    * HOF (the TextRepetition lesson's successor; see KernelSpec's
    * bit-identity pin against the declarative chain).
    */
  private def occurrences(df: DataFrame): DataFrame =
    // fully fused tokenize → hash → adjacent-pair kernel (r19): each
    // token hashes ONCE and the (h1, h2, bigram key) structs materialize
    // in the same JVM pass — bit-identical (KernelSpec pin) to the
    // former staged-hash-array + interpreted pair-transform HOF, which
    // re-entered element_at per element on the explode's input
    df.select(col(idCol),
        explode(graft.plans.kernels.token_bigrams(col(textCol))).as("_p"))
      .select(col(idCol), col("_p._h1").as("_h1"), col("_p._h2").as("_h2"),
        col("_p._hb").as("_hb"))

  /** Train the `smoothing` LM ("addone" | "kn") on `corpus` and FREEZE
    * it: the same single-scan staged pipeline as [[scores]] /
    * [[knScores]], but the model tables ([[BigramLm.FrozenTables]]) live
    * beyond the call so a streaming scorer can join micro-batches
    * against them per trigger — the KenLM-style run shape (train once
    * on a reference corpus, score the firehose, re-train periodically).
    * Scoring the training corpus itself through [[scoreAgainst]]
    * reproduces the self-trained scores bit-for-bit (every trained
    * bigram reads its frozen cost). Caller releases via
    * [[BigramLmModel.release]].
    */
  def freeze(corpus: DataFrame,
      smoothing: String = "addone"): BigramLmModel = graft.core.Staging.scoped {
    val names = BigramLm.frozenTables(smoothing)
    // cb only: the freeze never reads the per-doc table, and staging it
    // (the freeze's largest intermediate) for zero readers is pure
    // cache-write overhead (ADVICE r17)
    val cb = stagedCbOnly(corpus)
    val model = names.tail.map(n => n -> persisted(modelTable(smoothing, cb)(n))).toMap
    val cost = persisted(trainedCost(cb, smoothing, model))
    val m = BigramLmModel(smoothing, cost +: names.tail.map(model))
    // materialize INSIDE the scope (cb still cached), then the staged
    // intermediates release at scope exit while the model tables live on
    m.tables.foreach(_.count())
    m
  }

  // a model table outlives the freeze's staging scope
  private def persisted(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One of `smoothing`'s model tables (bar `cost`) by name, over the
    * corpus type counts `cb`.
    */
  private def modelTable(smoothing: String, cb: DataFrame)(name: String): DataFrame =
    (smoothing, name) match {
      case ("addone", "ctx") =>
        cb.groupBy(col("_ch1").as("_xh1")).agg(sum(col("_cb")).as("_cw"))
      case ("addone", "vocab") => vocabOf(cb)
      case ("kn", "ctx")       => knCtx(cb)
      case ("kn", "cont")      => knCont(cb)
      case ("kn", "tot")       => knTot(cb)
    }

  /** `rows` joined to a model's tables — the one join shape of training
    * and scoring: `ctx` on the first token hash `w1`, KN's `cont` on the
    * second `w2`, the one-row scalar (`vocab` | `tot`) broadcast.
    */
  private def joinModel(rows: DataFrame, smoothing: String,
      table: String => DataFrame, w1: String, w2: String, how: String): DataFrame = {
    val withCtx = rows.join(table("ctx"), col(w1) === col("_xh1"), how)
    smoothing match {
      case "addone" => withCtx.crossJoin(broadcast(table("vocab")))
      case "kn" => withCtx.join(table("cont"), col(w2) === col("_yh2"), how)
        .crossJoin(broadcast(table("tot")))
    }
  }

  /** Per-trained-bigram integer costs `(_chb, _c9)` over `cb` and the
    * model tables derived from it.
    */
  private def trainedCost(cb: DataFrame, smoothing: String,
      table: String => DataFrame): DataFrame =
    joinModel(cb, smoothing, table, "_ch1", "_ch2", "inner")
      .select(col("_hb").as("_chb"), costOf(trainedProb(smoothing)).as("_c9"))

  /** `p(w2|w1)` of a TRAINED bigram over its joined row. */
  private def trainedProb(smoothing: String): Column = smoothing match {
    case "addone" => (col("_cb").cast("double") + lit(1.0)) /
      (col("_cw").cast("double") + col("_v").cast("double"))
    case "kn" => knProb
  }

  /** The integer cost of an UNSEEN bigram over its left-joined row;
    * NULL when the model is empty (V = 0 | T = 0), never a
    * divide-by-zero.
    *  - addone: a SEEN context w1 backs off to the add-one floor
    *    `1/(c(w1,·)+V)`, a fully unseen context to `1/V` (c(w1,·)=0) —
    *    the exact add-one semantics [[scores]] would assign had the pair
    *    appeared 0 times in training.
    *  - kn: a SEEN context backs off to `λ(w1)·p_cont(w2)` with
    *    `λ(w1) = D·N1+(w1,·)/c(w1,·)` (the mass the discount freed); an
    *    UNSEEN context scores the continuation distribution alone. An
    *    unseen `w2` takes the minimum observable continuation mass `1/T`
    *    (`N1+(·,w2)` floored at 1 — the count it would hold had it been
    *    seen once). A degenerate D = 0 model (every trained bigram
    *    repeats ≥ 3×, so no discount mass exists) also backs off to the
    *    continuation distribution rather than scoring 0.
    */
  private def backoffCost(smoothing: String): Column = smoothing match {
    case "addone" => when(col("_v") > 0L, costOf(lit(1.0) /
      (coalesce(col("_cw"), lit(0L)).cast("double") + col("_v").cast("double"))))
    case "kn" =>
      val d = knDiscount
      val pcont = coalesce(col("_pc"), lit(1L)).cast("double") /
        col("_t").cast("double")
      val pBack = when(col("_cw").isNotNull && d > lit(0.0),
        d * col("_nt").cast("double") / col("_cw").cast("double") * pcont)
        .otherwise(pcont)
      when(col("_t") > 0L, costOf(pBack))
  }

  // a probability's integer micro-bit cost: floor(-log2 p · 1e9)
  private def costOf(p: Column): Column =
    floor(-log(p) * lit(CostScale)).cast("long")

  /** Score `df` under a FROZEN model — the streaming-twin scorer. Seen
    * bigrams read their trained integer cost; unseen ones take the
    * model's backoff cost (see [[backoffCost]]), so scoring the training
    * corpus itself reproduces the self-trained scores bit-for-bit.
    * Empty model: NULL score.
    *
    * Scale shape: the batch aggregates per (doc, bigram) first (map-side
    * combine), then one hash join on `cost`, one per context/word table
    * and one broadcast scalar — no training-corpus scan, no windows.
    */
  def scoreAgainst(df: DataFrame, m: BigramLmModel): DataFrame =
    perRow(df, frozenScores(df, m))

  /** Grouped frozen scores `(_blm_id, _blm_n, _blm_bits)` — ONE row per
    * doc with ≥ 1 bigram (the join-ready form, like [[scores]]), so a
    * refiner attaching onto rows with repeated ids never multiplies.
    */
  def frozenScores(df: DataFrame, m: BigramLmModel): DataFrame =
    joinModel(docCounts(df).join(m("cost"), col("_hb") === col("_chb"), "left"),
        m.smoothing, m(_), "_h1", "_h2", "left")
      .select(col(idCol), col("_occ"),
        coalesce(col("_c9"), backoffCost(m.smoothing)).as("_c9x"))
      .groupBy(col(idCol).as("_blm_id"))
      .agg(sum(col("_occ")).as("_nb"), sum(col("_occ") * col("_c9x")).as("_s"))
      .select(col("_blm_id"), col("_nb").as("_blm_n"),
        when(col("_nb") > 0L && col("_s").isNotNull,
          round(col("_s").cast("double") / col("_nb").cast("double") / lit(1e9), 6))
          .as("_blm_bits"))

  /** DuckDB twin of `freeze` + [[scoreAgainst]] (add-one): train on `trainTable`,
    * score `scoreTable` — the oracle for the frozen-model gate.
    */
  def scoreAgainstSql(trainTable: String, scoreTable: String): String =
    s"""WITH ${docCountCtesSql(trainTable, "_")},
       |$corpusCbSql,
       |$addoneModelCtesSql,
       |${docCountCtesSql(scoreTable, "_s")},
       |_sx AS (SELECT $idCol, _occ,
       |    coalesce(_c9, CASE WHEN _v > 0 THEN
       |      CAST(floor(-ln(1.0 / (CAST(coalesce(_cw, 0) AS DOUBLE)
       |        + CAST(_v AS DOUBLE))) * $CostScale) AS BIGINT) END) AS _c9x
       |  FROM _sdb LEFT JOIN _cost ON _hb = _chb
       |    LEFT JOIN _ctx ON _h1 = _xh1 CROSS JOIN _v),
       |${frozenScoreTailSql(scoreTable)}""".stripMargin

  /** `_ctx/_v/_cost` — the add-one model tables and costs over `_cb`/`_db`. */
  private def addoneModelCtesSql: String =
    s"""_ctx AS (SELECT _ch1 AS _xh1, CAST(sum(_cb) AS BIGINT) AS _cw
       |  FROM _cb GROUP BY 1),
       |_v AS (SELECT count(DISTINCT _th) AS _v
       |  FROM (SELECT unnest([_ch1, _ch2]) AS _th FROM _cb)),
       |_cost AS (SELECT _hb AS _chb,
       |    CAST(floor(-ln((CAST(_cb AS DOUBLE) + 1.0)
       |      / (CAST(_cw AS DOUBLE) + CAST(_v AS DOUBLE))) * $CostScale) AS BIGINT) AS _c9
       |  FROM _cb JOIN _ctx ON _ch1 = _xh1 CROSS JOIN _v)""".stripMargin

  // ---- DuckDB twin: the same hashed integer algebra ----

  def sql(table: String): String =
    s"""WITH ${docCountCtesSql(table, "_")},
       |$corpusCbSql,
       |$addoneModelCtesSql,
       |${selfScoreTailSql(table)}""".stripMargin
}

/** Registry/YAML form of the FROZEN-model path (r15): train the bigram
  * LM on an EXTERNAL reference corpus (path-loaded, the
  * [[graft.operators.ml.DsirScoreRefiner]] shape) and score every input
  * row against the frozen tables — the production split where the
  * reference distribution is a curated seed set, not the batch being
  * scored. Add-one only: it trains through [[BigramLm.freeze]] at its
  * default smoothing, and unseen bigrams back off per
  * [[BigramLm.scoreAgainst]] under that model. The model tables are
  * adopted into the consuming call path's staging scope
  * ([[graft.core.Staging.adopt]]) so Verify/Bench/PipelineRunner
  * release them after the run.
  */
final class BigramLmFrozenScoreRefiner(
    trainCorpus: org.apache.spark.sql.SparkSession => DataFrame,
    textCol: String = "text",
    idCol: String = "id",
    outCol: String = "bigram_lm_bits",
    countCol: String = "bigram_lm_n") extends graft.core.Operator {
  val name = "bigram_lm_score_frozen"

  def apply(df: DataFrame): DataFrame = attach(df, None)

  /** Disposition mode: the model is EXTERNAL, so dead rows don't shift
    * it either way — but they keep null score/count like the
    * self-trained refiner, so downstream disposition semantics match.
    */
  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    attach(df, Some(alive))

  private def attach(df: DataFrame, alive: Option[Column]): DataFrame = {
    val lm = new BigramLm(textCol, idCol)
    val m = lm.freeze(trainCorpus(df.sparkSession))
    m.tables.foreach(graft.core.Staging.adopt)
    val gate: Column => Column =
      c => alive.map(a => when(a, c)).getOrElse(c)
    df.join(lm.frozenScores(df, m), col(idCol) === col("_blm_id"), "left")
      .withColumn(countCol, gate(coalesce(col("_blm_n"), lit(0L))))
      .withColumn(outCol, gate(col("_blm_bits")))
      .drop("_blm_id", "_blm_n", "_blm_bits")
  }
}

object BigramLmFrozenScoreRefiner {
  /** Training corpus loaded lazily from a path (the YAML/registry path). */
  def fromPath(path: String, format: String,
      textCol: String = "text", idCol: String = "id",
      outCol: String = "bigram_lm_bits",
      countCol: String = "bigram_lm_n"): BigramLmFrozenScoreRefiner =
    new BigramLmFrozenScoreRefiner(
      spark => format match {
        case "parquet" => spark.read.parquet(path)
        case "jsonl"   => spark.read.json(path)
        case "csv"     => spark.read.option("header", "true").csv(path)
        case other     => throw new IllegalArgumentException(s"unknown train format: $other")
      },
      textCol, idCol, outCol, countCol)
}

/** Registry/YAML form: attaches `outCol` (bits per bigram, NULL when the
  * doc has < 2 tokens) and `countCol` to every input row — ONE join of
  * the grouped score table onto the input (the NgramLmScoreRefiner
  * shape), so repeated ids never multiply.
  */
final class BigramLmScoreRefiner(
    textCol: String = "text",
    idCol: String = "id",
    outCol: String = "bigram_lm_bits",
    countCol: String = "bigram_lm_n",
    smoothing: String = "addone") extends graft.core.Operator {
  require(Seq("addone", "kn", "mkn").contains(smoothing),
    s"unsupported smoothing '$smoothing' (addone | kn | mkn)")
  val name = "bigram_lm_score"

  def apply(df: DataFrame): DataFrame = attach(df, df, None)

  /** Disposition mode: the LM trains on ALIVE rows only — a document
    * rejected upstream never contributed counts in the sequential chain,
    * so it must not shift the corpus distribution here either (the
    * NgramLmScoreRefiner contract). Dead rows keep null score AND null
    * count.
    */
  override def applyGated(df: DataFrame, alive: Column): DataFrame =
    attach(df, df.filter(alive), Some(alive))

  private def attach(df: DataFrame, corpus: DataFrame,
      alive: Option[Column]): DataFrame = {
    val gate: Column => Column =
      c => alive.map(a => when(a, c)).getOrElse(c)
    val lm = new BigramLm(textCol, idCol)
    val scored = smoothing match {
      case "kn"  => lm.knScores(corpus)
      case "mkn" => lm.mknScores(corpus)
      case _     => lm.scores(corpus)
    }
    df.join(scored,
        col(idCol) === col("_blm_id"), "left")
      .withColumn(countCol, gate(coalesce(col("_blm_n"), lit(0L))))
      .withColumn(outCol, gate(col("_blm_bits")))
      .drop("_blm_id", "_blm_n", "_blm_bits")
  }
}
