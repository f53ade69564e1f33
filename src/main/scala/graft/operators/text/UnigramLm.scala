package graft.operators.text

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer induction (Kudo 2018, the SentencePiece
  * unigram algorithm) — the other major subword trainer next to
  * [[BpeVocabInduction]]: start from a large seed vocabulary of
  * frequent substrings, alternate EM (E: Viterbi-segment every word
  * under current piece log-probs; M: piece usage counts → new probs),
  * and prune the least-used pieces until `vocabSize` remain. Single
  * characters are never pruned (coverage guarantee: every word stays
  * segmentable).
  *
  * Same production shape as the BPE trainer: the DISTRIBUTED work is
  * the word-frequency table and the seed-substring counting (two-level
  * exact aggregations — shuffle bounded by distinct words/pieces, not
  * corpus tokens; the `unigram_seed_counts` gate hash-matches the
  * substring counting against DuckDB); the EM loop then runs
  * driver-side over the frequency-capped word table, which is how
  * SentencePiece itself trains (from word counts, not raw text).
  * Pruning uses the usage-count criterion (the loss-delta criterion's
  * cheap monotone proxy); ties everywhere break lexicographically so
  * the learned vocab is partition- and run-invariant.
  */
final class UnigramLmInduction(
    textCol: String = "text",
    seedMaxLen: Int = 4,
    seedSize: Int = 2000,
    vocabSize: Int = 60,
    emIters: Int = 3,
    maxVocabWords: Int = 100000,
    minWordFreq: Long = 1L) {

  require(seedMaxLen >= 2 && seedSize >= 1 && vocabSize >= 1 && emIters >= 1)

  /** Distributed word-frequency table, capped for the driver loop. */
  def wordFrequencies(df: DataFrame): DataFrame =
    df.select(explode(TextFunctions.tokensOf(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minWordFreq)
      .orderBy(col("freq").desc, col("w"))
      .limit(maxVocabWords)

  /** Distributed seed-substring counts: every substring of length
    * 1..seedMaxLen of every distinct word, weighted by word frequency
    * (all occurrence positions count). Exact BIGINTs; the gate surface.
    */
  def seedCounts(df: DataFrame, topK: Int): DataFrame = {
    val words = wordFrequencies(df)
    words
      .withColumn("_i", explode(sequence(lit(1), length(col("w")))))
      .withColumn("_l", explode(sequence(lit(1), lit(seedMaxLen))))
      .filter(col("_i") + col("_l") - 1 <= length(col("w")))
      .select(expr("substring(w, _i, _l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("piece_count"))
      .orderBy(col("piece_count").desc, col("piece"))
      .limit(topK)
  }

  /** DuckDB twin of [[seedCounts]] (same cap, same weighting). */
  def seedCountsSql(table: String, topK: Int): String =
    s"""WITH wf AS (SELECT w, count(*) AS freq FROM
       |    (SELECT unnest(${TextFunctions.tokensOfSql(textCol)}) AS w FROM $table)
       |  GROUP BY 1 HAVING count(*) >= $minWordFreq
       |  ORDER BY freq DESC, w LIMIT $maxVocabWords),
       |sub AS (SELECT unnest(flatten(list_transform(range(1, len(w) + 1),
       |      i -> list_transform(range(1, least($seedMaxLen, len(w) - i + 1) + 1),
       |        l -> substring(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece, freq
       |  FROM wf)
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS piece_count FROM sub
       |GROUP BY piece ORDER BY piece_count DESC, piece LIMIT $topK""".stripMargin

  /** Viterbi segmentation of `word` under piece log-probs: maximizes
    * Σ log p(piece); ties prefer the segmentation whose LAST piece is
    * longer (then recursively — deterministic because the piece loop
    * scans lengths ascending and strictly-greater updates let the
    * longest tying piece win).
    */
  def segment(word: String, logp: Map[String, Double]): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(i, seedMaxLen)) {
        val piece = word.substring(i - l, i)
        logp.get(piece) match {
          case Some(p) if best(i - l) + p >= best(i) && best(i - l) > Double.NegativeInfinity =>
            // >= with ascending l: the longest tying piece wins
            best(i) = best(i - l) + p
            back(i) = l
          case _ =>
        }
        l += 1
      }
      i += 1
    }
    if (back(n) < 0) return word.map(_.toString) // unreachable with char coverage
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += word.substring(pos - back(pos), pos); pos -= back(pos) }
    out.reverse.toSeq
  }

  /** Train: `(piece, log-prob)` vocabulary of exactly `vocabSize`
    * pieces (or fewer if the corpus is tiny), single chars always kept.
    */
  def train(df: DataFrame): Seq[(String, Double)] = {
    val words: Array[(String, Long)] = wordFrequencies(df).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val chars: Set[String] = words.flatMap(_._1.map(_.toString)).toSet
    // seed: top substrings by count (driver replay of seedCounts'
    // arithmetic over the same capped word table) + full char coverage
    val seedMap = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      for (i <- 0 until w.length; l <- 1 to math.min(seedMaxLen, w.length - i)) {
        val p = w.substring(i, i + l)
        seedMap.update(p, seedMap.getOrElse(p, 0L) + f)
      }
    }
    var counts: Map[String, Long] = {
      val top = seedMap.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize).toMap
      top ++ chars.map(c => c -> seedMap.getOrElse(c, 1L))
    }
    var iter = 0
    while (iter < emIters) {
      val total = counts.values.sum.toDouble
      val logp = counts.map { case (p, c) => p -> math.log(c / total) }
      // E-step: usage counts under Viterbi segmentation
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        segment(w, logp).foreach(p => usage.update(p, usage.getOrElse(p, 0L) + f))
      }
      // M+prune: keep the `vocabSize` most-used pieces (ties lexicographic),
      // chars unconditionally (smoothed to 1 when unused)
      val multi = usage.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - chars.size))
      counts = (multi ++ chars.map(c => c -> math.max(1L, usage.getOrElse(c, 0L)))).toMap
      iter += 1
    }
    val total = counts.values.sum.toDouble
    counts.toSeq.sortBy { case (p, c) => (-c, p) }
      .map { case (p, c) => p -> math.log(c / total) }
  }

  /** Tokenize one word with a trained vocab. */
  def encode(word: String, vocab: Seq[(String, Double)]): Seq[String] =
    segment(word, vocab.toMap)
}

/** Distributed Viterbi token COUNT under a seed unigram-LM vocabulary,
  * in ORACLE-PORTABLE form: the vocabulary is the top-K seed-substring
  * counts (the [[UnigramLmInduction.seedCounts]] table — fully
  * SQL-derivable, so the oracle re-derives it at any scale with zero
  * data-derived literals) with log-probs integer-scaled to
  * `floor(10⁶·ln(count/total))`, and the per-word DP is exact packed-
  * BIGINT arithmetic (`V[i] = max_l V[i−l] + lp·64 − 1`; the ·64−1
  * packing breaks score ties toward fewer pieces) — no float
  * COMPARISON ever decides a segmentation, so Spark and DuckDB agree
  * bit-for-bit. The float-free-ness matters: the trainer's own
  * segmentation ([[UnigramLmInduction.segment]]) compares summed doubles
  * and cannot be replayed by a second engine.
  *
  * Scale shape: vocab derivation is one distributed substring
  * aggregate capped at `topK` rows (driver holds K pairs); the count
  * itself is a stateless codegen'd per-row kernel — scan speed, no
  * shuffle, no broadcast beyond the plan-literal vocab.
  */
final class UnigramViterbiCount(
    textCol: String = "text",
    idCol: String = "doc_id",
    seedMaxLen: Int = 4,
    topK: Int = 200) {

  require(seedMaxLen >= 2 && topK >= 1)
  val name = "unigram_viterbi_count"
  private val induction = new UnigramLmInduction(textCol, seedMaxLen = seedMaxLen)

  /** The scaled vocab the kernel consumes: driver replay of the SQL
    * twin's `floor(1e6·ln(count/total))` over the seed table.
    */
  def vocabScaled(df: DataFrame): Seq[(String, Long)] = {
    val rows = induction.seedCounts(df, topK).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val total = rows.map(_._2).sum.toDouble
    rows.map { case (p, c) =>
      p -> math.floor(1e6 * math.log(c.toDouble / total)).toLong
    }.toSeq
  }

  /** `(idCol, n_words, viterbi_tokens)` per document, ordered. */
  def apply(df: DataFrame, vocab: Seq[(String, Long)]): DataFrame =
    df.select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).as("n_words"),
        graft.plans.kernels.unigram_scaled_token_count(
          coalesce(col(textCol), lit("")), vocab, seedMaxLen)
          .as("viterbi_tokens"))
      .orderBy(col(idCol))

  /** Pure-builtin reference form of the kernel (aggregate/zip_with
    * over the packed DP) — the semantics bridge: kernel ==
    * declarative (spec-pinned) and declarative == DuckDB twin (same
    * expression shapes), so kernel == DuckDB by transitivity. Not the
    * production path: `element_at` on a literal map is a linear scan
    * per lookup.
    */
  def countDeclarative(text: Column, vocab: Seq[(String, Long)]): Column = {
    val sent = lit(-(1L << 62))
    val m = typedLit(vocab.toMap)
    val toks = TextFunctions.tokensOf(text)
    def dpLast(w: Column): Column = {
      val dp = aggregate(
        sequence(lit(1), length(w)),
        array(lit(0L)),
        (acc, i) => {
          val cands = (1 to seedMaxLen).map { l =>
            when(i - lit(l) >= 0,
              coalesce(
                element_at(acc, (i - lit(l) + 1).cast("int")) +
                  element_at(m, substring(w, i - lit(l) + 1, lit(l))) * 64L - 1L,
                sent))
              .otherwise(sent)
          }
          array_append(acc, greatest(cands: _*))
        })
      element_at(dp, (length(w) + 1).cast("int"))
    }
    val counts = zip_with(toks, transform(toks, dpLast(_)), (w, v) =>
      when(length(w) > 63 || v <= lit(-(1L << 61)), length(w).cast("long"))
        .otherwise((-v) % 64L))
    aggregate(counts, lit(0L), (acc, x) => acc + x)
  }

  /** DuckDB twin: derives the scaled vocab from the corpus
    * ([[UnigramLmInduction.seedCountsSql]] + the same floor/ln scale)
    * and replays the packed DP per word via a list_reduce fold.
    */
  def sql(table: String): String = {
    val sent = s"CAST(${-(1L << 62)} AS BIGINT)"
    val cands = (1 to seedMaxLen).map { l =>
      s"""CASE WHEN x[1] - $l >= 0 THEN coalesce(
         |        acc[CAST(x[1] - $l + 1 AS INT)] +
         |          mp[substring(w, CAST(x[1] - $l + 1 AS INT), $l)][1] * 64 - 1,
         |        $sent) ELSE $sent END""".stripMargin
    }.mkString(",\n      ")
    val dp =
      s"""list_reduce(
         |    [[CAST(0 AS BIGINT)]] ||
         |      list_transform(range(1, CAST(len(w) AS BIGINT) + 1), i -> [CAST(i AS BIGINT)]),
         |    (acc, x) -> list_append(acc, greatest(
         |      $cands)))""".stripMargin
    val vLast = s"($dp)[CAST(len(w) + 1 AS INT)]"
    val counts =
      s"""list_transform(
         |  list_zip(toks, list_transform(toks, w -> $vLast)),
         |  z -> CASE WHEN len(z[1]) > 63 OR z[2] <= CAST(${-(1L << 61)} AS BIGINT)
         |    THEN CAST(len(z[1]) AS BIGINT)
         |    ELSE (-(z[2])) % 64 END)""".stripMargin
    s"""WITH _uvs AS MATERIALIZED (${induction.seedCountsSql(table, topK)}),
       |_uvt AS (SELECT CAST(sum(piece_count) AS BIGINT) AS tot FROM _uvs),
       |_uvm AS MATERIALIZED (SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS mp
       |  FROM (SELECT piece,
       |      CAST(floor(1e6 * ln(CAST(piece_count AS DOUBLE) / CAST(tot AS DOUBLE))) AS BIGINT) AS lp
       |    FROM _uvs CROSS JOIN _uvt)),
       |_uvd AS (SELECT $idCol, ${TextFunctions.tokensOfSql(textCol)} AS toks
       |  FROM $table)
       |SELECT $idCol, CAST(len(toks) AS BIGINT) AS n_words,
       |  CAST(coalesce(list_aggregate($counts, 'sum'), 0) AS BIGINT) AS viterbi_tokens
       |FROM _uvd CROSS JOIN _uvm ORDER BY $idCol""".stripMargin
  }
}
