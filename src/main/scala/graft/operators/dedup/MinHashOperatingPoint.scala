package graft.operators.dedup

import graft.operators.Readout
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CONSUMABLE operating point for MinHash band/row geometry (r16,
  * VERDICT r15 #4) — completes the tuner family: sign-LSH probes have
  * `multiprobe_operating_point`, mutual-kNN band count has
  * `mutual_knn_or_operating_point`, and this gives the tier real
  * pipelines use most a config row instead of only the
  * [[LshRecall]] readout. For a FIXED `numHashes`-long signature,
  * every divisor geometry `(bands b, rows_per_band numHashes/b)` is
  * evaluated at once; `chosen` follows the [[graft.operators.Readout]]
  * rule over the band count (fewest bands = cheapest candidate mass),
  * default b=1. One row per geometry: `(bands, rows_per_band, true_pairs,
  * caught_pairs, cand_pairs, recall, chosen)` — recall from ground
  * truth, candidate mass from bucket counts, side by side: the full
  * S-curve trade `P[probe] = 1-(1-j^r)^b` measured on YOUR corpus.
  *
  * Recall is MONOTONE along any NESTED divisor chain: when b divides
  * b' every b-band is a union of full b'-bands, so a pair agreeing on
  * a whole b-band agrees on each of its sub-bands and caught(b) ⊆
  * caught(b') — for a prime-power `numHashes` (the shipped 8/16) the
  * whole divisor chain nests, so recall is monotone across the full
  * report (pinned in DedupSpec). For a composite `numHashes` the chain
  * does NOT nest everywhere (e.g. numHashes=30: the b=5 band [6..11]
  * contains no full b=6 band), so adjacent rows can locally dip;
  * `chosen` remains well-defined either way — it reads measured
  * recalls, not the monotone assumption (ADVICE r16).
  *
  * Scale shape — ONE corpus scan serves every geometry: signatures
  * compute once and stage (the scan cost IS the shingle+hash kernel;
  * re-scanning per geometry would multiply it by the divisor count);
  * truth rides the prefix-filtered posting join (output-bounded,
  * sampleMod-REQUIRED like every quadratic truth tier) and joins the
  * signature table twice BY ID — per-geometry agreement is then pure
  * codegen'd expression work over the two arrays, never a per-geometry
  * band join. Candidate mass per geometry comes from bucket COUNTS
  * over one bounded explode (Σ divisors band rows per doc), never by
  * running any pair join — the [[graft.operators.vector
  * .EmbeddingCosineDedup.probedClusterStats]] discipline.
  */
final class MinHashOperatingPoint(
    textCol: String = "text",
    idCol: String = "id",
    shingleWidth: Int = 3,
    numHashes: Int = 16,
    threshold: Double = 0.8,
    targetRecall: Double = 0.9,
    sampleMod: Int,
    signatureScheme: String = "kmin") {

  require(sampleMod >= 1, s"sampleMod $sampleMod must be >= 1")
  require(numHashes >= 1, s"numHashes $numHashes must be >= 1")

  /** Ascending divisor chain of `numHashes`: every evaluated geometry. */
  val geometries: Seq[Int] = (1 to numHashes).filter(numHashes % _ == 0)

  private val truthOp = new NgramJaccardDedup(
    textCol, idCol, shingleWidth, threshold, maxDocFreq = None)
  private val lshOp = new MinHashLSHDedup(
    textCol, idCol, shingleWidth, numHashes, numBands = numHashes, threshold,
    portableHashes = true, signatureScheme = signatureScheme)

  /** `m1[i*r..]` agrees with `m2` on ≥ 1 of the b bands. */
  private def agree(b: Int): Column = {
    val r = numHashes / b
    (0 until b).map { i =>
      (0 until r).map(p =>
        element_at(col("_m1"), i * r + p + 1) ===
          element_at(col("_m2"), i * r + p + 1)).reduce(_ && _)
    }.reduce(_ || _)
  }

  def report(df: DataFrame): DataFrame = {
    val in = if (sampleMod == 1) df else df.filter(col(idCol) % sampleMod === 0)
    // staged: consumed by the two truth-side joins AND the mass explode —
    // unstaged, the shingle+minhash kernel would re-run per consumer
    val sigs = graft.core.Staging.stage(lshOp.signatures(in))
    val truth = truthOp.verifiedPairs(in).select(col("d1"), col("d2"))
    val paired = truth
      .join(sigs.select(col("_id").as("d1"), col("_m").as("_m1")), Seq("d1"))
      .join(sigs.select(col("_id").as("d2"), col("_m").as("_m2")), Seq("d2"))
    val hits = paired.agg(count(lit(1)).as("true_pairs"),
      geometries.map(b => count(when(agree(b), lit(1))).as(s"_c$b")): _*)
    // ordered candidate-pair mass per geometry from bucket counts (the
    // production string band keys, band-index-prefixed like the operator)
    val bandStructs: Seq[Column] = geometries.flatMap { b =>
      val r = numHashes / b
      (0 until b).map { i =>
        struct(lit(b).as("_g"),
          concat_ws("_", (lit(i): Column) +: (0 until r).map(p =>
            element_at(col("_m"), i * r + p + 1)): _*).as("_bkey"))
      }
    }
    val mass = sigs.select(explode(array(bandStructs: _*)).as("_gb"))
      .select(col("_gb._g").as("_g"), col("_gb._bkey").as("_bkey"))
      .groupBy(col("_g"), col("_bkey")).agg(count(lit(1)).as("_c"))
      .groupBy(col("_g")).agg(sum(col("_c") * (col("_c") - 1)).as("_mass"))
    val spine = hits.select(col("true_pairs"),
      explode(array(geometries.map(b =>
        struct(lit(b).as("bands"), lit(numHashes / b).as("rows_per_band"),
          col(s"_c$b").as("caught_pairs"))): _*)).as("_lv"))
      .select(col("_lv.bands").as("bands"),
        col("_lv.rows_per_band").as("rows_per_band"),
        col("true_pairs"), col("_lv.caught_pairs").as("caught_pairs"))
    val scored = spine.join(broadcast(mass), col("bands") === col("_g"), "left")
      .select(col("bands"), col("rows_per_band"), col("true_pairs"),
        col("caught_pairs"),
        coalesce(col("_mass"), lit(0L)).as("cand_pairs"),
        Readout.recall(col("caught_pairs"), col("true_pairs")).as("recall"))
    Readout.chosen(scored, "bands", targetRecall, default = 1)
  }

  // ---- DuckDB twin: same signature algebra, same geometry spine ----

  def sql(table: String): String = {
    val sampled =
      if (sampleMod == 1) table
      else s"(SELECT * FROM $table WHERE $idCol % $sampleMod = 0)"
    def agreeSql(b: Int): String = {
      val r = numHashes / b
      (0 until b).map { i =>
        "(" + (0 until r).map(p =>
          s"m1[${i * r + p + 1}] = m2[${i * r + p + 1}]").mkString(" AND ") + ")"
      }.mkString("(", " OR ", ")")
    }
    val hitCols = geometries.map(b =>
      s"CAST(count(CASE WHEN ${agreeSql(b)} THEN 1 END) AS BIGINT) AS c$b")
      .mkString(",\n       |    ")
    val massCtes = geometries.map { b =>
      val r = numHashes / b
      val key = s"CAST(b AS VARCHAR) " + (0 until r).map(i =>
        s"|| '_' || CAST(m[b*$r+${i + 1}] AS VARCHAR)").mkString(" ")
      s"""mob$b AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS mass FROM (
         |  SELECT count(*) AS c FROM (
         |    SELECT $key AS bkey, b FROM mosig
         |    CROSS JOIN (SELECT unnest(range(0, $b)) AS b) gbs$b)
         |  GROUP BY b, bkey))""".stripMargin
    }.mkString(",\n")
    val levels = geometries.map(b =>
      s"""SELECT CAST($b AS INTEGER) AS bands, CAST(${numHashes / b} AS INTEGER) AS rows_per_band,
         |  true_pairs, c$b AS caught_pairs,
         |  coalesce((SELECT mass FROM mob$b), 0) AS cand_pairs FROM mohits""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH ${lshOp.sigCtes(sampled, "mo")},
       |moex AS (SELECT id, unnest(h) AS g FROM mohv),
       |mosz AS (SELECT id, len(h) AS n FROM mohv),
       |mop AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
       |  FROM moex a JOIN moex b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2),
       |motruth AS (SELECT d1, d2 FROM mop
       |  JOIN mosz sa ON sa.id = d1 JOIN mosz sb ON sb.id = d2
       |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold),
       |mopair AS (SELECT t.d1, t.d2, a.m AS m1, b.m AS m2
       |  FROM motruth t JOIN mosig a ON a.id = t.d1 JOIN mosig b ON b.id = t.d2),
       |mohits AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs,
       |    $hitCols
       |  FROM mopair),
       |$massCtes,
       |_lv AS ($levels),
       |_sc AS (SELECT bands, rows_per_band, true_pairs, caught_pairs, cand_pairs,
       |    ${Readout.recallSql("caught_pairs", "true_pairs")} AS recall
       |  FROM _lv),
       |${Readout.chosenSql(Seq("bands", "rows_per_band", "true_pairs",
            "caught_pairs", "cand_pairs", "recall"), "bands", targetRecall, 1)}""".stripMargin
  }
}
