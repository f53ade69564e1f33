package graft.operators.dedup

import graft.operators.Readout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LSH banding recall report — the TUNING instrument for the fuzzy-dedup
  * family: ground truth is every pair at exact shingle-Jaccard ≥
  * `threshold` (the prefix-filtered AllPairs join, no cap), and the
  * measurement is which of those pairs the (numHashes, numBands) banding
  * actually probes (share ≥ 1 band key). One row out:
  * `(true_pairs, caught_pairs, recall)`. Run it on a sample before
  * committing a banding config to a 100 TB pass — the S-curve math says
  * `P[probe] = 1-(1-j^r)^b`, this measures it on YOUR corpus.
  *
  * `sampleMod` is REQUIRED (no default): the exact truth tier is
  * quadratic in hot-shingle doc frequency. Sampling and recall follow
  * the [[graft.operators.Readout]] contract (`idCol % sampleMod == 0`,
  * recall NULL on an empty sampled truth set); banding probes pairs
  * independently, so the sampled recall estimates corpus recall.
  *
  * Scale shape: truth pairs ride the prefix-filtered posting join
  * (output-bounded); band keys are the standard per-row signature
  * explode; the caught set is truth ⋈ bands on both sides — truth is
  * the small side by construction.
  */
final class LshRecall(
    textCol: String = "text",
    idCol: String = "id",
    shingleWidth: Int = 3,
    numHashes: Int = 16,
    numBands: Int = 4,
    threshold: Double = 0.8,
    sampleMod: Int,
    signatureScheme: String = "kmin") {

  require(sampleMod >= 1, s"sampleMod $sampleMod must be >= 1")

  private val truthOp = new NgramJaccardDedup(
    textCol, idCol, shingleWidth, threshold, maxDocFreq = None)
  private val lshOp = new MinHashLSHDedup(
    textCol, idCol, shingleWidth, numHashes, numBands, threshold,
    portableHashes = true, signatureScheme = signatureScheme)

  def report(df: DataFrame): DataFrame = {
    val in = if (sampleMod == 1) df else df.filter(col(idCol) % sampleMod === 0)
    val truth = truthOp.verifiedPairs(in).select(col("d1"), col("d2"))
    val bands = lshOp.banded(in).select(col("_id"), col("_bkey"))
    val caught = truth
      .join(bands.select(col("_id").as("d1"), col("_bkey")), Seq("d1"))
      .join(bands.select(col("_id").as("d2"), col("_bkey")), Seq("d2", "_bkey"))
      .select(col("d1"), col("d2")).distinct()
    truth.agg(count(lit(1)).as("true_pairs"))
      .crossJoin(caught.agg(count(lit(1)).as("caught_pairs")))
      .select(col("true_pairs"), col("caught_pairs"),
        Readout.recall(col("caught_pairs"), col("true_pairs")).as("recall"))
  }

  /** DuckDB twin: same truth join, same signature/band algebra. */
  def sql(table: String): String = {
    val sampled =
      if (sampleMod == 1) table
      else s"(SELECT * FROM $table WHERE $idCol % $sampleMod = 0)"
    val sig = lshOp.sigCtes(sampled, "lr")
    val bands = lshOp.bandsCte("lr")
    s"""WITH $sig,
       |$bands,
       |lrex AS (SELECT id, unnest(h) AS g FROM lrhv),
       |lrsz AS (SELECT id, len(h) AS n FROM lrhv),
       |lrp AS (SELECT a.id AS d1, b.id AS d2, count(*) AS i
       |  FROM lrex a JOIN lrex b ON a.g = b.g AND a.id < b.id
       |  GROUP BY 1, 2),
       |lrtruth AS (SELECT d1, d2 FROM lrp
       |  JOIN lrsz sa ON sa.id = d1 JOIN lrsz sb ON sb.id = d2
       |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $threshold),
       |lrcaught AS (SELECT DISTINCT t.d1, t.d2 FROM lrtruth t
       |  JOIN lrbands x ON x.id = t.d1
       |  JOIN lrbands y ON y.id = t.d2 AND y.bkey = x.bkey)
       |SELECT (SELECT count(*) FROM lrtruth) AS true_pairs,
       |  (SELECT count(*) FROM lrcaught) AS caught_pairs,
       |  ${Readout.recallSql("(SELECT count(*) FROM lrcaught)",
                             "(SELECT count(*) FROM lrtruth)")} AS recall""".stripMargin
  }
}
