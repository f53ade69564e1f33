package graft

import graft.operators.ml.DsirScoreRefiner
import org.apache.spark.sql.functions._

/** DSIR importance scoring: the score must actually rank target-like
  * documents above off-domain ones, and selection must be reproducible.
  */
class DsirSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  // target domain: cooking. raw corpus: cooking docs + astronomy docs.
  private val targetDf = Seq(
    "stir the sauce and simmer the onions in butter",
    "bake the bread dough with flour yeast and salt",
    "chop the garlic and fry it with olive oil slowly",
    "season the roast and simmer gently in the pan")
    .toDF("text")

  private val raw = Seq(
    (1L, "simmer the onions then bake the dough with flour and salt"),
    (2L, "chop garlic fry with olive oil season the roast"),
    (3L, "the telescope resolves distant galaxies and nebulae tonight"),
    (4L, "orbital mechanics of binary pulsars emit gravitational waves"),
    (5L, ""))
    .toDF("doc_id", "text")

  private def op = new DsirScoreRefiner(_ => targetDf, textCol = "text",
    buckets = 1 << 10)

  test("target-domain docs outscore off-domain docs; empty text scores 0") {
    val scores = op(raw).select(col("doc_id"), col("dsir_logw"))
      .as[(Long, Double)].collect().toMap
    assert(scores(1L) > scores(3L) && scores(1L) > scores(4L))
    assert(scores(2L) > scores(3L) && scores(2L) > scores(4L))
    assert(scores(5L) == 0.0)
  }

  test("alpha smoothing keeps unseen-bucket ratios finite") {
    // doc 4 shares no grams with the target: every one of its buckets
    // is unseen in the target fit, so without smoothing the ratio would
    // be log(0). The score must be finite and negative.
    val s = op(raw).filter(col("doc_id") === 4L)
      .select(col("dsir_logw")).as[Double].head()
    assert(!s.isNaN && !s.isInfinite && s < 0.0)
  }
}
