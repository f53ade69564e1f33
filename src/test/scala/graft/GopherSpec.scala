package graft

import graft.operators.text.{GopherQuality, GopherQualityFilter, GopherQualityRefiner}
import org.apache.spark.sql.functions._

/** Per-rule coverage of the Gopher quality battery: one crafted document
  * per rule, failing ONLY that rule (except where a rule-breaker can't
  * help tripping a neighbor, noted inline), plus a base document passing
  * all seven. Thresholds are the spec defaults with minWords lowered so
  * the fixtures stay readable.
  */
class GopherSpec extends ScopedSuite {
  import TestSpark._

  private val base =
    "The data pipeline runs well and we have that covered with care for everyone today."

  private val rows = Seq(
    (0L, base),                                                      // passes all
    (1L, "too short."),                                              // rule 1: word count < 5
    (2L, "a " * 39 + "a"),                                           // rule 2: mean len 1 < 3 (also 7)
    (3L, base + " see ##### more ##### here ##### now ##### ok."),   // rule 3: 20/# over ~21 words
    (4L, Array.fill(10)("• bullet item line here").mkString("\n") + "\n" + base), // rule 4: 10/11 bullets
    (5L, "First line runs on and on with that habit...\n" + base.dropRight(1) + "..."), // rule 5: 2/2 ellipsis
    (6L, "the of " + (11 to 40).map(_.toString).mkString(" ")),      // rule 6: 2 alpha / 32
    (7L, "data rows columns tables queries merge sort scan filter join")) // rule 7: 0 stopwords

  private def df = {
    import TestSpark.spark.implicits._
    rows.toDF("id", "text")
  }

  private val op = new GopherQualityRefiner("text", minWords = 5,
    maxWords = 100000, minStopwords = 2)

  test("each rule fires exactly on its crafted document") {
    val out = op(df).collect().map(r =>
      r.getAs[Long]("id") -> r).toMap

    assert(out(0L).getAs[Boolean]("gopher_keep"))
    // rule 1: word count
    assert(out(1L).getAs[Long]("gopher_word_count") == 2L)
    assert(!out(1L).getAs[Boolean]("gopher_keep"))
    // rule 2: mean word length
    assert(out(2L).getAs[Double]("gopher_mean_word_len") == 1.0)
    assert(!out(2L).getAs[Boolean]("gopher_keep"))
    // rule 3: symbol ratio
    assert(out(3L).getAs[Double]("gopher_symbol_ratio") > 0.1)
    assert(!out(3L).getAs[Boolean]("gopher_keep"))
    // rule 4: bullet lines
    assert(out(4L).getAs[Double]("gopher_bullet_line_frac") > 0.9)
    assert(!out(4L).getAs[Boolean]("gopher_keep"))
    // rule 5: ellipsis line endings
    assert(out(5L).getAs[Double]("gopher_ellipsis_line_frac") > 0.3)
    assert(!out(5L).getAs[Boolean]("gopher_keep"))
    // rule 6: alphabetic word fraction
    assert(out(6L).getAs[Double]("gopher_alpha_word_frac") < 0.8)
    assert(!out(6L).getAs[Boolean]("gopher_keep"))
    // rule 7: distinct stopwords
    assert(out(7L).getAs[Long]("gopher_stopword_hits") == 0L)
    assert(!out(7L).getAs[Boolean]("gopher_keep"))
  }

  test("every non-base rule document fails ONLY its intended signal band") {
    val out = op(df).collect().map(r => r.getAs[Long]("id") -> r).toMap
    // the base doc's signals sit inside every band
    val b = out(0L)
    assert(b.getAs[Long]("gopher_word_count") >= 5L)
    assert(b.getAs[Double]("gopher_mean_word_len") >= 3.0 &&
      b.getAs[Double]("gopher_mean_word_len") <= 10.0)
    assert(b.getAs[Double]("gopher_symbol_ratio") <= 0.1)
    assert(b.getAs[Double]("gopher_bullet_line_frac") <= 0.9)
    assert(b.getAs[Double]("gopher_ellipsis_line_frac") <= 0.3)
    assert(b.getAs[Double]("gopher_alpha_word_frac") >= 0.8)
    assert(b.getAs[Long]("gopher_stopword_hits") >= 2L)
    // the symbol-ratio doc stays inside the OTHER bands
    assert(out(3L).getAs[Double]("gopher_alpha_word_frac") >= 0.8)
    assert(out(3L).getAs[Long]("gopher_stopword_hits") >= 2L)
    // the bullet doc's word population still reads as text
    assert(out(4L).getAs[Double]("gopher_alpha_word_frac") >= 0.8)
  }

  test("filter form drops exactly the refiner's gopher_keep=false rows") {
    val f = new GopherQualityFilter("text", minWords = 5,
      maxWords = 100000, minStopwords = 2)
    val keptIds = f(df).select("id").collect().map(_.getLong(0)).toSet
    val refinerKeep = op(df).filter(col("gopher_keep"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keptIds == refinerKeep)
    assert(keptIds == Set(0L))
    // rejected complement carries filter provenance
    val rej = f.rejected(df)
    assert(rej.count() == rows.size - 1)
    assert(rej.select(col("_rejection_details.operator")).distinct()
      .head().getString(0) == "gopher_quality_filter")
  }

  test("null text flows through as empty and is rejected, never dropped") {
    import TestSpark.spark.implicits._
    val withNull = Seq((0L, base), (1L, null.asInstanceOf[String])).toDF("id", "text")
    val out = op(withNull).collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out.contains(1L), "null-text row must not vanish")
    assert(out(1L).getAs[Long]("gopher_word_count") == 0L)
    assert(!out(1L).getAs[Boolean]("gopher_keep"))
    val f = new GopherQualityFilter("text", 5, 100000, 2)
    val rejIds = f.rejected(withNull).select("id").collect().map(_.getLong(0)).toSet
    assert(rejIds.contains(1L), "null-text row must land in the rejects")
  }

  test("quality vote: agreement-of-2 keeps only multi-rater winners; nulls abstain") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    val op = new graft.operators.text.QualityVote(
      Seq(col("a"), col("b"), col("c")), minVotes = 2, idCol = "id")
    val df = Seq(
      (1L, Some(true), Some(true), Some(false)),  // 2 votes -> keep
      (2L, Some(true), Some(false), Some(false)), // 1 vote  -> drop
      (3L, Some(true), None, Some(true)),         // null abstains, 2 -> keep
      (4L, None, None, None)                      // all abstain -> drop
    ).toDF("id", "a", "b", "c")
    val out = op(df).collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out == Map(1L -> ((2, true)), 2L -> ((1, false)),
      3L -> ((2, true)), 4L -> ((0, false))))
  }
}
