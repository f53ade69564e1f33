package graft

import graft.core.{Disposition, Rejection}
import graft.operators.dedup.TextExactDedup
import graft.operators.text.TextLengthFilter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LeafNode
import org.apache.spark.sql.functions._

/** Single-pass reject disposition (core.Disposition + the runner's
  * rejectedEnabled path): mark-don't-drop must agree row-for-row with the
  * sequential apply/rejected chain, and the whole passed+rejected lineage
  * must read the source exactly once (the reference replays the chain per
  * stage — the scale defect this mode removes).
  */
class DispositionSpec extends ScopedSuite {
  import TestSpark._

  private val filterOp = new TextLengthFilter(100L, Some(400L), "text", Some("n_chars"))
  private val dedupOp = TextExactDedup("text", idCol = "doc_id", orderCol = "doc_id")

  private def chain(docs: DataFrame): DataFrame = {
    var df = Disposition.init(docs)
    df = Disposition.step(df, filterOp, "_t0")
    Disposition.step(df, dedupOp, "_t1")
  }

  test("disposition passed equals the sequential chain") {
    val docs = table("documents")
    val sequential = dedupOp(filterOp(docs)).select("doc_id")
    val disposition = Disposition.passed(chain(docs)).select("doc_id")
    assert(disposition.exceptAll(sequential).isEmpty &&
      sequential.exceptAll(disposition).isEmpty)
  }

  test("disposition rejects equal the union of sequential complements") {
    // plant exact-text duplicates under fresh ids so BOTH operators reject
    val base = table("documents")
    val docs = base.unionByName(
      base.limit(40).withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val seqFilter = filterOp.rejected(docs)
    val seqDedup = dedupOp.rejected(filterOp(docs))
    val disp = Disposition.rejected(chain(docs)).persist()
    try {
      val dispByOp = disp
        .groupBy(col(s"${Rejection.ColName}.operator").as("op")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = Map(
        filterOp.name -> seqFilter.count(), dedupOp.name -> seqDedup.count())
        .filter(_._2 > 0)
      assert(expected.size == 2, "fixture must reject through both operators")
      assert(dispByOp == expected)
      // dedup rejects carry the kept row's id as representative
      val reps = disp.filter(col(s"${Rejection.ColName}.reason") === "duplicate")
        .select(col(s"${Rejection.ColName}.representative_id"))
      val seqReps = seqDedup.select(col(s"${Rejection.ColName}.representative_id"))
      assert(reps.exceptAll(seqReps).isEmpty && seqReps.exceptAll(reps).isEmpty)
    } finally disp.unpersist()
  }

  test("passed + rejected cover the input exactly once per row") {
    val docs = table("documents")
    val annotated = chain(docs)
    val total = Disposition.passed(annotated).count() +
      Disposition.rejected(annotated).count()
    assert(total == docs.count())
  }

  test("blocklist filter marks via left join, agreeing with apply/rejected") {
    import spark.implicits._
    val docs = table("documents").withColumn("url",
      concat(lit("http://"),
        when(col("doc_id") % 3 === 0, lit("sub.spam.net")).otherwise(lit("ok.org")),
        lit("/page")))
    val blocklist = Seq("example.com", "spam.net").toDF("domain")
    val op = new graft.operators.text.DomainBlocklistFilter(blocklist, idCol = "doc_id")
    var d = Disposition.init(docs)
    d = Disposition.step(d, op, "_b0")
    val passedIds = Disposition.passed(d).select("doc_id").as[Long].collect().toSet
    val seqIds = op(docs).select("doc_id").as[Long].collect().toSet
    assert(passedIds == seqIds)
    val rejected = Disposition.rejected(d)
    assert(rejected.count() == op.rejected(docs).count())
    assert(rejected.select(col(s"${Rejection.ColName}.reason")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("filtered"))
  }

  test("refiners after a reject are gated: dead rows keep null enrichment") {
    import graft.sources.SyntheticImages
    val idFilter = new graft.core.RowFilter {
      val name = "keep_small_ids"
      def keep(df: DataFrame) = col("id") < 30
    }
    var d = Disposition.init(SyntheticImages.df(spark))
    d = Disposition.step(d, idFilter, "_g0")
    d = Disposition.step(d, new graft.operators.image.ImageMetadataRefiner("image"), "_g1")
    // alive rows carry computed metadata, identical to the sequential chain
    val passed = Disposition.passed(d)
    val seq = new graft.operators.image.ImageMetadataRefiner("image")(
      SyntheticImages.df(spark).filter(col("id") < 30))
    assert(passed.select("id", "image_width", "image_format")
      .exceptAll(seq.select("id", "image_width", "image_format")).isEmpty)
    // dead rows never reached the refiner: enrichment is null, decode skipped
    val deadMeta = Disposition.rejected(d)
      .select(col("image_width"), col("image_format")).collect()
    assert(deadMeta.nonEmpty && deadMeta.forall(r => r.isNullAt(0) && r.isNullAt(1)))
  }

  test("corpus-global refiners train on alive rows only, matching sequential") {
    import spark.implicits._
    // doc 0 and doc 10 share a tail (and a boilerplate line); doc 0 is
    // filtered upstream. Sequentially, the survivors' corpus holds ONE
    // copy: dup_ngram must not remove the tail from doc 10, line_dedup
    // must keep the shared line in doc 10 (not award it to dead doc 0),
    // and the LM trains without doc 0's tokens.
    val tail = " alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (0L, "drop me" + tail + "\nshared boilerplate line of text"),
      (10L, "keep me around here" + tail + "\nshared boilerplate line of text"),
      (20L, "another surviving document with plain words\nunique line twenty"),
      (30L, "a third surviving document full of words\nunique line thirty"))
      .toDF("doc_id", "text")
    val idFilter = new graft.core.RowFilter {
      val name = "drop_doc_zero"
      def keep(df: DataFrame) = col("doc_id") =!= 0L
    }
    val dupOp = new graft.operators.text.DupNgramRefiner(
      "text", "doc_id", ngramWidth = 8, minCount = 2)
    val lineOp = new graft.operators.text.LineDedupRefiner(
      "text", "doc_id", "doc_id", minLineLength = 5, hashName = "portable")
    val lmOp = new graft.operators.text.NgramLmScoreRefiner("text", "doc_id")

    val seq = lmOp(lineOp(dupOp(idFilter(docs))))
      .select("doc_id", "dup_ngram_count", "text_dedup_spans",
        "text_line_deduped", "lines_removed", "lm_logprob_avg")
    var d = Disposition.init(docs)
    d = Disposition.step(d, idFilter, "_c0")
    d = Disposition.step(d, dupOp, "_c1")
    d = Disposition.step(d, lineOp, "_c2")
    d = Disposition.step(d, lmOp, "_c3")
    val disp = Disposition.passed(d)
      .select("doc_id", "dup_ngram_count", "text_dedup_spans",
        "text_line_deduped", "lines_removed", "lm_logprob_avg")
    assert(disp.exceptAll(seq).isEmpty && seq.exceptAll(disp).isEmpty,
      s"disposition:\n${disp.collect().mkString("\n")}\nsequential:\n${seq.collect().mkString("\n")}")
    // the dead doc's tail must NOT have been counted: doc 10 keeps it
    val d10 = disp.filter(col("doc_id") === 10L).head()
    assert(d10.getAs[Long]("dup_ngram_count") == 0L, d10)
    assert(d10.getAs[String]("text_line_deduped").contains("shared boilerplate"), d10)
    // dead rows carry null corpus outputs (never computed)
    val dead = Disposition.rejected(d)
      .select("dup_ngram_count", "text_line_deduped", "lm_logprob_avg").head()
    assert(dead.isNullAt(0) && dead.isNullAt(1) && dead.isNullAt(2), dead)
  }

  test("single source scan: the annotated chain has one relation leaf") {
    val leaves = chain(table("documents")).queryExecution.optimizedPlan
      .collect { case l: LeafNode => l }
    assert(leaves.size == 1, s"expected 1 scan leaf, got: $leaves")
  }
}
