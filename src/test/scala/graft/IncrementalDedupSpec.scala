package graft

import graft.core.Disposition
import graft.operators.dedup.IncrementalExactDedup
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  private def inc = table("documents").select("doc_id", "text")
  private def prior = inc.filter(col("doc_id") % 5 === 0)

  private def op(bloom: Boolean) = new IncrementalExactDedup(
    prior = Some(prior), textCol = "text", idCol = "doc_id",
    hashAlgorithm = "portable", useBloom = bloom)

  test("exact mode drops exactly the rows whose key exists in the prior snapshot") {
    val kept = op(bloom = false)(inc).select("doc_id").as[Long].collect().toSet
    // every prior row's own id must be gone from the increment
    val priorIds = prior.select("doc_id").as[Long].collect().toSet
    assert(priorIds.intersect(kept).isEmpty)
    assert(kept.nonEmpty)
    // kept + rejected partitions the increment
    val rej = op(bloom = false).rejected(inc)
    assert(kept.size + rej.count() == inc.count())
    assert(rej.select(col(graft.core.Rejection.ColName).getField("operator"))
      .distinct().as[String].collect().toSeq == Seq("incremental_exact_dedup"))
  }

  test("bloom mode has no false negatives and a bounded false-positive rate") {
    val exactKept = op(bloom = false)(inc).select("doc_id").as[Long].collect().toSet
    val bloomKept = op(bloom = true)(inc).select("doc_id").as[Long].collect().toSet
    // the hard guarantee: bloom can only over-drop, never under-drop —
    // every key the exact join drops is IN the filter
    assert(bloomKept.subsetOf(exactKept))
    // false positives are a statistical event (one realized FP has been
    // observed on this fixture at fpp 1e-6); bound them rather than
    // asserting zero — a bound of 5 on ~400 probes still catches a
    // broken fpp (default-0.03 would over-drop ~12)
    val fps = exactKept.size - bloomKept.size
    assert(fps <= 5, s"bloom over-dropped $fps rows")
  }

  test("bloom-mode filter plan is shuffle-free (no Exchange, no Join)") {
    val plan = planOf(op(bloom = true)(inc))
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("disposition mark matches apply (exact mode)") {
    val chained = Disposition.step(Disposition.init(inc), op(bloom = false), "t0")
    val alive = chained.filter(col(Disposition.AliveCol)).select("doc_id")
      .as[Long].collect().toSet
    val kept = op(bloom = false)(inc).select("doc_id").as[Long].collect().toSet
    assert(alive == kept)
  }

  test("embedding mode: prior members drop (cosine 1.0 through their own bucket), disjoint survive") {
    val vecs = table("embeddings")
    val ep = vecs.filter(col("vec_id") % 5 === 0)
    val op = new graft.operators.vector.IncrementalEmbeddingDedup(
      prior = Some(ep), vecCol = "embedding", idCol = "vec_id",
      threshold = 0.99, bits = 8, dims = 64, seed = 7L)
    val kept = op(vecs).select("vec_id").as[Long].collect().toSet
    val priorIds = ep.select("vec_id").as[Long].collect().toSet
    // identical vectors share their signature, so every prior member's
    // own row in the increment is found and dropped
    assert(priorIds.intersect(kept).isEmpty)
    assert(kept.nonEmpty)
    // empty prior → identity
    val noop = new graft.operators.vector.IncrementalEmbeddingDedup(
      prior = None, vecCol = "embedding", idCol = "vec_id")
    assert(noop(vecs).count() == vecs.count())
  }

  test("incremental minhash under the OPH scheme: prior members drop (Jaccard 1.0), registry passes the knob") {
    val mh = new graft.operators.dedup.IncrementalMinHashDedup(
      prior = Some(prior), textCol = "text", idCol = "doc_id",
      signatureScheme = "oph")
    val kept = mh(inc).select("doc_id").as[Long].collect().toSet
    val priorIds = prior.select("doc_id").as[Long].collect().toSet
    // identical texts have identical OPH signatures, so every prior
    // member's own increment row collides on every band and verifies
    assert(priorIds.intersect(kept).isEmpty)
    assert(kept.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("ophprior").toString
    prior.write.mode("overwrite").parquet(s"$dir/prior")
    val viaReg = graft.runner.OperatorRegistry.create("incremental_minhash_dedup",
      graft.runner.Params(Map(
        "prior_path" -> s"$dir/prior", "text_field" -> "text",
        "id_field" -> "doc_id", "signature_scheme" -> "oph")))
    assert(viaReg(inc).count() == kept.size.toLong)
  }

  test("registry builds the operator against a parquet prior snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("incprior").toString
    prior.write.mode("overwrite").parquet(s"$dir/prior")
    val built = graft.runner.OperatorRegistry.create("incremental_exact_dedup",
      graft.runner.Params(Map(
        "prior_path" -> s"$dir/prior", "text_field" -> "text",
        "id_field" -> "doc_id", "hash_algorithm" -> "portable")))
    val kept = built(inc).count()
    assert(kept == op(bloom = false)(inc).count())
  }
}
