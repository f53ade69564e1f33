package graft

import graft.ml.Mlp
import graft.operators.image._
import graft.sources.SyntheticImages
import org.apache.spark.sql.functions._

/** Inference-refiner plumbing: MLP math, wrong-dim defaults, encoder
  * batching/normalization/zero-vector behavior, missing-model nulls.
  */
class InferenceSpec extends ScopedSuite {
  import TestSpark._

  test("mlp forward: hand-computed two-layer network") {
    val mlp = new Mlp(Seq(
      graft.ml.MlpLayer(Array(Array(1.0, -1.0), Array(0.5, 0.5)), Array(0.0, 1.0), "relu"),
      graft.ml.MlpLayer(Array(Array(2.0, 1.0)), Array(-1.0), "sigmoid")))
    // x=(1,2): h = (relu(1-2), relu(0.5+1+1)) = (0, 2.5); z = 0*2+2.5-1 = 1.5
    val got = mlp.score(Array(1.0, 2.0))
    assert(math.abs(got - 1.0 / (1.0 + math.exp(-1.5))) < 1e-15)
  }

  test("seeded mlp is deterministic across instantiations") {
    val a = Mlp.seeded(Seq(8, 4, 1), 42L)
    val b = Mlp.seeded(Seq(8, 4, 1), 42L)
    val x = Array.tabulate(8)(_.toDouble / 7)
    assert(a.score(x) == b.score(x))
  }

  test("aesthetic refiner defaults 0.0 on wrong-dim embeddings") {
    val mlp = Mlp.seeded(Seq(4, 2, 1), 5L)
    val df = spark.createDataFrame(Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f, 0.4f)), (2L, Seq(0.1f, 0.2f)))).toDF("id", "embedding")
    val out = new AestheticScoreRefiner("embedding", mlp)(df)
      .select(col("id"), col("image_aesthetic_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) == 0.0)
    assert(out(1L) == mlp.score(Array(0.1f, 0.2f, 0.3f, 0.4f).map(_.toDouble)))
  }

  test("aigc refiner: score in (0,1), flag respects threshold") {
    val op = new AigcDetectorRefiner("embedding", Mlp.seeded(Seq(64, 8, 1), 23L,
      lastActivation = "sigmoid"), threshold = 0.5)
    val rows = op(table("embeddings"))
      .select(col("image_aigc_score"), col("image_is_aigc")).collect()
    assert(rows.forall(r => r.getDouble(0) > 0.0 && r.getDouble(0) < 1.0))
    assert(rows.forall(r => r.getBoolean(1) == (r.getDouble(0) > 0.5)))
    assert(rows.exists(_.getBoolean(1)) && rows.exists(!_.getBoolean(1)))
  }

  test("embedding refiner: dim, unit norm, zero vector for null/garbage, determinism") {
    val op = new ImageEmbeddingRefiner(new HashProjectionEncoder("m", 16),
      family = "clip", batchSize = 7)
    val out = op(SyntheticImages.df(spark))
    assert(out.columns.contains("image_clip_emb_m"))
    val rows = out.select(col("id"), col("image_clip_emb_m")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows.values.forall(_.size == 16))
    // null image rows → zero vector (norm left at 0)
    assert(SyntheticImages.NullIds.forall(id => rows(id).forall(_ == 0f)))
    // decodable + garbage rows alike get unit-norm vectors (encoder is
    // bytes-based; garbage bytes still hash)
    val n1 = math.sqrt(rows(1L).map(x => x.toDouble * x).sum)
    assert(math.abs(n1 - 1.0) < 1e-5)
    // exact duplicates → identical embeddings (deterministic encoder)
    assert(rows(50L) == rows(1L) && rows(51L) == rows(2L))
  }


  test("onnxruntime bridge: selection logic and graceful failure without the jar") {
    import graft.ml.{ImageEncoders, OnnxImageEncoder, OnnxRuntimeEncoder}
    val bytes = {
      val in = getClass.getResourceAsStream("/graft/tiny_encoder.onnx")
      try in.readAllBytes() finally in.close()
    }
    // this environment ships no onnxruntime jar: the factory must fall
    // back to the pure-Scala interpreter and still run the model
    assert(!ImageEncoders.runtimeAvailable)
    val enc = ImageEncoders.onnx("tiny_onnx", bytes, side = 16, dim = 12)
    assert(enc.isInstanceOf[OnnxImageEncoder])
    assert(enc.encodeBatch(Seq(SyntheticImages.encode(0L))).head.length == 12)
    // constructing the runtime encoder directly fails LOUDLY at first
    // use, naming the missing class - never silently wrong
    val rt = new OnnxRuntimeEncoder("tiny_onnx", bytes, side = 16, dim = 12)
    val e = intercept[IllegalStateException] {
      rt.encodeBatch(Seq(SyntheticImages.encode(0L)))
    }
    assert(e.getMessage.contains("onnxruntime not on the classpath"))
    // decode failures never touch the session: zero vector at the declared dim
    assert(rt.encodeBatch(Seq(null)).head.sameElements(new Array[Float](12)))
    // the dim contract is enforced at construction
    intercept[IllegalArgumentException] {
      new OnnxRuntimeEncoder("x", bytes, 16, 0)
    }
  }

  test("visual degradations: missing model yields nulls; fake model fills 5 columns") {
    val df = SyntheticImages.df(spark).filter(col("id") <= 5)
    val nulls = new VisualDegradationsRefiner("image", None)(df)
    assert(nulls.select(col("img_vd_overall_quality")).collect().forall(_.isNullAt(0)))
    val model = new DegradationModel {
      def heads(bytes: Array[Byte]) = Array(0.1, 0.2, 0.3, 0.4)
    }
    val filled = new VisualDegradationsRefiner("image", Some(model))(df)
    val r = filled.select(col("img_vd_color_cast"), col("img_vd_overall_quality")).head()
    assert(r.getDouble(0) == 0.1)
    assert(math.abs(r.getDouble(1) - (0.2 * 0.1 + 0.3 * 0.2 + 0.25 * 0.3 + 0.25 * 0.4)) < 1e-15)
  }
}
