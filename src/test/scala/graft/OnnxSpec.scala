package graft

import graft.ml.{Onnx, OnnxImageEncoder}
import graft.operators.image.ImageEmbeddingRefiner
import graft.sources.SyntheticImages
import org.apache.spark.sql.functions._

/** Serializes a REAL ONNX ModelProto byte-for-byte per the public
  * onnx.proto wire format (a file any onnx tooling would load), then
  * proves the inference SPI end-to-end: parse → session → batched
  * mapPartitions refiner run, against a direct Scala computation of the
  * same weights.
  */
object OnnxTestModel {

  // ---- tiny protobuf wire-format writer ----
  final class W {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v: Long): W = {
      var x = v
      while ((x & ~0x7FL) != 0) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt); this
    }
    def tag(field: Int, wire: Int): W = varint((field.toLong << 3) | wire)
    def str(field: Int, s: String): W = bytes(field, s.getBytes("UTF-8"))
    def bytes(field: Int, b: Array[Byte]): W = { tag(field, 2).varint(b.length); out.write(b); this }
    def msg(field: Int, m: W): W = bytes(field, m.out.toByteArray)
    def result: Array[Byte] = out.toByteArray
  }

  def tensor(name: String, dims: Seq[Int], data: Array[Float], raw: Boolean): W = {
    val w = new W
    dims.foreach(d => w.tag(1, 0).varint(d))
    w.tag(2, 0).varint(1) // data_type = FLOAT
    if (raw) {
      val bb = java.nio.ByteBuffer.allocate(data.length * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      data.foreach(bb.putFloat)
      w.bytes(9, bb.array())
    } else {
      val p2 = new java.io.ByteArrayOutputStream()
      val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      data.foreach { f =>
        bb.clear(); bb.putFloat(f); p2.write(bb.array(), 0, 4)
      }
      w.bytes(4, p2.toByteArray) // packed float_data
    }
    w.str(8, name)
  }

  def node(op: String, ins: Seq[String], outs: Seq[String],
      fAttrs: Seq[(String, Float)] = Nil, iAttrs: Seq[(String, Long)] = Nil): W = {
    val w = new W
    ins.foreach(w.str(1, _)); outs.foreach(w.str(2, _)); w.str(4, op)
    fAttrs.foreach { case (n, v) =>
      val a = new W().str(1, n)
      a.tag(2, 5)
      val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putFloat(v)
      a.out.write(bb.array(), 0, 4)
      a.tag(20, 0).varint(1) // type = FLOAT
      w.msg(5, a)
    }
    iAttrs.foreach { case (n, v) =>
      w.msg(5, new W().str(1, n).tag(3, 0).varint(v).tag(20, 0).varint(2)) // type = INT
    }
    w
  }

  def valueInfo(name: String): W = new W().str(1, name)

  /** x(B×in) → MatMul w1(in×h) → Add b1 → Relu → MatMul w2(h×out) → Add b2 → Tanh */
  def mlpModel(inDim: Int, hidden: Int, outDim: Int, seed: Long): (Array[Byte], Array[Array[Float]], Array[Float], Array[Array[Float]], Array[Float]) = {
    val rnd = new java.util.Random(seed)
    def mat(r: Int, c: Int) = Array.fill(r)(Array.fill(c)((rnd.nextFloat() - 0.5f) * 0.6f))
    def vec(n: Int) = Array.fill(n)((rnd.nextFloat() - 0.5f) * 0.2f)
    val w1 = mat(inDim, hidden); val b1 = vec(hidden)
    val w2 = mat(hidden, outDim); val b2 = vec(outDim)
    val g = new W
    g.msg(1, node("MatMul", Seq("x", "w1"), Seq("h0")))
    g.msg(1, node("Add", Seq("h0", "b1"), Seq("h1")))
    g.msg(1, node("Relu", Seq("h1"), Seq("h2")))
    g.msg(1, node("MatMul", Seq("h2", "w2"), Seq("h3")))
    g.msg(1, node("Add", Seq("h3", "b2"), Seq("h4")))
    g.msg(1, node("Tanh", Seq("h4"), Seq("y")))
    g.str(2, "graft_test_mlp")
    g.msg(5, tensor("w1", Seq(inDim, hidden), w1.flatten, raw = true))
    g.msg(5, tensor("b1", Seq(hidden), b1, raw = false))
    g.msg(5, tensor("w2", Seq(hidden, outDim), w2.flatten, raw = true))
    g.msg(5, tensor("b2", Seq(outDim), b2, raw = false))
    g.msg(11, valueInfo("x"))
    g.msg(12, valueInfo("y"))
    val model = new W
    model.tag(1, 0).varint(8) // ir_version
    model.msg(7, g)
    (model.result, w1, b1, w2, b2)
  }

  /** Direct reference computation of the same network. */
  def reference(x: Array[Float], w1: Array[Array[Float]], b1: Array[Float],
      w2: Array[Array[Float]], b2: Array[Float]): Array[Float] = {
    val h = Array.tabulate(b1.length) { j =>
      val s = x.indices.foldLeft(0.0f)((a, i) => a + x(i) * w1(i)(j)) + b1(j)
      if (s > 0f) s else 0f
    }
    Array.tabulate(b2.length) { j =>
      val s = h.indices.foldLeft(0.0f)((a, i) => a + h(i) * w2(i)(j)) + b2(j)
      math.tanh(s).toFloat
    }
  }
}

class OnnxSpec extends ScopedSuite {
  import TestSpark._

  private val side = 16
  private val (modelBytes, w1, b1, w2, b2) =
    OnnxTestModel.mlpModel(side * side, 8, 12, seed = 7L)

  test("wire-format parse recovers graph structure and weights") {
    val g = Onnx.parse(modelBytes)
    assert(g.nodes.map(_.opType) == Seq("MatMul", "Add", "Relu", "MatMul", "Add", "Tanh"))
    assert(g.inputName == "x" && g.outputName == "y")
    assert(g.initializers("w1").dims == Seq(side * side, 8))
    assert(g.initializers("w1").data.length == side * side * 8)
    val w2flat: Array[Float] = w2.flatten
    assert(java.util.Arrays.equals(g.initializers("b2").data, b2)) // float_data path
    assert(java.util.Arrays.equals(g.initializers("w2").data, w2flat)) // raw_data path
  }

  test("session run equals the direct computation, batched") {
    val s = Onnx.load(modelBytes)
    assert(s.outputDim == 12)
    val rnd = new java.util.Random(3L)
    val batch = Array.fill(5)(Array.fill(side * side)(rnd.nextFloat()))
    val got = s.run(batch)
    val want = batch.map(x => OnnxTestModel.reference(x, w1, b1, w2, b2))
    got.zip(want).foreach { case (g2, w) =>
      g2.zip(w).foreach { case (a, b) => assert(math.abs(a - b) < 1e-5f) }
    }
  }

  test("gemm(transB, alpha, bias) + layernorm + softmax head matches direct computation") {
    import OnnxTestModel._
    // the shape torch exports: nn.Linear -> Gemm(transB=1) with (out x in) weight
    val w = Array(
      Array(0.2f, -0.5f, 0.7f, 0.1f),
      Array(-0.3f, 0.4f, 0.05f, -0.6f),
      Array(0.9f, 0.2f, -0.1f, 0.3f))
    val c = Array(0.1f, -0.2f, 0.3f)
    val scale = Array(1.5f, 0.8f, -1.1f)
    val lnBias = Array(0.05f, -0.1f, 0.2f)
    val g = new W
    g.msg(1, node("Gemm", Seq("x", "w", "c"), Seq("h0"),
      fAttrs = Seq("alpha" -> 0.5f, "beta" -> 1.0f), iAttrs = Seq("transB" -> 1L)))
    g.msg(1, node("LayerNormalization", Seq("h0", "s", "lb"), Seq("h1"),
      fAttrs = Seq("epsilon" -> 1e-5f), iAttrs = Seq("axis" -> -1L)))
    g.msg(1, node("Softmax", Seq("h1"), Seq("y"), iAttrs = Seq("axis" -> -1L)))
    g.msg(5, tensor("w", Seq(3, 4), w.flatten, raw = true))
    g.msg(5, tensor("c", Seq(3), c, raw = false))
    g.msg(5, tensor("s", Seq(3), scale, raw = false))
    g.msg(5, tensor("lb", Seq(3), lnBias, raw = false))
    g.msg(11, valueInfo("x")); g.msg(12, valueInfo("y"))
    val model = new W; model.tag(1, 0).varint(8); model.msg(7, g)
    val sess = Onnx.load(model.result)
    assert(sess.outputDim == 3) // Gemm transB: dims.head of the (3 x 4) weight

    val x = Array(0.5f, -1.0f, 2.0f, 0.25f)
    // direct float32/double mirror of the op semantics
    val h0 = Array.tabulate(3) { j =>
      var acc = 0.0f
      for (i <- 0 until 4) acc += x(i) * w(j)(i)
      0.5f * acc + 1.0f * c(j)
    }
    val mean = h0.foldLeft(0.0)(_ + _) / 3
    val va = h0.foldLeft(0.0)((a, v) => a + (v - mean) * (v - mean)) / 3
    val inv = 1.0 / math.sqrt(va + 1e-5f)
    val h1 = Array.tabulate(3)(i => ((h0(i) - mean) * inv * scale(i) + lnBias(i)).toFloat)
    val mx = h1.max
    val exps = h1.map(v => math.exp((v - mx).toDouble))
    val want = exps.map(e => (e / exps.sum).toFloat)

    val got = sess.run(Array(x)).head
    assert(got.length == 3)
    got.zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6f, s"$a vs $b") }
    assert(math.abs(got.sum - 1.0f) < 1e-6f) // softmax row sums to 1
  }

  test("elementwise ops and erf evaluate correctly") {
    import OnnxTestModel._
    val g = new W
    // y = Neg(Div(Mul(Sub(Exp(x), one), x), Sqrt(four))) then Erf
    g.msg(1, node("Exp", Seq("x"), Seq("e")))
    g.msg(1, node("Sub", Seq("e", "one"), Seq("s")))
    g.msg(1, node("Mul", Seq("s", "x"), Seq("m")))
    g.msg(1, node("Sqrt", Seq("four"), Seq("r")))
    g.msg(1, node("Div", Seq("m", "r"), Seq("d")))
    g.msg(1, node("Neg", Seq("d"), Seq("n")))
    g.msg(1, node("Erf", Seq("n"), Seq("y")))
    g.msg(5, tensor("one", Seq(1, 3), Array(1f, 1f, 1f), raw = false))
    g.msg(5, tensor("four", Seq(1, 3), Array(4f, 4f, 4f), raw = false))
    g.msg(11, valueInfo("x")); g.msg(12, valueInfo("y"))
    val model = new W; model.tag(1, 0).varint(8); model.msg(7, g)
    val sess = Onnx.load(model.result)
    val x = Array(0.0f, 1.0f, -0.5f)
    val inner = x.map { v =>
      val d = (math.exp(v).toFloat - 1f) * v / 2f
      -d
    }
    val got = sess.run(Array(x)).head
    // erf reference values (true function; the A&S approximation is
    // within 1.5e-7, ~1 float32 ulp)
    def erfTrue(v: Double): Double = v match {
      case 0.0 => 0.0
      case _ =>
        // compare against high-precision series for the specific inputs
        val t = math.abs(v)
        val series = (0 to 30).map(n =>
          math.pow(-1, n) * math.pow(t, 2 * n + 1) / (fact(n) * (2 * n + 1))).sum
        math.signum(v) * 2.0 / math.sqrt(math.Pi) * series
    }
    def fact(n: Int): Double = (1 to n).foldLeft(1.0)(_ * _)
    got.zip(inner).foreach { case (a, in) =>
      assert(math.abs(a - erfTrue(in)) < 2e-6, s"erf($in): $a")
    }
  }

  test("malformed model bytes fail with a clear error, not an index crash") {
    val garbage = Array.tabulate[Byte](50)(i => ((i * 37 + 5) % 256).toByte)
    val e1 = intercept[IllegalArgumentException](Onnx.parse(garbage))
    assert(e1.getMessage.contains("malformed ONNX model") ||
      e1.getMessage.contains("no graph") ||
      e1.getMessage.contains("unsupported wire type"), e1.getMessage)
    val truncated = {
      val (full, _, _, _, _) = OnnxTestModel.mlpModel(4, 3, 2, seed = 1L)
      full.take(full.length / 2)
    }
    val e2 = intercept[IllegalArgumentException](Onnx.parse(truncated))
    assert(e2.getMessage.contains("malformed") || e2.getMessage.contains("no graph") ||
      e2.getMessage.contains("unsupported wire type"), e2.getMessage)
  }

  test("unsupported ops fail loudly at load") {
    val g = new OnnxTestModel.W
    g.msg(1, OnnxTestModel.node("Conv", Seq("x", "k"), Seq("y")))
    val model = new OnnxTestModel.W
    model.msg(7, g)
    val e = intercept[IllegalArgumentException](Onnx.load(model.result))
    assert(e.getMessage.contains("unsupported op Conv"))
  }

  test("ONNX encoder drives the embedding refiner through mapPartitions batching") {
    val enc = new OnnxImageEncoder("tiny_onnx", modelBytes, side)
    val op = new ImageEmbeddingRefiner(enc, family = "clip", batchSize = 16)
    val out = op(SyntheticImages.df(spark))
      .select(col("id"), col(op.outputCol)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.size == 60 && out.values.forall(_.length == 12))
    // null image → zero vector
    assert(out(56L).forall(_ == 0f) && out(57L).forall(_ == 0f))
    // decodable row matches preprocess + reference network + L2 norm
    val d = graft.operators.image.ImageOps.decode(SyntheticImages.encode(3L)).get
    val r = graft.operators.image.ImageOps.boxResize(d, side, side)
    val x = r.rgb.map { p =>
      val gray = (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)) / 3
      gray / 255.0f
    }
    val raw = OnnxTestModel.reference(x, w1, b1, w2, b2)
    val n = math.sqrt(raw.foldLeft(0.0)((a, v) => a + v.toDouble * v)).toFloat
    val want = raw.map(_ / n)
    out(3L).zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-4f) }
    // exact pixel duplicates embed identically
    assert(out(50L).sameElements(out(1L)))
  }
}
