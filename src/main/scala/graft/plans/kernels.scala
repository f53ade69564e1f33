package graft.plans

import graft.functions.HashFunctions
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for the similarity/fingerprint hot loops.
  *
  * The declarative forms (aggregate/zip_with/transform in
  * [[graft.functions.VectorFunctions]] and the dedup operators) are
  * evaluated per-element by interpreted HigherOrderFunctions — fine for
  * correctness, ~10-30× too slow in the inner loop of an O(n²) similarity
  * join. These expressions evaluate the whole array in one tight JVM loop
  * per row. Accumulation order is identical to the declarative fold
  * (left-to-right, double precision), so results are bit-identical to both
  * the HOF form and the DuckDB oracle twin.
  *
  * Codegen: every kernel implements real `doGenCode` through
  * [[kernels.UnaryRefCodegen]]/[[kernels.BinaryRefCodegen]] — generated
  * code calls the kernel instance directly with the unboxed child value
  * (one virtual call per ROW into a loop body that JITs well), instead
  * of CodegenFallback's per-row InternalRow construction; the stateless
  * ArrayCosine goes further with a fully static call.
  */
object kernels {

  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  private def unboxCode(dt: DataType, tmp: String): String = dt match {
    case DoubleType => s"((java.lang.Double) $tmp).doubleValue()"
    case LongType => s"((java.lang.Long) $tmp).longValue()"
    case IntegerType => s"((java.lang.Integer) $tmp).intValue()"
    case BooleanType => s"((java.lang.Boolean) $tmp).booleanValue()"
    case StringType => s"(org.apache.spark.unsafe.types.UTF8String) $tmp"
    case _: ArrayType => s"(org.apache.spark.sql.catalyst.util.ArrayData) $tmp"
    case _: StructType => s"(org.apache.spark.sql.catalyst.InternalRow) $tmp"
    case other => throw new IllegalStateException(s"no unbox for $other")
  }

  /** Real codegen for the kernel expressions: generated code calls the
    * kernel instance (carried in the plan's references array) directly
    * with the UNBOXED child value — skipping CodegenFallback's per-row
    * InternalRow construction + interpreted dispatch. The kernel's own
    * `nullSafeEval` stays the single source of semantics (interpreted
    * and generated paths share it), so the DuckDB-oracle parity pins
    * hold identically under both.
    */
  /** The null-result branch may only write `ev.isNull` when the
    * expression is NULLABLE — `nullSafeCodeGen`'s non-nullable branch
    * never declares that variable, and an assignment to it is
    * uncompilable generated Java (Janino "not an rvalue"), which under
    * the default `spark.sql.codegen.fallback=true` silently demotes
    * the whole stage to interpreted execution. A non-nullable kernel
    * returning null is a kernel bug — surface it loudly instead.
    */
  private def resultCode(nullable: Boolean, dt: DataType,
      ev: ExprCode, tmp: String): String =
    if (nullable)
      s"""
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${unboxCode(dt, tmp)}; }
       """.stripMargin
    else
      s"""
         |if ($tmp == null) { throw new IllegalStateException(
         |  "kernel returned null for a non-nullable expression"); }
         |${ev.value} = ${unboxCode(dt, tmp)};
       """.stripMargin

  trait UnaryRefCodegen extends UnaryExpression {
    /** Public bridge so generated Java can invoke the protected eval. */
    def refEval(v: Any): Any = nullSafeEval(v)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("kernel", this)
        val tmp = ctx.freshName("kres")
        s"""
           |Object $tmp = $ref.refEval($c);
           |${resultCode(nullable, dataType, ev, tmp)}
         """.stripMargin
      })
  }

  /** Binary twin of [[UnaryRefCodegen]]. */
  trait BinaryRefCodegen extends BinaryExpression {
    def refEval(l: Any, r: Any): Any = nullSafeEval(l, r)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ref = ctx.addReferenceObj("kernel", this)
        val tmp = ctx.freshName("kres")
        s"""
           |Object $tmp = $ref.refEval($a, $b);
           |${resultCode(nullable, dataType, ev, tmp)}
         """.stripMargin
      })
  }

  private def arrayDouble(a: ArrayData, dt: DataType, i: Int): Double =
    dt match {
      case FloatType  => a.getFloat(i).toDouble
      case DoubleType => a.getDouble(i)
      case LongType   => a.getLong(i).toDouble
      case IntegerType => a.getInt(i).toDouble
      case other      => throw new IllegalStateException(s"bad element type $other")
    }

  /** Cosine similarity of two numeric arrays; null if either norm is 0
    * (DuckDB's x/0 NULL — Spark ANSI would throw on the declarative
    * form). Fully static codegen (no reference-object indirection):
    * it sits inside the pair-verify inner loops of every cosine-dedup /
    * ANN gate; generated code is a static call into [[KernelOps]] with
    * codegen-time element-type tags.
    */
  case class ArrayCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private def elemType(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType
    private def typeTag(e: Expression): Int = elemType(e) match {
      case FloatType => KernelOps.TFloat
      case DoubleType => KernelOps.TDouble
      case LongType => KernelOps.TLong
      case IntegerType => KernelOps.TInt
      case other => throw new IllegalStateException(s"bad element type $other")
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      KernelOps.arrayCosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
        typeTag(left), typeTag(right))

    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("cosine")
        s"""
           |java.lang.Double $tmp = graft.plans.KernelOps.arrayCosine(
           |  $a, $b, ${typeTag(left)}, ${typeTag(right)});
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** 60-bit portable base hash of a UTF8String: first 15 hex chars of md5
    * as a long — bit-identical to `HashFunctions.portableHash64` (Spark
    * conv(substring(md5..)) path) and the DuckDB twin, but one MessageDigest
    * call instead of an interpreted cast→md5→substring→conv chain.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  @inline private[graft] def portableHashJvm(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xFFL); i += 1 }
    v >>> 4 // 64 bits -> first 15 hex digits (60 bits)
  }

  @inline private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature over an array of shingle STRINGS (hashing inlined).
    *
    * portable=true: base = 60-bit md5-prefix hash, then the overflow-free
    * integer mix of [[HashFunctions.mixConstants]] per seed — matches the
    * DuckDB twin exactly. portable=false: splitmix64 finalization of
    * `base ^ const_j` over the same md5 base (production family, no SQL
    * twin needed).
    */
  case class MinHashSignature(child: Expression, numHashes: Int, portable: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    private val consts = (0 until numHashes).map(HashFunctions.mixConstants).toArray

    override def nullSafeEval(v: Any): Any = {
      val ss = v.asInstanceOf[ArrayData]
      val n = ss.numElements()
      if (n == 0) return null
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = portableHashJvm(ss.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val m =
            if (portable) {
              val (a, b, c) = consts(j)
              a * (h & ((1L << 30) - 1)) + b * (h >>> 30) + c
            } else splitmix64(h ^ (0xC2B2AE3D27D4EB4FL * (j + 1)))
          if (m < mins(j)) mins(j) = m
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override def nullable: Boolean = true
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Scalar 60-bit portable hash of ONE string, bit-identical to the
    * declarative `conv(substring(md5(cast(cast)))).cast(long)` chain
    * (`HashFunctions.portableHash64` routes here) but one MessageDigest
    * call with no hex-string/substring/conv allocations per value.
    */
  case class PortableHash64(child: Expression)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      portableHashJvm(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Tokenize exactly like `TextFunctions.tokensOf` (regexp_replace \s+→' ',
    * trim, lower, split on ' ') but in one JVM pass. trim/lower go through
    * UTF8String so non-ASCII behavior is bit-identical to Catalyst's
    * `trim`/`lower` expressions (String.trim would differ on control chars).
    */
  private[graft] def tokenizeJvm(text: org.apache.spark.unsafe.types.UTF8String): Array[String] = {
    val replaced = wsPattern.matcher(text.toString).replaceAll(" ")
    val norm = org.apache.spark.unsafe.types.UTF8String
      .fromString(replaced).trim().toLowerCase.toString
    if (norm.isEmpty) Array.empty[String] else norm.split(' ')
  }

  /** Fused tokenize → word w-shingle → 60-bit portable hash → distinct.
    * One JVM loop per row; equals
    * `array_distinct(transform(shingles(tokensOf(text), w), portableHash64))`
    * bit-for-bit
    * (first-occurrence order; set-equal is all downstream ops need).
    * Fewer than w tokens (incl. null/empty text after normalize) → empty
    * array, mirroring `TextFunctions.shingles`.
    *
    * This is the near-dup hot path: the declarative form re-evaluated the
    * tokenization tree per shingle element inside interpreted HOF lambdas
    * (~30× slowdown, measured round 1); here tokenization runs once per row.
    */
  case class ShingleHashes(child: Expression, w: Int)
      extends UnaryExpression with UnaryRefCodegen {
    require(w >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val toks = tokenizeJvm(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      val n = toks.length
      if (n < w) return new GenericArrayData(Array.empty[Long])
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= n - w) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(portableHashJvm(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
        i += 1
      }
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Fused tokenize → per-token portable hash → adjacent-pair bigram
    * rows: array of `(_h1, _h2, _hb)` structs, one per bigram
    * OCCURRENCE (multiplicity + order kept) — bit-identical to pairing
    * the adjacent elements of
    * `transform(tokensOf(text), portableHash64)` and mixing with
    * `BigramLm.mixPair` (`mixed(h1,0) + mixed(h2,1)` — the overflow-safe
    * 30-bit-split constant mix), but ONE JVM pass per row: each token
    * hashes once (n md5 calls for n tokens) and the pair structs
    * materialize straight off the hash array, replacing the interpreted
    * `transform(sequence(...), i -> struct(element_at...))` HOF that
    * re-entered per element. < 2 tokens → empty array (no bigrams).
    */
  case class TokenBigrams(child: Expression)
      extends UnaryExpression with UnaryRefCodegen {
    private val pairType = StructType(Seq(
      StructField("_h1", LongType, nullable = false),
      StructField("_h2", LongType, nullable = false),
      StructField("_hb", LongType, nullable = false)))
    override def dataType: DataType = ArrayType(pairType, containsNull = false)
    // seed constants hoisted once; the mix ARITHMETIC lives in
    // HashFunctions.mixedJvm (ADVICE r19: this kernel carried a third
    // hand-inlined copy of the 30-bit-split mix)
    private val consts0 = HashFunctions.mixConstants(0)
    private val consts1 = HashFunctions.mixConstants(1)
    override def nullSafeEval(v: Any): Any = {
      val toks = tokenizeJvm(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      val n = toks.length
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        hs(i) = portableHashJvm(
          org.apache.spark.unsafe.types.UTF8String.fromString(toks(i)))
        i += 1
      }
      val out = new Array[Any](n - 1)
      i = 0
      while (i < n - 1) {
        val h1 = hs(i); val h2 = hs(i + 1)
        val hb = HashFunctions.mixedJvm(h1, consts0) +
          HashFunctions.mixedJvm(h2, consts1)
        out(i) = org.apache.spark.sql.catalyst.InternalRow(h1, h2, hb)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Distinct hashes of the length-`q` CHARACTER grams of a string
    * (first-occurrence order) — the [[ShingleHashes]] idiom for q-gram
    * banding ([[graft.operators.text.FuzzyJoin]]). Bit-identical to
    * `transform(sequence(1, length(s) - q + 1), i -> hash(substring(s, i, q)))`
    * followed by a per-key distinct: gram windows are code-point-based
    * (`UTF8String.substringSQL`, Spark's `substring` semantics) and the
    * hash family is the oracle-portable 60-bit md5 prefix
    * (`portable = true`) or Spark's `xxhash64` seed-42 (production).
    * In-kernel dedup means callers whose per-row key is unique can drop
    * the post-explode `distinct()` exchange outright. Strings shorter
    * than `q` → empty array.
    */
  case class CharGramHashes(child: Expression, q: Int, portable: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    require(q >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val n = s.numChars()
      if (n < q) return new GenericArrayData(Array.empty[Long])
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 1
      while (i <= n - q + 1) {
        val g = s.substringSQL(i, q)
        seen.add(if (portable) portableHashJvm(g)
          else org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(g, StringType, 42L))
        i += 1
      }
      val out = new Array[Long](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** MinHash signature from an ALREADY-HASHED shingle array (the output of
    * [[ShingleHashes]]): per seed j, min over elements of the mixed hash.
    * Same hash families as [[MinHashSignature]] (portable: overflow-free
    * integer mix matching the DuckDB twin; else splitmix64) — base values
    * are identical because ShingleHashes uses the same 60-bit md5 prefix.
    * Empty array → null (a doc with no shingles has no signature).
    */
  case class MinHashFromHashes(child: Expression, numHashes: Int, portable: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    private val consts = (0 until numHashes).map(HashFunctions.mixConstants).toArray

    override def nullSafeEval(v: Any): Any = {
      val hs = v.asInstanceOf[ArrayData]
      val n = hs.numElements()
      if (n == 0) return null
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = hs.getLong(i)
        var j = 0
        while (j < numHashes) {
          val m =
            if (portable) {
              val (a, b, c) = consts(j)
              a * (h & ((1L << 30) - 1)) + b * (h >>> 30) + c
            } else splitmix64(h ^ (0xC2B2AE3D27D4EB4FL * (j + 1)))
          if (m < mins(j)) mins(j) = m
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** One-permutation MinHash signature with rotation densification
    * (Li/Owen/Zhang 2012 one-permutation hashing; Shrivastava & Li 2014
    * densification) from an ALREADY-HASHED shingle array: each element
    * lands in bin `h mod k` and each bin keeps its minimum, so the
    * whole k-element signature costs ONE pass over the shingles —
    * O(n + k) versus the k·n mixing loop of [[MinHashFromHashes]]
    * (at k = 16, that is the signature pass at ~1/16 the hash work,
    * the difference between re-hashing a 100 TB corpus 16× and once).
    * Empty bins densify by circular borrowing: bin j takes the value
    * of the nearest non-empty bin to its right (distance d).
    *
    * `portable = true` (the DuckDB-twin form) bins and ranks the raw
    * 60-bit base hashes; every bin value is `d·2^(60−s) + (base >> s)`
    * with `s = ceil(log2(k))` (d = 0 for bins holding their own
    * minimum): the distance rides the bits ABOVE the truncated 60-bit
    * base, so the encoding is injective in `(base >> s, d)` and the
    * whole value stays under 2^60 — overflow-free in both engines (the
    * naive `base + d·2^60` overflows INT64 at d ≥ 8; same
    * bounded-arithmetic discipline as [[graft.functions.HashFunctions
    * .mixConstants]]). The s dropped low bits cost nothing real: a
    * cross-doc value collision needs the top 60−s bits of two
    * md5-uniform hashes to agree, and every band collision is verified
    * on exact shingle Jaccard anyway.
    *
    * `portable = false` (the production family) splitmix64-mixes each
    * element first — still one mix per element, preserving the
    * O(n + k) shape. Mixed values span the full 64 bits, where the
    * shifted-offset encoding would neither fit nor stay injective, so
    * borrows re-mix instead: `splitmix64(base ^ d·φ)` (d ≥ 1, golden-
    * ratio constant) — deterministic per (base, d), collisions at the
    * 2^-64 scale, and d = 0 bins keep their raw minimum.
    *
    * Empty input → null, mirroring [[MinHashFromHashes]].
    */
  case class OphMinHashFromHashes(child: Expression, numHashes: Int, portable: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    private[graft] val shiftBits =
      if (numHashes <= 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros((numHashes - 1).toLong).toInt
    private[graft] val borrowStep = 1L << (60 - shiftBits)

    override def nullSafeEval(v: Any): Any = {
      val hs = v.asInstanceOf[ArrayData]
      val n = hs.numElements()
      if (n == 0) return null
      val k = numHashes
      val raw = new Array[Long](k)
      val filled = new Array[Boolean](k)
      var i = 0
      while (i < n) {
        val h0 = hs.getLong(i)
        val h = if (portable) h0 else splitmix64(h0)
        val bin = java.lang.Math.floorMod(h, k.toLong).toInt
        if (!filled(bin) || h < raw(bin)) { raw(bin) = h; filled(bin) = true }
        i += 1
      }
      val out = new Array[Long](k)
      var j = 0
      while (j < k) {
        var d = 0
        while (!filled((j + d) % k)) d += 1
        val base = raw((j + d) % k)
        out(j) =
          if (portable) d.toLong * borrowStep + (base >>> shiftBits)
          else if (d == 0) base
          else splitmix64(base ^ (d.toLong * 0x9E3779B97F4A7C15L))
        j += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Fused tokenize → word w-shingle → 64-bit hash, POSITIONAL: output
    * element i is the hash of the gram starting at token i, duplicates
    * kept (unlike [[ShingleHashes]], whose distinct-set form serves the
    * MinHash path). Fewer than w tokens → empty array. This is the
    * dup-ngram instance extractor: `posexplode` of the result yields
    * `(pos, hash)` gram instances without the gram STRINGS ever leaving
    * the row — the downstream shuffles carry fixed-width longs only.
    *
    * Hash families: `portable` = the 60-bit md5-prefix
    * ([[graft.functions.HashFunctions.portableHash64]] twin, for
    * oracle-gated runs); `xxhash64` = Spark's builtin seed-42 XXH64,
    * bit-identical to `xxhash64(gram)` (the production default).
    */
  case class ShingleHashesPositional(child: Expression, w: Int, family: String)
      extends UnaryExpression with UnaryRefCodegen {
    require(w >= 1)
    require(family == "portable" || family == "xxhash64",
      s"unsupported hash family '$family' (portable | xxhash64)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val toks = tokenizeJvm(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      val n = toks.length
      if (n < w) return new GenericArrayData(Array.empty[Long])
      val out = new Array[Long](n - w + 1)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= n - w) {
        sb.setLength(0)
        var j = 0
        while (j < w) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        val s = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        out(i) =
          if (family == "portable") portableHashJvm(s)
          else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Tokens NOT covered by any duplicated-gram span: token j is covered
    * iff some start position i in `dups` (sorted ascending) has
    * i <= j < i + w. The declarative form
    * `filter(toks, (t, j) => !exists(dups, i => i <= j && j < i + w))`
    * is O(tokens × dups) per row in interpreted HOF evaluation —
    * quadratic on repetitive text where dups ≈ tokens. This two-pointer
    * sweep is O(tokens + dups): walk j left-to-right, fold every dup
    * start ≤ j into a running coverage horizon `max(i + w)`, keep j iff
    * it is past the horizon. Output is bit-identical to the HOF form
    * (same elements, same order).
    */
  case class CoverageMask(left: Expression, right: Expression, w: Int)
      extends BinaryExpression with BinaryRefCodegen {
    require(w >= 1)
    override def dataType: DataType = left.dataType
    override def nullSafeEval(t: Any, d: Any): Any = {
      val toks = t.asInstanceOf[ArrayData]
      val dups = d.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val nd = dups.numElements()
      val kept = new java.util.ArrayList[AnyRef](n)
      var p = 0
      var horizon = -1L // exclusive end of the covered prefix seen so far
      var j = 0
      while (j < n) {
        while (p < nd && dups.getInt(p) <= j) {
          val end = dups.getInt(p).toLong + w
          if (end > horizon) horizon = end
          p += 1
        }
        if (j >= horizon) kept.add(toks.get(j, StringType))
        j += 1
      }
      new GenericArrayData(kept.toArray)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** SimHash fingerprint over an array of distinct token STRINGS:
    * bit b set iff Σ±1 over token-hash bit b is positive. Empty → 0L.
    * Token hash = the portable 60-bit md5 prefix.
    */
  case class SimHash(child: Expression, bits: Int)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = LongType

    override def nullSafeEval(v: Any): Any = {
      val ss = v.asInstanceOf[ArrayData]
      val n = ss.numElements()
      val votes = new Array[Int](bits)
      var i = 0
      while (i < n) {
        val h = portableHashJvm(ss.getUTF8String(i))
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      java.lang.Long.valueOf(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Index (0-based) of the nearest centroid by squared L2 distance —
    * the assignment step of k-means bucketing (broadcast centroids, one
    * pass per row, no k-way row blowup). Accumulation is left-to-right in
    * double, matching the DuckDB list_reduce twin bit-for-bit; ties keep
    * the lowest centroid index (strict `<`), matching the twin's
    * `ORDER BY dist, cid` first-wins.
    */
  case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
      extends UnaryExpression with UnaryRefCodegen {
    require(centroids.nonEmpty)
    override def dataType: DataType = IntegerType
    private val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val at = elemType
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        val n = math.min(a.numElements(), cent.length)
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = arrayDouble(a, at, i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      java.lang.Integer.valueOf(best)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Squared-L2 distance to the NEAREST of the fixed centroids — the
    * companion of [[NearestCentroid]] (same left-to-right double fold,
    * same strict-`<` tie policy) returning the distance instead of the
    * index. Exactly the value DuckDB's `min(l2sq)` over the same fold
    * computes, so distance-based outlier rules stay oracle-checkable.
    */
  case class NearestCentroidDist(child: Expression, centroids: Seq[Seq[Double]])
      extends UnaryExpression with UnaryRefCodegen {
    require(centroids.nonEmpty)
    override def dataType: DataType = DoubleType
    private val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val at = elemType
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        val n = math.min(a.numElements(), cent.length)
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = arrayDouble(a, at, i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) bestD = d
        c += 1
      }
      java.lang.Double.valueOf(bestD)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Indices (0-based) of the `nprobe` NEAREST centroids by squared L2,
    * ordered by (distance, index) — the multi-cluster assignment step of
    * probed semantic dedup (r16): a near-boundary vector lists every
    * cell it could plausibly live in, so boundary duplicates co-bucket.
    * Same left-to-right double fold and strict-`<` tie policy as
    * [[NearestCentroid]] (whose result is always element 0 here), so the
    * DuckDB `row_number() OVER (ORDER BY dist, cid) <= nprobe` twin
    * replays the selection bit-for-bit. Selection is one insertion pass
    * over k (distance, index) pairs — no per-row sort allocation beyond
    * the nprobe-sized output.
    *
    * NaN policy (r17, ADVICE r16): a NaN distance (a NaN coordinate in
    * the input vector) orders LAST, ties broken by centroid index —
    * every NaN maps to +∞ before insertion and the first `nprobe`
    * candidates always fill the output, so an all-NaN vector probes
    * cells `[0, .., nprobe-1]` exactly like the twin's
    * `ORDER BY dist, cidx` (DuckDB sorts NaN after everything and
    * breaks the tie on cidx). Previously nothing was ever inserted and
    * the output was a bogus `[Int.MaxValue, ...]`.
    */
  case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]],
      nprobe: Int) extends UnaryExpression with UnaryRefCodegen {
    require(centroids.nonEmpty && nprobe >= 1 && nprobe <= centroids.length)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    private val cs: Array[Array[Double]] = centroids.map(_.toArray).toArray
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      val at = elemType
      val bd = new Array[Double](nprobe) // best distances, ascending
      val bi = new Array[Int](nprobe)
      var filled = 0
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        val n = math.min(a.numElements(), cent.length)
        var d = 0.0
        var i = 0
        while (i < n) {
          val diff = arrayDouble(a, at, i) - cent(i)
          d += diff * diff
          i += 1
        }
        if (java.lang.Double.isNaN(d)) d = Double.PositiveInfinity
        // strict < on distance; equal distance keeps the lower index
        // (c ascends, so an equal-distance later index never displaces);
        // the first nprobe candidates always fill, so the output is a
        // real cell list even when every distance is +∞
        if (filled < nprobe) {
          var p = filled
          while (p > 0 && d < bd(p - 1)) { bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1 }
          bd(p) = d; bi(p) = c
          filled += 1
        } else if (d < bd(nprobe - 1)) {
          var p = nprobe - 1
          while (p > 0 && d < bd(p - 1)) { bd(p) = bd(p - 1); bi(p) = bi(p - 1); p -= 1 }
          bd(p) = d; bi(p) = c
        }
        c += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        bi.map(i => java.lang.Integer.valueOf(i): Any))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Per-profile stopword-hit fractions over a token array in ONE pass —
    * the language-ID / quality-score hot loop (the declarative
    * filter+size form pays the interpreted-HOF cost per token per
    * profile). Output: array<double>, one fraction per profile in input
    * order; empty token array → all zeros, matching the declarative
    * guard. Bit-identical: hits/size division in the same order.
    */
  /** Exact wordlist hit COUNT over a token array — the integer twin of
    * [[StopwordScores]] (which emits fractions): number of tokens (with
    * multiplicity) that are members of `words`. Bit-identical to
    * `size(filter(toks, t => array_contains(lit(words), t)))` but a
    * hash-set probe per token in one codegen'd pass instead of an
    * interpreted ArrayFilter whose CodegenFallback re-evaluated the
    * inlined tokenize chain per row ([[graft.operators.text
    * .WordlistTagger]] — the quality-score r11 lesson's missed sibling).
    */
  case class WordlistHits(child: Expression, words: Seq[String])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = LongType
    private val set = {
      val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      words.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      s
    }
    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val n = toks.numElements()
      var hits = 0L
      var i = 0
      while (i < n) {
        // null elements are non-hits (array_contains(words, null) is
        // null -> the declarative filter drops it); without the guard
        // getUTF8String on a null slot reads an undefined offset
        // (ADVICE r19 — hitsExpr accepts an arbitrary token Column)
        if (!toks.isNullAt(i) && set.contains(toks.getUTF8String(i))) hits += 1L
        i += 1
      }
      java.lang.Long.valueOf(hits)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** One-pass wordlist keep VERDICT over the raw text — tokenize +
    * hit count + both threshold tests in a single kernel call.
    * Bit-identical to the declarative predicate
    * `n == 0 || (hits <= maxHits && hits <= maxHitFrac * n)` over
    * `tokensOf(text)` with [[WordlistHits]]'s count. Exists because
    * FilterExec does NOT common-subexpression-eliminate (ProjectExec
    * does): the declarative predicate inlined the tokenize chain four
    * times into one generated filter method — 4 regex passes per row
    * and a codegen blob past the JIT's comfort zone.
    */
  case class WordlistKeep(child: Expression, words: Seq[String],
      maxHitFrac: Double, maxHits: Long)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = BooleanType
    private val set = {
      val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      words.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
      s
    }
    override def nullSafeEval(v: Any): Any = {
      val toks = tokenizeJvm(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      val n = toks.length
      if (n == 0) return java.lang.Boolean.TRUE
      var hits = 0L
      var i = 0
      while (i < n) {
        if (set.contains(org.apache.spark.unsafe.types.UTF8String.fromString(toks(i))))
          hits += 1L
        i += 1
      }
      java.lang.Boolean.valueOf(
        hits <= maxHits && hits.toDouble <= maxHitFrac * n.toDouble)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  case class StopwordScores(child: Expression, profiles: Seq[Seq[String]])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    private val sets: Array[java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]] =
      profiles.map { p =>
        val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
        p.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
        s
      }.toArray

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val hits = new Array[Int](sets.length)
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        var p = 0
        while (p < sets.length) {
          if (sets(p).contains(t)) hits(p) += 1
          p += 1
        }
        i += 1
      }
      val out = new Array[Double](sets.length)
      if (n > 0) {
        var p = 0
        while (p < sets.length) { out(p) = hits(p).toDouble / n.toDouble; p += 1 }
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** The composite quality score's raw (unrounded) value in ONE JVM pass:
    * 0.4·alpha_ratio + 0.3·min(5·max stopword fraction, 1) + 0.3·mean-
    * token-length-in-[3,12] band. The declarative form
    * ([[graft.operators.text.TextAnalysis.qualityScore]] pre-r11)
    * duplicated the StopwordScores kernel once per language profile via
    * `greatest(element_at(scores, i))` and the tokenize tree ~6× per row
    * (the r10 driver bench's domain_stats_filter cost). Bit-parity with
    * the declarative tree (KernelSpec): character counts are code points
    * (Catalyst `length`), whitespace is Java regex `\s` (ASCII, same
    * class DuckDB's RE2 strips), tokens come from the shared
    * [[tokenizeJvm]], and the combination order matches the Column form
    * left-to-right. Callers wrap in Catalyst `round(_, 9)` so rounding
    * semantics stay the engine's own. Null text → null.
    */
  case class QualityScoreRaw(child: Expression, profiles: Seq[Seq[String]])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    @transient private lazy val sets: Array[java.util.HashSet[String]] =
      profiles.map { p =>
        val s = new java.util.HashSet[String]()
        p.foreach(s.add)
        s
      }.toArray

    override def nullSafeEval(v: Any): Any = {
      val text = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val s = text.toString
      // alpha ratio over non-whitespace code points
      var stripped = 0L; var alpha = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r'
        if (!ws) {
          stripped += 1
          if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) alpha += 1
        }
        i += Character.charCount(cp)
      }
      val alphaRatio = if (stripped == 0L) 0.0 else alpha.toDouble / stripped.toDouble
      // token walk: stopword hits per profile + summed code-point lengths
      val toks = tokenizeJvm(text)
      val hits = new Array[Int](sets.length)
      var lenSum = 0L
      toks.foreach { t =>
        lenSum += t.codePointCount(0, t.length)
        var p = 0
        while (p < sets.length) {
          if (sets(p).contains(t)) hits(p) += 1
          p += 1
        }
      }
      var stop = 0.0
      if (toks.length > 0) {
        var p = 0
        while (p < sets.length) {
          val f = hits(p).toDouble / toks.length.toDouble
          if (f > stop) stop = f
          p += 1
        }
      }
      val mtl = if (toks.isEmpty) 0.0 else lenSum.toDouble / toks.length.toDouble
      val band = if (mtl >= 3.0 && mtl <= 12.0) 1.0 else 0.0
      java.lang.Double.valueOf(
        alphaRatio * 0.4 + math.min(stop * 5.0, 1.0) * 0.3 + band * 0.3)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** The full Gopher document-quality battery (Rae et al. 2021 A1.1) in
    * ONE JVM pass per row: tokenize once, then every signal plus the keep
    * verdict from that single token walk. The declarative form
    * ([[graft.operators.text.GopherQuality]]) re-evaluates the tokenize
    * tree per signal inside interpreted HOF lambdas (`aggregate` for mean
    * length, `filter`+rlike for the alpha fraction) — the filter form
    * paid it ~7× per row. Bit-identical to the declarative columns:
    * token lengths are code-point counts (Catalyst `length`), regex
    * counting/matching uses the same java.util.regex patterns and
    * non-overlapping `find` semantics as `regexp_count`/`rlike`, and
    * every ratio divides the same exact integers in double. NULL input
    * must be coalesced to '' by the wrapper (the declarative form is
    * null-tolerant, not null-propagating).
    */
  case class GopherSignals(
      child: Expression, stopwords: Seq[String],
      minWords: Long, maxWords: Long, minStopwords: Int)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StructType(Seq(
      StructField("word_count", LongType, nullable = false),
      StructField("mean_word_len", DoubleType, nullable = false),
      StructField("symbol_ratio", DoubleType, nullable = false),
      StructField("bullet_line_frac", DoubleType, nullable = false),
      StructField("ellipsis_line_frac", DoubleType, nullable = false),
      StructField("alpha_word_frac", DoubleType, nullable = false),
      StructField("stopword_hits", LongType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))

    private val hashRun = java.util.regex.Pattern.compile("#")
    private val ellipsisRun = java.util.regex.Pattern.compile("\\.{3}|…")
    private val bulletLine = java.util.regex.Pattern.compile("^\\s*[•\\-\\*‣▪]")
    private val ellipsisLine = java.util.regex.Pattern.compile("(\\.{3}|…)\\s*$")
    private val alphaChar = java.util.regex.Pattern.compile("[a-z]")
    private val stopSet = {
      val s = new java.util.HashSet[String]()
      stopwords.foreach(s.add)
      s
    }

    private def countMatches(p: java.util.regex.Pattern, s: String): Int = {
      val m = p.matcher(s)
      var c = 0
      while (m.find()) c += 1
      c
    }

    override def nullSafeEval(v: Any): Any = {
      val text = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val raw = text.toString
      val toks = tokenizeJvm(text)
      val n = toks.length

      var lenSum = 0L
      var alphaHits = 0
      val stopsSeen = new java.util.HashSet[String]()
      var i = 0
      while (i < n) {
        val t = toks(i)
        lenSum += t.codePointCount(0, t.length)
        if (alphaChar.matcher(t).find()) alphaHits += 1
        if (stopSet.contains(t)) stopsSeen.add(t)
        i += 1
      }
      val meanLen = if (n == 0) 0.0 else lenSum.toDouble / n.toDouble
      val alphaFrac = if (n == 0) 0.0 else alphaHits.toDouble / n.toDouble

      val syms = countMatches(hashRun, raw) + countMatches(ellipsisRun, raw)
      val symbolRatio = if (n == 0) 0.0 else syms.toDouble / n.toDouble

      val lines = raw.split("\n", -1)
      var bullets = 0
      var ellipses = 0
      var j = 0
      while (j < lines.length) {
        if (bulletLine.matcher(lines(j)).find()) bullets += 1
        if (ellipsisLine.matcher(lines(j)).find()) ellipses += 1
        j += 1
      }
      val nl = lines.length
      val bulletFrac = if (nl == 0) 0.0 else bullets.toDouble / nl.toDouble
      val ellipsisFrac = if (nl == 0) 0.0 else ellipses.toDouble / nl.toDouble
      val stopHits = stopsSeen.size().toLong

      val keep = n >= minWords && n <= maxWords &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3 &&
        alphaFrac >= 0.8 && stopHits >= minStopwords
      new GenericInternalRow(Array[Any](
        n.toLong, meanLen, symbolRatio, bulletFrac, ellipsisFrac,
        alphaFrac, stopHits, keep))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** C4 page cleaning (Raffel et al. 2020 §2.2) in ONE JVM pass per row:
    * line split, per-line keep (terminal punctuation + word minimum + no
    * "javascript"), rebuilt clean text, sentence count over the clean
    * text, and the page verdict (no "lorem ipsum"/brace, sentence
    * minimum). The declarative form's per-line keep is a filter lambda
    * with a nested split+filter per LINE — interpreted HOF cost the
    * composed curation stack re-pays on every branch that consumes the
    * alive flag. Bit-identical to
    * [[graft.operators.text.C4Clean]]'s columns (same java regexes as
    * rlike/regexp_count, trim is UTF8String trim, words split on single
    * space). NULL input must be coalesced to '' by the wrapper.
    */
  case class C4Signals(child: Expression, minWordsPerLine: Int, minSentences: Int)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StructType(Seq(
      StructField("text_clean", StringType, nullable = false),
      StructField("lines_kept", LongType, nullable = false),
      StructField("lines_total", LongType, nullable = false),
      StructField("sentences", LongType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))

    private val terminal = java.util.regex.Pattern.compile("[.!?\"]\\s*$")
    private val sentenceMark = java.util.regex.Pattern.compile("[.!?]")

    override def nullSafeEval(v: Any): Any = {
      val text = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val raw = text.toString
      val lines = raw.split("\n", -1)
      val kept = new java.lang.StringBuilder(raw.length)
      var nKept = 0L
      var i = 0
      while (i < lines.length) {
        val l = lines(i)
        if (terminal.matcher(l).find()) {
          // word count: split the trimmed line on single spaces, count
          // non-empty — same algebra as the declarative nested filter
          val trimmed = org.apache.spark.unsafe.types.UTF8String
            .fromString(l).trim().toString
          var words = 0
          var p = 0
          val len = trimmed.length
          while (p < len) {
            val q = trimmed.indexOf(' ', p)
            val end = if (q < 0) len else q
            if (end > p) words += 1
            p = end + 1
          }
          if (words >= minWordsPerLine &&
              !org.apache.spark.unsafe.types.UTF8String.fromString(l)
                .toLowerCase.toString.contains("javascript")) {
            if (nKept > 0) kept.append('\n')
            kept.append(l)
            nKept += 1
          }
        }
        i += 1
      }
      val clean = kept.toString
      val m = sentenceMark.matcher(clean)
      var sentences = 0L
      while (m.find()) sentences += 1
      val keep = !text.toLowerCase.toString.contains("lorem ipsum") &&
        !raw.contains("{") && sentences >= minSentences
      new GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(clean),
        nKept, lines.length.toLong, sentences, keep))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** PII battery: per-kind match counts over the ORIGINAL text plus the
    * chained redaction, one fused evaluation per row. The declarative
    * form ran 2 independent regexp expressions per kind (count +
    * replace), each materializing the row's UTF8String separately — 6
    * conversions and 6 uncached matcher setups per row; fused, the raw
    * string materializes once and the patterns are compiled once per
    * operator instance. Counts are per-kind over the original text and
    * redaction chains in pattern order (later patterns see earlier
    * replacements) — EXACTLY the declarative/DuckDB algebra; a single
    * alternation scan would diverge on spans where a lower-priority
    * match starts before an overlapping higher-priority one.
    */
  case class PiiSignals(child: Expression, patterns: Seq[(String, String, String)])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StructType(
      patterns.map { case (k, _, _) =>
        StructField(s"${k}_count", LongType, nullable = false)
      } :+ StructField("redacted", StringType, nullable = false))

    @transient private lazy val compiled = patterns.map { case (_, p, r) =>
      (java.util.regex.Pattern.compile(p),
        java.util.regex.Matcher.quoteReplacement(r))
    }.toArray

    override def nullSafeEval(v: Any): Any = {
      val raw = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val out = new Array[Any](compiled.length + 1)
      var red = raw
      var i = 0
      while (i < compiled.length) {
        val (p, r) = compiled(i)
        if (red eq raw) {
          // count and replace see the same text (no earlier pattern has
          // replaced anything yet) — one matcher pass does both
          val m = p.matcher(raw)
          var c = 0L
          var sb: java.lang.StringBuilder = null
          while (m.find()) {
            if (sb == null) sb = new java.lang.StringBuilder(raw.length)
            c += 1
            m.appendReplacement(sb, r)
          }
          out(i) = c
          if (sb != null) { m.appendTail(sb); red = sb.toString }
        } else {
          val m = p.matcher(raw)
          var c = 0L
          while (m.find()) c += 1
          out(i) = c
          // the replace pass must run even when the ORIGINAL text has no
          // matches: a replacement token ends in a non-word char, so it
          // can CREATE a \b context that didn't exist in the original
          // ("a@b.cc1.2.3.4" → "[EMAIL]1.2.3.4" births an ipv4 match)
          red = p.matcher(red).replaceAll(r)
        }
        i += 1
      }
      out(compiled.length) =
        org.apache.spark.unsafe.types.UTF8String.fromString(red)
      new GenericInternalRow(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Exact Jaccard of two arrays (string or long elements) via hash sets —
    * the verification step of the near-dup joins.
    */
  case class ArrayJaccard(left: Expression, right: Expression)
      extends BinaryExpression with BinaryRefCodegen {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    private def elemType(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType

    private def toSet(a: ArrayData, dt: DataType): java.util.HashSet[Any] = {
      val s = new java.util.HashSet[Any]()
      var i = 0
      dt match {
        case LongType => while (i < a.numElements()) { s.add(a.getLong(i)); i += 1 }
        case _        => while (i < a.numElements()) { s.add(a.getUTF8String(i)); i += 1 }
      }
      s
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val sa = toSet(l.asInstanceOf[ArrayData], elemType(left))
      val sb = toSet(r.asInstanceOf[ArrayData], elemType(right))
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) { if (sb.contains(it.next())) inter += 1 }
      val union = sa.size() + sb.size() - inter
      if (union == 0) null else java.lang.Double.valueOf(inter.toDouble / union)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** fastText-style hashed linear text classifier (Joulin et al. 2017,
    * "Bag of Tricks for Efficient Text Classification"): features are the
    * word unigrams of the token-array child plus (when `bigrams`) their
    * space-joined adjacent bigrams, hashed into `buckets` weight slots
    * with the portable 60-bit hash; the score is
    * sigmoid(bias + mean slot weight). This is the model-based quality
    * filtering stage of the modern curation pipelines (CCNet/DCLM/
    * fineweb-edu) with the model swapped for a weight table — the Spark
    * plumbing (hash-trick lookup, broadcast table, one JVM pass per row)
    * is the production shape; training happens offline.
    *
    * Weights resolve through [[graft.ml.ClassifierWeights]] so a
    * production-sized table rides a broadcast, not the task closure.
    */
  case class LinearClassifierScore(
      child: Expression,
      bias: Double,
      buckets: Int,
      bigrams: Boolean,
      weights: graft.ml.ClassifierWeights,
      normalize: Boolean = true,
      squash: Boolean = true)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = DoubleType
    @transient private lazy val w = {
      val arr = weights.get
      require(arr.length == buckets, s"weight table ${arr.length} != buckets $buckets")
      arr
    }
    @transient private lazy val space =
      org.apache.spark.unsafe.types.UTF8String.fromString(" ")

    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val d = buckets
      var sum = 0.0
      var cnt = 0L
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        sum += w((((portableHashJvm(t) % d) + d) % d).toInt)
        cnt += 1
        if (bigrams && i + 1 < n) {
          val bg = org.apache.spark.unsafe.types.UTF8String.concat(
            t, space, toks.getUTF8String(i + 1))
          sum += w((((portableHashJvm(bg) % d) + d) % d).toInt)
          cnt += 1
        }
        i += 1
      }
      val s = bias + (if (normalize) { if (cnt > 0) sum / cnt else 0.0 } else sum)
      if (squash) 1.0 / (1.0 + math.exp(-s)) else s
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Hashed n-gram bucket ids WITH multiplicity: one entry per word
    * unigram (and, when `bigrams`, per space-joined adjacent bigram) of
    * the token-array child — the same gram enumeration and
    * portable-hash bucketing as [[LinearClassifierScore]], exposed as
    * the id array so `explode → groupBy(bucket).count` can fit
    * bag-of-hashed-ngram models distributedly (the DSIR fit pass).
    */
  case class HashedNgramBuckets(child: Expression, buckets: Int, bigrams: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val space =
      org.apache.spark.unsafe.types.UTF8String.fromString(" ")
    override def nullSafeEval(v: Any): Any = {
      val toks = v.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val d = buckets
      val out = new Array[Int](if (bigrams && n > 0) 2 * n - 1 else n)
      var k = 0
      var i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        out(k) = (((portableHashJvm(t) % d) + d) % d).toInt
        k += 1
        if (bigrams && i + 1 < n) {
          val bg = org.apache.spark.unsafe.types.UTF8String.concat(
            t, space, toks.getUTF8String(i + 1))
          out(k) = (((portableHashJvm(bg) % d) + d) % d).toInt
          k += 1
        }
        i += 1
      }
      ArrayData.toArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Broadcast-Bloom membership probe: true iff the filter MIGHT contain
    * the UTF-8 bytes of the (string) child. The probe agrees with how
    * `DataFrame.stat.bloomFilter` inserted string keys (both sides hash
    * the UTF-8 byte form), so there are no false negatives by
    * construction. One virtual call + murmur per row, no shuffle — the
    * membership side of [[graft.operators.dedup.IncrementalExactDedup]]'s
    * bloom mode.
    */
  case class BloomMightContain(
      child: Expression,
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(v: Any): Any =
      bf.value.mightContainBinary(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Membership probe against a DRIVER-COLLECTED portable bloom sketch
    * (the [[graft.functions.BloomSketch]] bit layout, as longs). The
    * one-row sketch is embedded in the expression instead of
    * cross-joined onto the probe side: the broadcast-join form stamps
    * the numBits/8-byte array into EVERY probe row's UnsafeRow
    * (measured: 8.8 s vs 0.3 s over 600k rows at 2¹⁶ bits — ~5 GB of
    * array memcpy for an 8 KB sketch), while the embedded array rides
    * the serialized task closure ONCE per stage. Child is the
    * pre-hashed 60-bit portable long key; the k probes short-circuit
    * on the first clear bit in one JVM call.
    */
  case class PortableBloomProbe(child: Expression, bits: Array[Long], numHashes: Int)
      extends UnaryExpression with UnaryRefCodegen {
    override def prettyName: String = "portable_bloom_probe"
    override def dataType: DataType = BooleanType
    @transient private lazy val numBits = bits.length * 64
    override def nullSafeEval(v: Any): Any = {
      val h = v.asInstanceOf[Long]
      var r = 0
      while (r < numHashes) {
        val idx = graft.functions.BloomSketch.bitIndex(h, r, numBits)
        if ((bits(idx >> 6) & (1L << (idx & 63))) == 0L) return java.lang.Boolean.FALSE
        r += 1
      }
      java.lang.Boolean.TRUE
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** The Gopher within-document repetition battery (Rae et al. 2021
    * Table A1) in one JVM pass: duplicate line / paragraph fractions
    * (unit count and character mass of beyond-first occurrences) plus
    * the character fraction covered by the single most frequent word
    * n-gram for n = 2, 3, 4. Deterministic top-gram tie-break: highest
    * count, then lexicographically smallest gram — mirrored exactly by
    * the DuckDB twin's ROW_NUMBER ordering. Line/paragraph units split
    * on "\n" / "\n\n" literally (split(-1) semantics, matching
    * DuckDB's string_split); character denominators are the unit-char
    * total for line/para fractions and the normalized-text length for
    * the n-gram fractions. Empty text → all zeros.
    */
  case class RepetitionSignals(child: Expression)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StructType(Seq(
      StructField("dup_line_frac", DoubleType, nullable = false),
      StructField("dup_line_char_frac", DoubleType, nullable = false),
      StructField("dup_para_frac", DoubleType, nullable = false),
      StructField("dup_para_char_frac", DoubleType, nullable = false),
      StructField("top_2gram_char_frac", DoubleType, nullable = false),
      StructField("top_3gram_char_frac", DoubleType, nullable = false),
      StructField("top_4gram_char_frac", DoubleType, nullable = false)))

    override def nullSafeEval(v: Any): Any = {
      val s = RepetitionSignals.compute(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      org.apache.spark.sql.catalyst.InternalRow(
        s(0), s(1), s(2), s(3), s(4), s(5), s(6))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  object RepetitionSignals {
    private def dupFracs(units: Array[String]): (Double, Double) = {
      if (units.isEmpty) return (0.0, 0.0)
      val counts = new java.util.HashMap[String, Integer]()
      var totChars = 0L
      units.foreach { u =>
        val prev = counts.get(u)
        counts.put(u, if (prev == null) 1 else prev + 1)
        totChars += u.length
      }
      var dupUnits = 0L
      var dupChars = 0L
      counts.forEach { (u, c) =>
        if (c > 1) { dupUnits += c - 1; dupChars += u.length.toLong * (c - 1) }
      }
      (dupUnits.toDouble / units.length,
        if (totChars == 0) 0.0 else dupChars.toDouble / totChars)
    }

    private def topGramFrac(toks: Array[String], n: Int, denom: Long): Double = {
      if (toks.length < n || denom == 0) return 0.0
      val counts = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        val g = sb.toString
        val prev = counts.get(g)
        counts.put(g, if (prev == null) 1 else prev + 1)
        i += 1
      }
      var bestGram: String = null
      var bestCnt = 0
      counts.forEach { (g, c) =>
        if (c > bestCnt || (c == bestCnt && (bestGram == null || g.compareTo(bestGram) < 0))) {
          bestGram = g; bestCnt = c
        }
      }
      bestGram.length.toDouble * bestCnt / denom
    }

    /** The 7 battery signals in declaration order — shared by the struct
      * kernel and the single-pass boolean [[RepetitionKeep]].
      */
    private[kernels] def compute(s: String): Array[Double] = {
      val lines = s.split("\n", -1)
      val paras = s.split("\n\n", -1)
      val (dlf, dlcf) = dupFracs(lines)
      val (dpf, dpcf) = dupFracs(paras)
      val toks = tokenizeJvm(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      var denom = 0L
      toks.foreach(t => denom += t.length)
      if (toks.length > 1) denom += toks.length - 1 // normalized text length
      Array(dlf, dlcf, dpf, dpcf,
        topGramFrac(toks, 2, denom), topGramFrac(toks, 3, denom),
        topGramFrac(toks, 4, denom))
    }
  }

  /** Thresholded repetition verdict in ONE battery pass per row. The
    * filter form needs all 7 signals compared against cutoffs; doing
    * that as 7 GetStructField reads of [[RepetitionSignals]] inside a
    * Filter predicate duplicates the (hash-counting, per-row-expensive)
    * kernel 7× — FilterExec has no subexpression elimination. Thresholds
    * are inclusive keeps (`<=`), matching the declarative form and the
    * DuckDB twin.
    */
  case class RepetitionKeep(child: Expression, maxes: Seq[Double])
      extends UnaryExpression with UnaryRefCodegen {
    require(maxes.length == 7, s"need 7 thresholds, got ${maxes.length}")
    override def dataType: DataType = BooleanType
    // signal order: dlf, dlcf, dpf, dpcf, t2, t3, t4
    override def nullSafeEval(v: Any): Any = {
      val s = RepetitionSignals.compute(
        v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      var i = 0
      while (i < 7) {
        if (s(i) > maxes(i)) return false
        i += 1
      }
      true
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Unicode normalization (java.text.Normalizer) with optional control
    * character stripping — the mojibake/combining-char cleanup every
    * text pipeline runs before hashing or tokenizing. NFC is the form
    * with a DuckDB twin (`nfc_normalize`); both implement the Unicode
    * canonical-composition spec, so they agree on every assigned
    * codepoint. `stripControls` removes Cc/Cf controls except \t \n \r
    * (the whitespace the tokenizer understands).
    */
  case class UnicodeNormalize(child: Expression, form: String, stripControls: Boolean)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StringType
    @transient private lazy val nf = java.text.Normalizer.Form.valueOf(form)
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val n = java.text.Normalizer.normalize(s, nf)
      val out =
        if (!stripControls) n
        else {
          val b = new java.lang.StringBuilder(n.length)
          var i = 0
          while (i < n.length) {
            val cp = n.codePointAt(i)
            val t = Character.getType(cp)
            val keep = (t != Character.CONTROL && t != Character.FORMAT) ||
              cp == '\t' || cp == '\n' || cp == '\r'
            if (keep) b.appendCodePoint(cp)
            i += Character.charCount(cp)
          }
          b.toString
        }
      org.apache.spark.unsafe.types.UTF8String.fromString(out)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Accent folding: NFD-decompose, drop combining marks (Mn), recompose
    * NFC — "café"→"cafe", "Ångström"→"Angstrom", while letters WITHOUT a
    * canonical decomposition (ø, ł, ß) pass through unchanged and Hangul
    * recomposes intact. Verified codepoint-for-codepoint against DuckDB's
    * `strip_accents` (utf8proc) across Latin, Greek, Vietnamese,
    * multi-mark, and Hangul probes — both implement the same Unicode
    * decomposition tables, which is what makes the oracle gate possible.
    */
  case class StripAccents(child: Expression)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
      val d = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      val b = new java.lang.StringBuilder(d.length)
      var i = 0
      while (i < d.length) {
        val cp = d.codePointAt(i)
        if (Character.getType(cp) != Character.NON_SPACING_MARK) b.appendCodePoint(cp)
        i += Character.charCount(cp)
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(
        java.text.Normalizer.normalize(b.toString, java.text.Normalizer.Form.NFC))
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Deflate compression ratio of the UTF-8 text bytes:
    * `compressed/raw` in (0, ~1.03] — the classic cheap
    * boilerplate/repetition signal (highly repetitive or templated text
    * compresses far below prose; random/binary-ish text sits near or
    * above 1). Level is pinned (BEST_SPEED) and zlib output for a given
    * (input, level, strategy) is deterministic within a JVM lineage, so
    * the column is stable across partitionings and reruns — but there is
    * no DuckDB zlib, so this signal is spec-pinned rather than
    * oracle-hashed (its gate records the weaker rows-only check).
    * Empty/null-coalesced text → 1.0 (no evidence either way).
    */
  case class DeflateRatio(child: Expression)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      if (bytes.isEmpty) return java.lang.Double.valueOf(1.0)
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      try {
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        java.lang.Double.valueOf(total.toDouble / bytes.length.toDouble)
      } finally d.end()
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Thresholded deflate-ratio verdict in ONE compression pass per row
    * (two struct-free comparisons of [[DeflateRatio]] in a Filter
    * predicate would deflate every row twice — FilterExec has no
    * subexpression elimination, the RepetitionKeep lesson). Inclusive
    * bounds.
    */
  case class DeflateKeep(child: Expression, minRatio: Double, maxRatio: Double)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = BooleanType
    private val inner = DeflateRatio(child)
    override def nullSafeEval(v: Any): Any = {
      val r = inner.nullSafeEval(v).asInstanceOf[java.lang.Double].doubleValue()
      r >= minRatio && r <= maxRatio
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** BPE token count under a fixed merge list in one JVM pass per row:
    * normalize (the exact lower/trim/collapse `TextFunctions
    * .normalizeText` algebra), whitespace-split, encode each word with
    * the sequential-merge loop of [[graft.operators.text
    * .BpeVocabInduction.encode]], and sum the token counts. A
    * per-partition word→count memo (natural-language corpora reuse a
    * small vocabulary; HF tokenizers ship the same cache) makes the
    * common case a hash lookup — the declarative 20-nested-`replace`
    * form this replaces re-scanned a delimited symbol string per merge
    * per word (measured 5.5 s vs ~0.6 s at sf0.1). Cache capped to
    * bound memory on adversarial vocabularies.
    */
  case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = LongType
    @transient private lazy val memo = new java.util.HashMap[String, java.lang.Long]()
    private val MaxMemo = 1 << 16

    private def encodeCount(word: String): Long = {
      var syms: Array[String] = word.split("").filter(_.nonEmpty) :+ "</w>"
      merges.foreach { pair =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
            out += syms(i) + syms(i + 1); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toArray
      }
      syms.length.toLong
    }

    override def nullSafeEval(v: Any): Any = {
      val norm = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)
      if (norm.isEmpty) java.lang.Long.valueOf(0L)
      else {
        var total = 0L
        var from = 0
        while (from <= norm.length) {
          val sp = norm.indexOf(' ', from)
          val end = if (sp < 0) norm.length else sp
          if (end > from) {
            val w = norm.substring(from, end)
            val cached = memo.get(w)
            val c = if (cached != null) cached.longValue()
            else {
              val n = encodeCount(w)
              if (memo.size < MaxMemo) memo.put(w, java.lang.Long.valueOf(n))
              n
            }
            total += c
          }
          from = end + 1
        }
        java.lang.Long.valueOf(total)
      }
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Packed product-quantization code in ONE JVM pass per row: for each
    * subspace m, argmin-centroid squared-L2 (ties to the smallest k via
    * strict `<` over ascending k), packed radix-numCentroids with
    * subspace 0 least significant. Bit-identical to the declarative
    * `array_min(struct(d, k))` tree in [[graft.operators.vector
    * .ProductQuantizer.packedCodeDeclarative]] (same left-to-right
    * distance fold), which that class keeps as the semantics reference —
    * the declarative form is ~1k Catalyst nodes per row (8 subspaces ×
    * 16 centroids × 8 dims) and paid ~3 s/20k rows mostly in codegen.
    */
  case class PqEncodePacked(child: Expression, codebook: Seq[Seq[Seq[Double]]])
      extends UnaryExpression with UnaryRefCodegen {
    require(codebook.nonEmpty && codebook.head.nonEmpty && codebook.head.head.nonEmpty)
    override def dataType: DataType = LongType
    // a too-short vector encodes to null (the fixed-offset reads below
    // must never run past the array — a truncated embedding row is a
    // data problem to surface downstream, not memory to misread)
    override def nullable: Boolean = true
    private val cb: Array[Array[Array[Double]]] =
      codebook.map(_.map(_.toArray).toArray).toArray
    private def elemType = child.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() < cb.length * cb(0)(0).length) return null
      val at = elemType
      val dsub = cb(0)(0).length
      var packed = 0L
      var radix = 1L
      var m = 0
      while (m < cb.length) {
        val cents = cb(m)
        var best = 0L
        var bestD = Double.MaxValue
        var k = 0
        while (k < cents.length) {
          val cent = cents(k)
          var d = 0.0
          var i = 0
          while (i < dsub) {
            val diff = arrayDouble(a, at, m * dsub + i) - cent(i)
            d += diff * diff
            i += 1
          }
          if (d < bestD) { bestD = d; best = k }
          k += 1
        }
        packed += best * radix
        radix *= cents.length
        m += 1
      }
      java.lang.Long.valueOf(packed)
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** ORACLE-PORTABLE Viterbi token count: segments like
    * [[graft.operators.text.UnigramLmInduction.segment]] but over
    * INTEGER-scaled piece log-probs with an exact packed-
    * BIGINT DP, so a SQL engine can replay it bit-for-bit (no float
    * comparisons decide anything). Per position the DP keeps
    * `V[i] = max_l candidate(l)` where
    * `candidate(l) = V[i-l] + lp(w[i-l..i])·64 − 1` when the piece is
    * in-vocab, else the sentinel `−2⁶²`; the ·64−1 packing makes the
    * max lexicographic on (score, fewer pieces) — scaled scores are
    * exact BIGINTs, so ties are decided by piece count, never by float
    * noise (the tie rule difference vs the trainer's longest-piece
    * rule). Piece count decodes as
    * `(−V[n]) % 64`; a word longer than 63 chars (pieces wouldn't fit
    * the packing) or with an out-of-vocab char (V[n] ≤ −2⁶¹ —
    * unreachable; real scores are ≥ −10¹¹ even at 10¹² corpus tokens)
    * falls back to char count. The declarative twin is
    * [[graft.operators.text.UnigramViterbiCount.countDeclarative]]
    * (spec-pinned equal), which is also the shape of the DuckDB twin.
    */
  case class UnigramScaledTokenCount(child: Expression,
      vocab: Seq[(String, Long)], maxPieceLen: Int)
      extends UnaryExpression with UnaryRefCodegen {
    override def dataType: DataType = LongType
    private val Sent = -(1L << 62)
    private val Unreach = -(1L << 61)
    @transient private lazy val logp: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long]()
      vocab.foreach { case (p, lp) => m.put(p, java.lang.Long.valueOf(lp)) }
      m
    }
    @transient private lazy val memo = new java.util.HashMap[String, java.lang.Long]()
    private val MaxMemo = 1 << 16

    private def segCount(word: String): Long = {
      // DP over CODE POINTS, not UTF-16 units — Spark's length()/
      // substring() and DuckDB's len()/substring() both count
      // codepoints, and the vocab derives from them; a code-unit DP
      // would split surrogate pairs and break the bit-parity contract
      // on supplementary-plane text
      val cps = word.codePoints().toArray
      val n = cps.length
      if (n > 63) return n.toLong
      val v = new Array[Long](n + 1)
      var i = 1
      while (i <= n) {
        var best = Long.MinValue
        var l = 1
        while (l <= maxPieceLen) {
          val cand =
            if (l > i) Sent
            else {
              val p = logp.get(new String(cps, i - l, l))
              if (p == null) Sent else v(i - l) + p.longValue() * 64L - 1L
            }
          if (cand > best) best = cand
          l += 1
        }
        v(i) = best
        i += 1
      }
      if (v(n) <= Unreach) n.toLong else (-v(n)) % 64L
    }

    override def nullSafeEval(in: Any): Any = {
      val norm = in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.replaceAll("\\s+", " ").trim.toLowerCase(java.util.Locale.ROOT)
      if (norm.isEmpty) java.lang.Long.valueOf(0L)
      else {
        var total = 0L
        var from = 0
        while (from <= norm.length) {
          val sp = norm.indexOf(' ', from)
          val end = if (sp < 0) norm.length else sp
          if (end > from) {
            val w = norm.substring(from, end)
            val cached = memo.get(w)
            val c = if (cached != null) cached.longValue()
            else {
              val n = segCount(w)
              if (memo.size < MaxMemo) memo.put(w, java.lang.Long.valueOf(n))
              n
            }
            total += c
          }
          from = end + 1
        }
        java.lang.Long.valueOf(total)
      }
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  // Column wrappers
  def bpe_token_count(text: Column, merges: Seq[(String, String)]): Column =
    expr2col(BpeTokenCount(colExpr(text), merges))
  /** Oracle-portable integer-scaled Viterbi token count. */
  def unigram_scaled_token_count(text: Column, vocab: Seq[(String, Long)],
      maxPieceLen: Int): Column =
    expr2col(UnigramScaledTokenCount(colExpr(text), vocab, maxPieceLen))
  def array_cosine(a: Column, b: Column): Column = expr2col(ArrayCosine(colExpr(a), colExpr(b)))
  def unicode_normalize(text: Column, form: String = "NFC",
      stripControls: Boolean = false): Column =
    expr2col(UnicodeNormalize(colExpr(text), form, stripControls))
  def strip_accents(text: Column): Column = expr2col(StripAccents(colExpr(text)))
  /** Gopher repetition battery struct; coalesces NULL text to ''. */
  def repetition_signals(text: Column): Column =
    expr2col(RepetitionSignals(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit("")))))
  /** One-pass thresholded repetition verdict (order: dup line frac,
    * dup line char frac, dup para frac, dup para char frac, top-2/3/4
    * gram char frac); coalesces NULL text to ''.
    */
  def repetition_keep(text: Column, maxes: Seq[Double]): Column =
    expr2col(RepetitionKeep(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))), maxes))
  def minhash_signature(hs: Column, numHashes: Int, portable: Boolean): Column =
    expr2col(MinHashSignature(colExpr(hs), numHashes, portable))
  def minhash_from_hashes(hs: Column, numHashes: Int, portable: Boolean): Column =
    expr2col(MinHashFromHashes(colExpr(hs), numHashes, portable))

  def oph_minhash_from_hashes(hs: Column, numHashes: Int, portable: Boolean): Column =
    expr2col(OphMinHashFromHashes(colExpr(hs), numHashes, portable))
  def shingle_hashes(text: Column, w: Int): Column = expr2col(ShingleHashes(colExpr(text), w))
  def shingle_hashes_positional(text: Column, w: Int, family: String): Column =
    expr2col(ShingleHashesPositional(colExpr(text), w, family))
  def coverage_mask(toks: Column, dups: Column, w: Int): Column =
    expr2col(CoverageMask(colExpr(toks), colExpr(dups), w))
  def simhash_bits(hs: Column, bits: Int): Column = expr2col(SimHash(colExpr(hs), bits))
  def nearest_centroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    expr2col(NearestCentroid(colExpr(vec), centroids))
  def nearest_centroid_dist(vec: Column, centroids: Seq[Seq[Double]]): Column =
    expr2col(NearestCentroidDist(colExpr(vec), centroids))
  def nearest_centroids(vec: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    expr2col(NearestCentroids(colExpr(vec), centroids, nprobe))
  def stopword_scores(toks: Column, profiles: Seq[Seq[String]]): Column =
    expr2col(StopwordScores(colExpr(toks), profiles))
  /** Exact wordlist hit count over a token array. */
  def wordlist_hits(toks: Column, words: Seq[String]): Column =
    expr2col(WordlistHits(colExpr(toks), words))
  /** One-pass wordlist keep verdict over raw text; NULL text → keep. */
  def wordlist_keep(text: Column, words: Seq[String],
      maxHitFrac: Double, maxHits: Long): Column =
    expr2col(WordlistKeep(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))),
      words, maxHitFrac, maxHits))
  /** Unrounded composite quality score (wrap in `round(_, 9)`). */
  def quality_score_raw(text: Column, profiles: Seq[Seq[String]]): Column =
    expr2col(QualityScoreRaw(colExpr(text), profiles))
  /** Deflate compression ratio of the text; NULL text → 1.0. */
  def deflate_ratio(text: Column): Column =
    expr2col(DeflateRatio(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit("")))))
  /** One-pass thresholded deflate-ratio verdict; NULL text → ratio 1.0. */
  def deflate_keep(text: Column, minRatio: Double, maxRatio: Double): Column =
    expr2col(DeflateKeep(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))), minRatio, maxRatio))
  /** Scalar 60-bit portable hash; caller casts to string first. */
  def portable_hash64(s: Column): Column = expr2col(PortableHash64(colExpr(s)))
  /** Adjacent-token bigram rows `(_h1,_h2,_hb)` (multiplicity + order
    * kept); NULL text → []. */
  def token_bigrams(text: Column): Column =
    expr2col(TokenBigrams(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit("")))))
  /** Distinct q-char-gram hashes (first-occurrence order); NULL text → []. */
  def chargram_hashes(text: Column, q: Int, portable: Boolean): Column =
    expr2col(CharGramHashes(colExpr(
      org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))), q, portable))
  /** Packed PQ code (radix numCentroids, subspace 0 least significant). */
  def pq_encode_packed(vec: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    expr2col(PqEncodePacked(colExpr(vec), codebook))
  /** PII battery struct; null text → null struct (callers coalesce the
    * counts to 0 and leave the redaction null, the declarative contract). */
  def pii_signals(text: Column, patterns: Seq[(String, String, String)]): Column =
    expr2col(PiiSignals(colExpr(text), patterns))
  def array_jaccard(a: Column, b: Column): Column = expr2col(ArrayJaccard(colExpr(a), colExpr(b)))
  def bloom_might_contain(key: Column,
      bf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    expr2col(BloomMightContain(colExpr(key), bf))
  /** Hashed-linear classifier probability over a token-array column. */
  def linear_classifier_score(toks: Column, bias: Double, buckets: Int,
      bigrams: Boolean, weights: graft.ml.ClassifierWeights): Column =
    expr2col(LinearClassifierScore(colExpr(toks), bias, buckets, bigrams, weights))
  /** Raw hashed-ngram log-weight sum (no mean, no sigmoid) — the DSIR
    * importance score Σ_grams w[bucket(gram)]. */
  def hashed_ngram_logweight(toks: Column, buckets: Int, bigrams: Boolean,
      weights: graft.ml.ClassifierWeights): Column =
    expr2col(LinearClassifierScore(colExpr(toks), 0.0, buckets, bigrams, weights,
      normalize = false, squash = false))
  /** Hashed n-gram bucket ids with multiplicity (the DSIR fit pass). */
  def hashed_ngram_buckets(toks: Column, buckets: Int, bigrams: Boolean): Column =
    expr2col(HashedNgramBuckets(colExpr(toks), buckets, bigrams))
  /** Gopher battery struct; coalesces NULL text to '' (the declarative
    * form is null-tolerant). */
  def gopher_signals(text: Column, stopwords: Seq[String],
      minWords: Long, maxWords: Long, minStopwords: Int): Column =
    expr2col(GopherSignals(
      colExpr(org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))),
      stopwords, minWords, maxWords, minStopwords))
  /** C4 page-cleaning struct; coalesces NULL text to ''. */
  def c4_signals(text: Column, minWordsPerLine: Int, minSentences: Int): Column =
    expr2col(C4Signals(
      colExpr(org.apache.spark.sql.functions.coalesce(
        text, org.apache.spark.sql.functions.lit(""))),
      minWordsPerLine, minSentences))

  private def colExpr(c: Column): Expression = org.apache.spark.sql.graftshim.Shim.expression(c)
  private def expr2col(e: Expression): Column = org.apache.spark.sql.graftshim.Shim.column(e)
}
