package graft.ml

/** Weight table for the hashed linear text classifier
  * ([[graft.plans.kernels.LinearClassifierScore]]).
  *
  * The table is a plain array inside the plan; the registry and the
  * gates build it (the 2^12 gate model is 32 KB).
  *
  * `deterministic` builds the synthetic table the oracle gates use: each
  * slot's weight is a closed-form function of its index, so DuckDB can
  * recompute the identical model inline ([[ClassifierWeights.weightSql]]).
  */
final case class ClassifierWeights(values: Array[Double])

object ClassifierWeights {

  /** Deterministic synthetic table with a closed-form SQL twin:
    * w(j) = ((j * 40503) % 1999) / 999.0 − 1.0  ∈ [−1, 1). 40503 is odd
    * and coprime to 1999 (prime), so slots cycle through all 1999 values.
    */
  def deterministic(buckets: Int): ClassifierWeights =
    ClassifierWeights(Array.tabulate(buckets)(j => ((j.toLong * 40503L) % 1999L).toDouble / 999.0 - 1.0))

  /** DuckDB expression computing `deterministic` slot `bucketExpr`'s weight. */
  def weightSql(bucketExpr: String): String =
    s"(CAST((($bucketExpr) * 40503) % 1999 AS DOUBLE) / 999.0 - 1.0)"

  /** Load a little-endian float32 weight file (the shape a fastText /
    * scikit export writes) as a table. */
  def fromFile(path: String): ClassifierWeights = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(bytes.length % 4 == 0, s"weight file $path length ${bytes.length} not a float32 array")
    val fb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val out = new Array[Double](fb.remaining())
    var i = 0
    while (i < out.length) { out(i) = fb.get(i).toDouble; i += 1 }
    ClassifierWeights(out)
  }
}
