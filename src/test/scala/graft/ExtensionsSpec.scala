package graft

import org.apache.spark.sql.functions._

/** The SparkSessionExtensions surface: kernel SQL functions and the
  * opt-in vector-cartesian guard rule. Uses the shared TestSpark
  * session (built WITH GraftExtensions via GraftSession.builder).
  */
class ExtensionsSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  test("strip_accents is a native SQL function equal to the Column API") {
    val df = Seq((1L, "café Ångström"), (2L, "ø ß 한국어")).toDF("id", "t")
    df.createOrReplaceTempView("ext_sa")
    val viaSql = spark.sql("SELECT id, strip_accents(t) AS f FROM ext_sa")
      .as[(Long, String)].collect().toMap
    val viaCol = df.select(col("id"), graft.plans.kernels.strip_accents(col("t")).as("f"))
      .as[(Long, String)].collect().toMap
    assert(viaSql == viaCol)
    assert(viaSql(1L) == "cafe Angstrom" && viaSql(2L) == "ø ß 한국어")
  }

  test("array_cosine and shingle_hashes work from SQL") {
    val cos = spark.sql("SELECT array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .as[Double].first()
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = spark.sql("SELECT shingle_hashes('a b c d', 3) AS h").as[Seq[Long]].first()
    assert(sh.length == 2) // 4 tokens, width 3 => 2 shingles
  }

  test("unicode_normalize from SQL honors the form argument") {
    // NFKC folds the ligature ﬁ to fi; NFC leaves it
    val out = spark.sql(
      "SELECT unicode_normalize('ﬁn', 'NFKC') AS k, unicode_normalize('ﬁn') AS c")
      .as[(String, String)].first()
    assert(out._1 == "fin" && out._2 == "ﬁn")
  }

  test("sql plan for a kernel function matches the Column API plan (no UDF node)") {
    val df = Seq((1L, "x")).toDF("id", "t")
    df.createOrReplaceTempView("ext_plan")
    val plan = spark.sql("SELECT strip_accents(t) FROM ext_plan")
      .queryExecution.analyzed.toString
    assert(plan.contains("stripaccents") || plan.contains("StripAccents"))
    assert(!plan.toLowerCase.contains("scalaudf"), s"kernel fn planned as a UDF:\n$plan")
  }

  test("kmv_distinct aggregates from SQL and matches the Column API") {
    val df = (1 to 5000).map(i => i % 900).toDF("v")
    df.createOrReplaceTempView("ext_kmv")
    val viaSql = spark.sql(
      "SELECT kmv_distinct(CAST(conv(substring(md5(CAST(CAST(v AS STRING) AS BINARY)), 1, 15), 16, 10) AS BIGINT), 64) AS e FROM ext_kmv")
      .as[Double].first()
    val viaCol = df.agg(graft.functions.KmvSketch.kmvDistinct(
      graft.functions.HashFunctions.portableHash64(col("v")), 64).as("e"))
      .as[Double].first()
    assert(viaSql == viaCol)
    // k=64 → ~13% expected relative error; this fixture draws +29% (≈2σ)
    assert(viaSql > 500 && viaSql < 1400, s"estimate $viaSql far from 900")
  }

  test("topk_values aggregates from SQL: bounded partials, both directions") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    df.createOrReplaceTempView("ext_topk")
    val hi = spark.sql("SELECT topk_values(v, 3) AS t FROM ext_topk")
      .head().getSeq[Double](0)
    assert(hi == Seq(1000.0, 999.0, 998.0))
    val lo = spark.sql("SELECT topk_values(v, 3, false) AS t FROM ext_topk")
      .head().getSeq[Double](0)
    assert(lo == Seq(1.0, 2.0, 3.0))
    val p = spark.sql("SELECT topk_values(v, 3) FROM ext_topk")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_topk_values"), p)
  }

  test("vector cartesian guard: off by default, fails the plan when enabled") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
    // off: the cross join plans and runs
    assert(vecs.crossJoin(vecs.select(col("v").as("v2"))).count() == 4)
    spark.conf.set("spark.graft.failOnVectorCartesian", "true")
    try {
      // count() alone would NOT trip the guard: column pruning strips the
      // vector payload before the join, so no vectors shuffle — the guard
      // fires only when vector columns actually flow through the product
      assert(vecs.crossJoin(vecs.select(col("id").as("id2"))).count() == 4)
      val ex = intercept[Exception] {
        vecs.crossJoin(vecs.select(col("v").as("v2"))).select("v", "v2").collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
      assert(messages(ex).exists(m => m != null && m.contains("Cartesian join")),
        s"wrong failure: $ex")
      // keyed joins and scalar cross joins still pass
      assert(vecs.join(vecs.select(col("id").as("id2"), col("v").as("v2")),
        col("id") === col("id2")).count() == 2)
      assert(vecs.crossJoin(Seq(Tuple1(1)).toDF("k")).count() == 2)
    } finally spark.conf.set("spark.graft.failOnVectorCartesian", "false")
  }

  test("guard enabled does not break the bucketed semantic-dedup path") {
    spark.conf.set("spark.graft.failOnVectorCartesian", "true")
    try {
      val op = new graft.operators.vector.EmbeddingCosineDedup(
        vecCol = "embedding", idCol = "vec_id", threshold = 0.95,
        bucketCol = Some("label"))
      assert(op(table("embeddings")).count() > 0)
    } finally spark.conf.set("spark.graft.failOnVectorCartesian", "false")
  }
}
