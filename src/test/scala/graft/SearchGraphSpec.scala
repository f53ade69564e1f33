package graft

import graft.functions.{CmsSketch, HashFunctions}
import graft.operators.graph.{FixedPointPageRank, LabelPropagation}
import graft.operators.text.Bm25Retrieval
import org.apache.spark.sql.functions._

/** Semantic invariants of the retrieval/sketch/graph family (the oracle
  * gates cover cross-engine equality; these pin the intended behavior
  * and the plan shapes).
  */
class SearchGraphSpec extends ScopedSuite {
  import TestSpark._
  import spark.implicits._

  // ---- BM25 ----

  test("bm25: docs containing the query terms outrank docs without them") {
    val df = Seq(
      (1L, "spark joins the window functions with spark aggregates"),
      (2L, "nothing relevant here about cooking pasta tonight"),
      (3L, "a single mention of spark in a long unrelated sentence " +
        "about gardens flowers trees and rivers flowing far away"))
      .toDF("doc_id", "text")
    val out = new Bm25Retrieval(Seq("spark", "window"), topK = 10)(df)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(out.map(_._1).toSeq == Seq(1L, 3L), out.mkString(", "))
    assert(out(0)._2 > out(1)._2)
  }

  test("bm25: top-k plans as TakeOrderedAndProject with a broadcast stats row, no explode") {
    val plan = planOf(new Bm25Retrieval(Seq("spark"), topK = 5)(table("documents")))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("Generate"), s"posting-list explode in the BM25 plan:\n$plan")
  }

  // ---- Count-Min Sketch ----

  test("cms: estimates upper-bound true counts and are exact for unique-bucket keys") {
    val words = Seq.tabulate(2000)(i => s"w${i % 97}").toDF("w")
      .select(col("w"), HashFunctions.portableHash64(col("w")).as("h"))
    val sk = words.agg(CmsSketch.cmsSketch(col("h"), 3, 256).as("sk"))
    val probes = Seq("w0", "w1", "w96", "absent")
    val ests = sk.select(probes.map(t => CmsSketch.estimate(col("sk"),
      HashFunctions.portableHash64(lit(t)), 3, 256).as(t)): _*).head()
    val truth = Map("w0" -> 21L, "w1" -> 21L, "w96" -> 20L, "absent" -> 0L)
    probes.zipWithIndex.foreach { case (t, i) =>
      assert(ests.getLong(i) >= truth(t), s"$t underestimated")
    }
  }

  test("cms: sketch is invariant to partitioning (merge order)") {
    val words = Seq.tabulate(500)(i => s"tok$i").toDF("w")
      .select(HashFunctions.portableHash64(col("w")).as("h"))
    def sketch(parts: Int): Seq[Long] =
      words.repartition(parts).agg(CmsSketch.cmsSketch(col("h"), 3, 64).as("sk"))
        .head().getSeq[Long](0)
    assert(sketch(1) == sketch(7))
  }

  test("cms: aggregate plans as ObjectHashAggregate (mergeable partials)") {
    val words = table("documents")
      .select(HashFunctions.portableHash64(col("text")).as("h"))
    val plan = planOf(words.agg(CmsSketch.cmsSketch(col("h"), 3, 64)))
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("auc: perfect separation 1.0, all-tied 0.5, inverted 0.0, ties averaged") {
    import graft.operators.ml.BinaryAuc
    def one(rows: Seq[(Double, Boolean)]): Double =
      BinaryAuc.auc(rows.toDF("s", "y"), col("s"), col("y")).head().getDouble(0)
    assert(one(Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))) == 1.0)
    assert(one(Seq((0.1, true), (0.2, true), (0.8, false), (0.9, false))) == 0.0)
    assert(one(Seq((0.5, true), (0.5, false), (0.5, true), (0.5, false))) == 0.5)
    // one tie straddling the classes contributes half a concordant pair:
    // pos {0.5, 0.9}, neg {0.5, 0.1} -> (1 + 0.5 + 1 + 1) / 4 = 0.875
    assert(one(Seq((0.9, true), (0.5, true), (0.5, false), (0.1, false))) == 0.875)
  }

  test("auc: two-level distributed rank equals the pairwise definition on seeded data") {
    import graft.operators.ml.BinaryAuc
    val rnd = new scala.util.Random(42)
    // heavy ties on purpose: 9 distinct scores over 400 rows
    val rows = Seq.fill(400)((math.floor(rnd.nextDouble() * 9) / 9.0,
      rnd.nextDouble() < 0.4))
    val got = BinaryAuc.auc(rows.toDF("s", "y").repartition(7), col("s"), col("y"))
      .head().getDouble(0)
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val pairwise = pos.map(p => neg.map(q =>
      if (p > q) 1.0 else if (p == q) 0.5 else 0.0).sum).sum / (pos.size * neg.size)
    assert(math.abs(got - pairwise) < 1e-9, s"got $got pairwise $pairwise")
  }

  test("hard negatives: never the query's own label, never the query itself, at most k") {
    val emb = table("embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val out = graft.operators.vector.AnnSearch.hardNegatives(
      emb, queries, "embedding", "vec_id", "vec_id", "label", k = 4)
    val labels = emb.select(col("vec_id").as("vid"), col("label"))
    val joined = out
      .join(labels.withColumnRenamed("vid", "query_id")
        .withColumnRenamed("label", "qlab"), "query_id")
      .join(labels.withColumnRenamed("vid", "vec_id"), "vec_id")
    assert(joined.where(col("label") === col("qlab")).count() == 0)
    assert(out.where(col("query_id") === col("vec_id")).count() == 0)
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) <= 4))
  }

  // ---- fixed-point PageRank ----

  test("pagerank: symmetric 2-cycle converges to equal ranks, sinks drain") {
    val nodes = Seq(0L, 1L, 2L).toDF("id")
    // 0 <-> 1 cycle; 2 points at 0 but nothing points at 2
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    // the 2-cycle oscillates with parity and decays by damping² per
    // double-step; 40 iterations puts the residual far below the
    // steady-state gap (r0−r1 ≈ 0.069·scale)
    val out = new FixedPointPageRank(iterations = 40)
      .ranks(nodes, edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) > out(1L)) // 0 also receives 2's mass
    assert(out(1L) > out(2L)) // 2 only ever holds the base
    assert(out(2L) == 150000L)
  }

  test("pagerank: ranks are invariant to input partitioning") {
    val nodes = spark.range(0, 200).select(col("id"))
    val edges = nodes.select(col("id").as("src"), ((col("id") * 3 + 1) % 200).as("dst"))
    val pr = new FixedPointPageRank(iterations = 4)
    val a = pr.ranks(nodes, edges).orderBy("id").collect().map(_.getLong(1)).toSeq
    val b = pr.ranks(nodes.repartition(13), edges.repartition(7))
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(a == b)
  }

  test("pagerank: loop leaves no cached RDDs behind beyond the final checkpoint") {
    val nodes = spark.range(0, 50).select(col("id"))
    val edges = nodes.select(col("id").as("src"), ((col("id") + 1) % 50).as("dst"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = new FixedPointPageRank(iterations = 3).ranks(nodes, edges)
    out.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // final ranks + the one-time edges-with-outdeg table
    assert(after - before <= 2, s"leaked caches: ${after - before}")
  }

  // ---- Label propagation ----

  test("lpa: planted dense blocks each collapse to one community, blocks stay apart") {
    // two 5-cliques (heavy weights) joined by one weak edge
    val cliqueA = for (i <- 0L until 5L; j <- 0L until 5L if i < j) yield (i, j, 10L)
    val cliqueB = for (i <- 5L until 10L; j <- 5L until 10L if i < j) yield (i, j, 10L)
    val bridge = Seq((4L, 5L, 1L))
    val edges = (cliqueA ++ cliqueB ++ bridge).toDF("src", "dst", "n")
    val out = new LabelPropagation(iterations = 4).communities(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val commA = (0L until 5L).map(out).toSet
    val commB = (5L until 10L).map(out).toSet
    assert(commA.size == 1, s"block A split: $commA")
    assert(commB.size == 1, s"block B split: $commB")
    assert(commA != commB, "weak bridge fused the blocks")
  }

  test("lpa: result is invariant to input partitioning") {
    val edges = (0 until 120).map { i =>
      (i.toLong, ((i * 7 + 3) % 120).toLong, (i % 4 + 1).toLong)
    }.toDF("src", "dst", "n")
    val lpa = new LabelPropagation(iterations = 3)
    val a = lpa.communities(edges).orderBy("id").collect().map(_.toSeq).toSeq
    val b = lpa.communities(edges.repartition(13)).orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("lpa: loop leaves no cached RDDs behind beyond the final checkpoint") {
    val edges = (0L until 60L).map(i => (i, (i + 1) % 60, 1L)).toDF("src", "dst", "n")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = new LabelPropagation(iterations = 3).communities(edges)
    out.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1, s"leaked caches: ${after - before}")
  }

  test("rrf: a doc ranked in both lists beats single-list docs; scores are 1/(k+r) sums") {
    import graft.operators.text.HybridRetrieval
    val a = Seq((10L, 0.9), (20L, 0.8), (30L, 0.7)).toDF("id", "s")
    val b = Seq((20L, 0.99), (40L, 0.5)).toDF("id", "s")
    val out = HybridRetrieval.rrf(a, "id", "s", b, "id", "s", kRrf = 60, topK = 10)
      .collect()
    // 20 is rank 2 in a, rank 1 in b → 1/62 + 1/61; others single-list
    assert(out.head.getLong(0) == 20L)
    val exp20 = BigDecimal(1.0 / 62.0 + 1.0 / 61.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head.getDouble(1) == exp20)
    assert(out.map(_.getLong(0)).toSet == Set(10L, 20L, 30L, 40L))
    // 10 (rank 1 in a alone, 1/61) beats 40 (rank 2 in b alone, 1/62)
    val byId = out.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId(10L) > byId(40L))
  }

  test("rrf: oversized input lists are guarded — bounded distributed top-K, head-identical fusion") {
    import graft.operators.text.HybridRetrieval
    // inputs are top-k lists BY CONTRACT, but the API accepts arbitrary
    // frames: an oversized list must be cut to its top maxListSize rows
    // by the same (score DESC, id) order the ranks use, via a
    // distributed TakeOrderedAndProject — never an unpartitioned rank
    // window over the full frame
    val big = (0L until 500L).map(i => (i, 1000.0 - i)).toDF("id", "s")
    val b = Seq((3L, 0.9), (480L, 0.8)).toDF("id", "s")
    val out = HybridRetrieval.rrf(big, "id", "s", b, "id", "s",
      kRrf = 60, topK = 5, maxListSize = 20)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val rows = out.collect()
    // id 3: rank 4 in big's head + rank 1 in b → the only both-list doc
    val exp3 = BigDecimal(1.0 / 64.0 + 1.0 / 61.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getLong(0) == 3L && rows.head.getDouble(1) == exp3)
    // id 480 is beyond big's 20-row head: contributes only its b rank
    val byId = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp480 = BigDecimal(1.0 / 62.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byId(480L) == exp480)
    // maxListSize below topK is a contract violation, not silent truncation
    intercept[IllegalArgumentException] {
      HybridRetrieval.rrf(big, "id", "s", b, "id", "s", topK = 10, maxListSize = 5)
    }
  }

  test("triangles: K4 has 4 (3 per vertex); stars have none; dups/loops/reversals collapse") {
    import graft.operators.graph.TriangleCount
    val tc = new TriangleCount()
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toDF("src", "dst")
    val out = tc.counts(k4).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 3L, 3L, 3L))
    // each triangle counts once per corner
    assert(out.map(_.getLong(1)).sum / 3 == 4L)
    // star graph: many wedges, zero closures
    val star = (1L to 10L).map((0L, _)).toDF("src", "dst")
    assert(tc.counts(star).count() == 0)
    // duplicates, reversed duplicates, and self-loops change nothing
    val noisy = k4.unionAll(k4.select(col("dst").as("src"), col("src").as("dst")))
      .unionAll(Seq((2L, 2L)).toDF("src", "dst"))
    assert(tc.counts(noisy).collect().toSeq == out.toSeq)
  }

  test("ndcg: hand-computed on a crafted ranking; perfect ranking scores 1") {
    import graft.operators.ml.RankingMetrics
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    // ranks 1..5 (score desc): rel = 1,0,1,1,0
    val df = Seq((1L, 0.9, 1L), (2L, 0.8, 0L), (3L, 0.7, 1L), (4L, 0.6, 1L), (5L, 0.5, 0L))
      .toDF("id", "s", "rel")
    val r = RankingMetrics.ndcgAtK(df, "id", "s", "rel", k = 5).head()
    val dcg = 1.0 / lg2(2) + 1.0 / lg2(4) + 1.0 / lg2(5)
    val idcg = 1.0 / lg2(2) + 1.0 / lg2(3) + 1.0 / lg2(4)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(1) == 3L && r.getDouble(2) == 0.6)
    assert(r.getDouble(3) == r6(dcg) && r.getDouble(4) == r6(idcg))
    assert(r.getDouble(5) == r6(dcg / idcg))
    // relevant docs ranked first => ndcg exactly 1
    val perfect = Seq((1L, 0.9, 1L), (2L, 0.8, 1L), (3L, 0.7, 0L)).toDF("id", "s", "rel")
    assert(RankingMetrics.ndcgAtK(perfect, "id", "s", "rel", k = 3).head().getDouble(5) == 1.0)
    // no relevant docs => ndcg defined as 0, no division blowup
    val none = Seq((1L, 0.9, 0L)).toDF("id", "s", "rel")
    assert(RankingMetrics.ndcgAtK(none, "id", "s", "rel", k = 3).head().getDouble(5) == 0.0)
  }

  test("mrr: first-relevant reciprocal ranks, misses count 0, hand-checked mean") {
    import graft.operators.ml.RankingMetrics
    // q1: relevant at rank 2 (rr 1/2); q2: at rank 1 (rr 1); q3: none in top-k (rr 0)
    val df = Seq(
      (1L, 10L, 0.9, 0L), (1L, 11L, 0.8, 1L), (1L, 12L, 0.7, 0L),
      (2L, 20L, 0.9, 1L), (2L, 21L, 0.8, 1L),
      (3L, 30L, 0.9, 0L), (3L, 31L, 0.8, 0L))
      .toDF("q", "id", "s", "rel")
    val r = RankingMetrics.mrrAtK(df, "q", "id", "s", "rel", k = 3).head()
    assert(r.getLong(1) == 3L)
    assert(r.getDouble(2) == 0.5) // (0.5 + 1 + 0) / 3
    // k truncation: relevant at rank 3 vanishes under k=2
    val late = Seq((1L, 10L, 0.9, 0L), (1L, 11L, 0.8, 0L), (1L, 12L, 0.7, 1L))
      .toDF("q", "id", "s", "rel")
    assert(RankingMetrics.mrrAtK(late, "q", "id", "s", "rel", k = 2)
      .head().getDouble(2) == 0.0)
  }

  test("inverted index: hot-term postings cap to the smallest ids; partition-invariant") {
    val docs = (1L to 30L).map(i =>
        (i, if (i % 2 == 0) "common filler words here" else s"rare$i solo"))
      .toDF("doc_id", "text")
    val op = new graft.operators.text.InvertedIndex(
      minDocFreq = 2L, topTerms = 10, postingsCap = 5)
    val out = op(docs).collect()
    // 'common'/'filler'/'words'/'here' appear in the 15 even docs;
    // postings cap at the 5 smallest ids
    val common = out.find(_.getString(0) == "common").get
    assert(common.getLong(1) == 15L)
    assert(common.getString(2) == "2,4,6,8,10")
    // rare terms fall under min_doc_freq
    assert(!out.exists(_.getString(0).startsWith("rare")))
    val b = op(docs.repartition(7, col("doc_id"))).collect()
    assert(out.toSeq == b.toSeq)
    // the posting aggregate must be map-side bounded, not a collect_list
    val p = planOf(op(docs))
    assert(p.contains("partial_topk_values"), p)
    assert(!p.contains("collect_list"), p)
  }

  test("degree stats: star-plus-path known answers; regular graph -> NULL assortativity") {
    import graft.operators.graph.DegreeStats
    val op = new DegreeStats()
    // star 0->{1,2,3} plus path 1->2: total degrees 0:3 1:2 2:2 3:1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)).toDF("src", "dst")
    val r = op(star).head()
    assert(r.getLong(0) == 4 && r.getLong(1) == 4)     // nodes, edges
    assert(r.getLong(2) == 3 && r.getLong(3) == 2)     // max out, max in
    assert(r.getDouble(4) == 2.0)                      // avg total degree = 8/4
    // edge pairs (x,y): (3,2),(3,2),(3,1),(2,2) — hubs link down: r < 0
    assert(r.getDouble(5) < 0.0)
    // directed 2-regular ring: constant degrees -> zero variance -> NULL
    val n = 6L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
      .union((0L until n).map(i => (i, (i + 2) % n))).toDF("src", "dst")
    assert(op(ring).head().isNullAt(5))
  }

  test("kcore: pendant chain peels in cascading rounds, triangle survives") {
    import graft.operators.graph.KCore
    // triangle {0,1,2} + chain 2-3-4: at k=2, node 4 peels in round 1,
    // node 3 only in round 2 (degree drops to 1 AFTER 4 leaves)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val one = new KCore(k = 2, rounds = 1)(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one.keySet == Set(0L, 1L, 2L, 3L) && one(2L) == 3L)
    val two = new KCore(k = 2, rounds = 2)(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // k above the max degree empties the graph, not throws
    assert(new KCore(k = 5, rounds = 2)(edges).count() == 0L)
  }
}
