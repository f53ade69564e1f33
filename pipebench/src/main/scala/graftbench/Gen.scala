package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators for the four workloads. Everything a generator
  * decides comes from the seed, and the shapes that set the cost of a run
  * (cluster-size law, length law, shares of each page kind) are fixed, so
  * different seeds give different inputs of the same difficulty.
  *
  * Each generator returns the input rows and the planted ground truth the
  * output checks compare against. The truth never reaches the program.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  // ---- vocabulary -------------------------------------------------------

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ber",
    "dan", "fel", "gor", "hin", "jus", "kel", "mar", "nor", "pel", "quin", "ros",
    "sel", "tor", "ul", "ven", "wic", "yar", "zen", "an", "ed", "is", "om", "ul")

  /** `n` distinct pseudo-words of 2–4 syllables, fixed by `salt`. */
  def words(n: Int, salt: Long): Array[String] = {
    val r = new SplittableRandom(salt)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val k = 2 + r.nextInt(3)
      seen += (0 until k).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  val EnglishStop: Array[String] = Array("the", "be", "to", "of", "and", "that", "have",
    "with", "a", "in", "it", "for", "on", "as", "this", "by", "from", "at", "or", "was")

  private val langStop: Map[String, Array[String]] = Map(
    "en" -> EnglishStop,
    "de" -> Array("der", "die", "und", "das", "nicht", "mit", "ist", "auf", "ein", "zu"),
    "fr" -> Array("le", "la", "et", "les", "des", "est", "une", "pour", "dans", "que"),
    "es" -> Array("el", "la", "de", "que", "y", "los", "se", "del", "las", "por"))

  private val langContent: Map[String, Array[String]] = Map(
    "en" -> words(3000, 11), "de" -> words(1500, 12),
    "fr" -> words(1500, 13), "es" -> words(1500, 14))

  // ---- web_clean --------------------------------------------------------

  final case class WebTruth(
      rows: Long,
      minLength: Long,
      maxLength: Long,
      blockedDomains: Seq[String],
      /** (id, email) for every planted email. */
      emails: Seq[(Long, String)])

  val WebSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("url", StringType),
    StructField("lang", StringType),
    StructField("text", StringType)))

  val WebMinLength = 200L
  val WebMaxLength = 30000L

  private val navLines = Array(
    "Home | About | Contact | Login", "Menu Search Cart Account",
    "Privacy Policy | Terms of Use | Sitemap", "Share Tweet Pin Email Print")
  private val boilerLines = Array(
    "Copyright 2024 Example Media Group. All rights reserved.",
    "This site uses cookies to improve your experience.",
    "Please enable javascript to view the comments.",
    "Subscribe to our newsletter for weekly updates")

  private def sentence(r: SplittableRandom, lang: String): String = {
    val stop = langStop(lang)
    val content = langContent(lang)
    val n = 6 + r.nextInt(14)
    val ws = (0 until n).map { _ =>
      val u = r.nextDouble()
      if (u < 0.38) stop(r.nextInt(stop.length))
      else if (lang != "en" && u < 0.43) EnglishStop(r.nextInt(8))
      else content(r.nextInt(content.length))
    }
    val s = ws.mkString(" ")
    s.head.toUpper.toString + s.tail + (if (r.nextInt(10) == 0) "!" else ".")
  }

  private def gibberish(r: SplittableRandom, chars: Int): String = {
    val b = new StringBuilder
    while (b.length < chars) {
      val len = 8 + r.nextInt(14)
      (0 until len).foreach(_ => b += ('a' + r.nextInt(26)).toChar)
      b += (if (r.nextInt(9) == 0) '\n' else ' ')
    }
    b.toString
  }

  /** Web pages with log-normal lengths (median ~2 KB), URLs on a domain
    * pool with a blocklisted share, nav and boilerplate lines, planted
    * emails and phone numbers, a language mix, and shares of gibberish,
    * repetitive, lorem-ipsum and tiny pages.
    */
  def web(seed: Long, n: Int): (Seq[Row], WebTruth) = {
    val r = rng(seed, 1)
    val domains = (0 until 400).map(i => s"site${i}-${words(1, 100 + i).head}.com")
    val blocked = (0 until 12).map(i => s"blocked${i}-spam.net")
    val emails = Seq.newBuilder[(Long, String)]
    val rows = (0 until n).map { i =>
      val id = i.toLong
      val u = r.nextDouble()
      val lang = if (u < 0.70) "en" else if (u < 0.82) "de" else if (u < 0.92) "fr" else "es"
      val host =
        if (r.nextInt(100) < 4) {
          val d = blocked(r.nextInt(blocked.size))
          if (r.nextBoolean()) s"www.$d" else d
        } else domains(r.nextInt(domains.size))
      val url = s"https://$host/${lang}/page/${r.nextInt(1000000)}"
      val target = {
        val len = math.exp(math.log(2000) + 0.9 * gaussian(r))
        math.min(60000.0, math.max(60.0, len)).toInt
      }
      val kind = r.nextInt(100)
      val text =
        if (kind < 2) sentence(r, lang) // tiny page, below the length floor
        else if (kind < 10) gibberish(r, target)
        else {
          val b = new StringBuilder
          if (r.nextInt(3) > 0) b ++= navLines(r.nextInt(navLines.length)) += '\n'
          val repetitive = kind < 15
          val repeated = sentence(r, lang)
          while (b.length < target) {
            if (repetitive) b ++= repeated
            else {
              val k = 1 + r.nextInt(4)
              b ++= (0 until k).map(_ => sentence(r, lang)).mkString(" ")
            }
            b += '\n'
            val extra = r.nextInt(40)
            if (extra == 0) {
              val e = s"${words(1, r.nextInt(1000) + 5000L).head}${r.nextInt(1000)}@mail${r.nextInt(50)}.example.org"
              emails += id -> e
              b ++= s"Write to $e for more details about this page.\n"
            } else if (extra == 1) {
              b ++= f"Call ${200 + r.nextInt(700)}-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d for the office hours today.\n"
            } else if (extra == 2) {
              b ++= boilerLines(r.nextInt(boilerLines.length)) += '\n'
            }
          }
          if (kind == 15) b ++= "Lorem ipsum dolor sit amet, consectetur adipiscing elit sed do.\n"
          if (kind == 16) b ++= "function init() { return window.loaded; }\n"
          b.toString
        }
      Row(id, url, lang, text)
    }
    (rows, WebTruth(n.toLong, WebMinLength, WebMaxLength, blocked, emails.result()))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller from the seeded stream (no shared java.util.Random state)
    val u1 = math.max(r.nextDouble(), 1e-12)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ---- duplicate clusters (near_dedup, stream_dedup, semantic_dedup) ----

  /** Planted duplicate structure: for each row id, its cluster, its exact
    * group (rows whose content is identical), and whether its cluster has
    * near (non-identical) copies.
    */
  final case class DupTruth(cluster: Array[Int], exactGroup: Array[Int], clusterHasNear: Array[Boolean]) {
    def rows: Int = cluster.length
    def clusters: Int = clusterHasNear.length
    /** Rows that are not the first row of their cluster. */
    def plantedDuplicates: Int = rows - clusters
  }

  val TruthSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cluster", IntegerType, nullable = false),
    StructField("exact_group", IntegerType, nullable = false),
    StructField("has_near", BooleanType, nullable = false)))

  def truthFrame(spark: SparkSession, t: DupTruth): DataFrame = {
    val rows = t.cluster.indices.map(i =>
      Row(i.toLong, t.cluster(i), t.exactGroup(i), t.clusterHasNear(t.cluster(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), TruthSchema)
  }

  /** Member layout of one cluster: 0 = base, 1 = exact copy, 2 = near copy. */
  private final case class Layout(kinds: Array[Int])

  /** Cluster sizes for `n` rows: a fixed Zipf law (size_k ≈ top / k^1.1)
    * over the duplicated share, singletons for the rest. Independent of
    * the seed so every seed has the same hot clusters.
    */
  def clusterSizes(n: Int, dupShare: Double, top: Int): Seq[Int] = {
    val budget = (n * dupShare).toInt
    val sizes = Seq.newBuilder[Int]
    var used = 0
    var k = 1
    while (budget - used >= 2) {
      val s = math.max(2, math.min(budget - used, (top / math.pow(k, 1.1)).toInt))
      sizes += s
      used += s
      k += 1
    }
    sizes.result() ++ Seq.fill(n - used)(1)
  }

  /** Assign cluster members: every cluster of size > 1 has one base, and
    * its other members are exact copies (one in three clusters is
    * exact-only) or a mix of exact and near copies.
    */
  private def layouts(r: SplittableRandom, sizes: Seq[Int]): Seq[Layout] =
    sizes.zipWithIndex.map { case (s, c) =>
      if (s == 1) Layout(Array(0))
      else if (c % 3 == 0) Layout(Array(0) ++ Array.fill(s - 1)(1))
      else Layout(Array(0) ++ Array.fill(s - 1)(if (r.nextInt(3) == 0) 1 else 2))
    }

  /** Random permutation of 0 until n (Fisher–Yates on the seeded stream). */
  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType)))

  private val docVocab = words(20000, 21)

  /** Short documents (300–600 chars) in Zipf-sized clusters of exact and
    * near copies (one or two word substitutions). Ids are a seeded
    * permutation, so cluster members spread across files and shards.
    */
  def docs(seed: Long, n: Int): (Seq[Row], DupTruth) = {
    val r = rng(seed, 2)
    val sizes = clusterSizes(n, dupShare = 0.4, top = math.max(2, n / 100))
    val lays = layouts(r, sizes)
    val ids = permutation(r, n)
    val cluster = new Array[Int](n)
    val exact = new Array[Int](n)
    val hasNear = lays.map(_.kinds.contains(2)).toArray
    val rows = new Array[Row](n)
    var next = 0
    var groups = 0
    lays.zipWithIndex.foreach { case (lay, c) =>
      val base = {
        val b = new StringBuilder
        val target = 300 + r.nextInt(300)
        while (b.length < target) {
          if (b.nonEmpty) b += ' '
          b ++= docVocab(r.nextInt(docVocab.length))
        }
        b.toString
      }
      val baseGroup = groups
      groups += 1
      lay.kinds.foreach { kind =>
        val id = ids(next)
        next += 1
        cluster(id) = c
        val text = kind match {
          case 0 | 1 =>
            exact(id) = baseGroup
            base
          case _ =>
            val toks = base.split(' ')
            (0 to r.nextInt(2)).foreach(_ => toks(r.nextInt(toks.length)) = docVocab(r.nextInt(docVocab.length)))
            exact(id) = groups
            groups += 1
            toks.mkString(" ")
        }
        rows(id) = Row(id.toLong, text)
      }
    }
    (rows.toSeq, DupTruth(cluster, exact, hasNear))
  }

  // ---- semantic_dedup ---------------------------------------------------

  val EmbeddingDims = 64

  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** Unit embeddings in Zipf-sized clusters: exact copies repeat the base
    * vector, near copies add small noise (cosine ≳ 0.99 to the base).
    * Unrelated random vectors in 64 dims sit near cosine 0.
    */
  def vectors(seed: Long, n: Int): (Seq[Row], DupTruth) = {
    val r = rng(seed, 3)
    val d = EmbeddingDims
    val sizes = clusterSizes(n, dupShare = 0.3, top = math.max(2, n / 100))
    val lays = layouts(r, sizes)
    val ids = permutation(r, n)
    val cluster = new Array[Int](n)
    val exact = new Array[Int](n)
    val hasNear = lays.map(_.kinds.contains(2)).toArray
    val rows = new Array[Row](n)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    var next = 0
    var groups = 0
    lays.zipWithIndex.foreach { case (lay, c) =>
      val base = Array.fill(d)(gaussian(r))
      val baseVec = unit(base)
      val baseGroup = groups
      groups += 1
      lay.kinds.foreach { kind =>
        val id = ids(next)
        next += 1
        cluster(id) = c
        val v = kind match {
          case 0 | 1 =>
            exact(id) = baseGroup
            baseVec
          case _ =>
            exact(id) = groups
            groups += 1
            unit(base.map(x => x + 0.08 * gaussian(r)))
        }
        rows(id) = Row(id.toLong, v.toSeq)
      }
    }
    (rows.toSeq, DupTruth(cluster, exact, hasNear))
  }

  // ---- writing ----------------------------------------------------------

  /** Write `rows` as exactly `files` parquet files (one per slice of a
    * deterministic parallelize), so the same rows give the same bytes.
    */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      dir: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(dir)

  /** Split `rows` into `shards` single parquet files `shard-<k>.parquet`
    * in one directory, with increasing modification times, so a file
    * stream reading one file per trigger takes them in shard order.
    */
  def writeShards(spark: SparkSession, rows: Seq[Row], schema: StructType,
      dir: String, shards: Int): Unit = {
    val tmp = s"$dir.tmp"
    // parallelize slices contiguously: part k holds the k-th block of rows
    writeParquet(spark, rows, schema, tmp, shards)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val out = new java.io.File(dir)
    out.mkdirs()
    parts.zipWithIndex.foreach { case (part, k) =>
      val dest = new java.io.File(out, f"shard-$k%03d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + k * 1000L)
    }
    FsUtil.deleteTree(new java.io.File(tmp))
  }
}
