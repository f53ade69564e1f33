package graft.sources

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** CommonCrawl WARC source (S2) + HTML text extraction (S3).
  *
  * Reproduces the record semantics of the reference's CommonCrawlLoader
  * (loaders/commoncrawl_loader.py:66-145): iterate WARC records, keep
  * `WARC-Type: response` with `Content-Type: text/html` and ≥100 chars of
  * body, extract readable text, reject extractions under 50 chars, and
  * yield `(crawl_id, warc_path, url, warc_date, title, text,
  * text_length)`. Extraction is a readability-style boilerplate strip
  * (the reference uses a readability.js port, src/text_ops.rs:16-29 —
  * exact DOM scoring is library-internal; ours removes
  * script/style/nav/header/footer/aside subtrees, breaks on block tags,
  * strips tags, and decodes common entities).
  *
  * Packaging: the batch scan is the DataSource V2 `format("warc")`
  * ([[WarcDataSource]]) and the streaming scan is [[loadStream]]
  * (`binaryFile` + `flatMap`); either way each WARC file is one task,
  * parallelism = file count, no driver involvement. [[pathsFor]]
  * resolves a crawl manifest into the file list the batch scan reads.
  * (Web-scale fetch/backoff is an ingest concern; the engine reads
  * already-mirrored archives.)
  */
object Warc {

  final case class WarcDoc(
      crawl_id: String, warc_path: String, url: String, warc_date: String,
      title: String, text: String, text_length: Long)

  /** One parsed WARC record: headers + raw content block. */
  final case class Record(headers: Map[String, String], content: Array[Byte])

  private def maybeGunzip(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length > 2 && (bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B) {
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } else bytes

  private val CrLfCrLf = "\r\n\r\n".getBytes("US-ASCII")
  private val Magic = "WARC/".getBytes("US-ASCII")

  /** Iterate WARC records (Content-Length framed, per ISO 28500). */
  def records(fileBytes: Array[Byte]): Iterator[Record] = new Iterator[Record] {
    private val bytes = maybeGunzip(fileBytes)
    private var pos = 0
    private var nextRec: Record = advance()

    private def indexOf(pattern: Array[Byte], from: Int): Int = {
      var i = from
      while (i <= bytes.length - pattern.length) {
        var j = 0
        while (j < pattern.length && bytes(i + j) == pattern(j)) j += 1
        if (j == pattern.length) return i
        i += 1
      }
      -1
    }

    private def advance(): Record = {
      val start = indexOf(Magic, pos)
      if (start < 0) return null
      val headerEnd = indexOf(CrLfCrLf, start)
      if (headerEnd < 0) return null
      val headerText = new String(bytes, start, headerEnd - start, "UTF-8")
      val headers = headerText.split("\r\n").drop(1).flatMap { line =>
        val i = line.indexOf(':')
        if (i > 0) Some(line.take(i).trim -> line.drop(i + 1).trim) else None
      }.toMap
      val len = headers.get("Content-Length").flatMap(_.toLongOption).getOrElse(0L).toInt
      val contentStart = headerEnd + 4
      val contentEnd = math.min(contentStart + len, bytes.length)
      pos = contentEnd
      Record(headers, java.util.Arrays.copyOfRange(bytes, contentStart, contentEnd))
    }

    def hasNext: Boolean = nextRec != null
    def next(): Record = { val r = nextRec; nextRec = advance(); r }
  }

  /** Split an HTTP response payload into (headers, body). */
  private[sources] def httpParts(content: Array[Byte]): (Map[String, String], Array[Byte]) = {
    val sep = "\r\n\r\n".getBytes("US-ASCII")
    var i = 0
    var found = -1
    while (found < 0 && i <= content.length - sep.length) {
      var j = 0
      while (j < sep.length && content(i + j) == sep(j)) j += 1
      if (j == sep.length) found = i else i += 1
    }
    if (found < 0) (Map.empty, content)
    else {
      val head = new String(content, 0, found, "UTF-8")
      val headers = head.split("\r\n").drop(1).flatMap { line =>
        val k = line.indexOf(':')
        if (k > 0) Some(line.take(k).trim.toLowerCase -> line.drop(k + 1).trim) else None
      }.toMap
      (headers, java.util.Arrays.copyOfRange(content, found + 4, content.length))
    }
  }

  private val entities = Seq(
    "&nbsp;" -> " ", "&amp;" -> "&", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'")

  private def decodeEntities(s: String): String =
    entities.foldLeft(s) { case (acc, (e, r)) => acc.replace(e, r) }

  /** Tags that terminate a text block (boilerpipe-style segmentation). */
  private val BlockTags = Set(
    "p", "div", "section", "article", "main", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "dl", "dt", "dd", "tr", "td", "th", "table", "thead", "tbody",
    "blockquote", "pre", "br", "hr", "figure", "figcaption", "center")

  /** A kept block must have at most this fraction of its words inside
    * anchors (boilerpipe's low-link-density content rule; readability.js
    * penalizes by the same ratio).
    */
  private val MaxLinkDensity = 0.34

  /** Readability-grade main-content extraction: (title, text), or None
    * when the remaining text is under 50 chars — the capability of the
    * reference's readability.js-class extractor (src/text_ops.rs:16-29).
    *
    * Three-stage scorer instead of a bare tag strip:
    *  1. subtree exclusion — head, script/style/noscript/svg/template,
    *     and the semantic boilerplate containers nav/header/footer/
    *     aside/form are removed whole;
    *  2. block segmentation — remaining text splits into blocks at
    *     block-level tags, tracking per block the word count and the
    *     words inside `<a>` anchors;
    *  3. link-density scoring — blocks whose anchor-word fraction
    *     exceeds [[MaxLinkDensity]] (link lists, sidebars, related-post
    *     widgets that live in plain divs) are dropped; survivors join
    *     with newlines, whitespace-collapsed per block.
    * The title comes from `<title>` and is NOT part of `text`.
    */
  def htmlExtractText(html: String): Option[(String, String)] = {
    val title = "(?is)<title[^>]*>(.*?)</title>".r
      .findFirstMatchIn(html).map(_.group(1).trim).getOrElse("")
    var s = html
    s = s.replaceAll("(?is)<!--.*?-->", " ")
    s = s.replaceAll("(?is)<head[^>]*>.*?</head>", " ")
    s = s.replaceAll("(?is)<(script|style|noscript|svg|template|form|nav|header|footer|aside)[^>]*>.*?</\\1>", " ")

    final class Block {
      val text = new StringBuilder; var words = 0; var linkWords = 0
      def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
    }
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Block]
    var cur = new Block
    var inA = 0
    def flush(): Unit = if (cur.words > 0) { blocks += cur; cur = new Block }
    "(?s)<[^>]*>|[^<]+".r.findAllIn(s).foreach { t =>
      if (t.startsWith("<")) {
        val body = t.stripPrefix("<").stripSuffix(">")
        val closing = body.startsWith("/")
        val name = body.dropWhile(_ == '/').takeWhile(_.isLetterOrDigit).toLowerCase
        if (name == "a") {
          inA = math.max(0, inA + (if (closing) -1 else 1)); cur.text.append(' ')
        } else if (BlockTags(name)) flush()
        else cur.text.append(' ')
      } else {
        val txt = decodeEntities(t)
        val w = txt.split("\\s+").count(_.nonEmpty)
        cur.words += w
        if (inA > 0) cur.linkWords += w
        cur.text.append(txt)
      }
    }
    flush()

    val text = blocks.iterator
      .filter(_.linkDensity <= MaxLinkDensity)
      .map(_.text.toString.replaceAll("\\s+", " ").trim)
      .filter(_.nonEmpty).mkString("\n")
    if (text.trim.isEmpty || text.length < 50) None else Some((title, text))
  }

  /** CommonCrawl manifest → WARC file list — the acquisition step of the
    * reference's CommonCrawlLoader (loaders/commoncrawl_loader.py:38-64)
    * against a local/HDFS mirror instead of the HTTP origin: reads
    * `<mirrorRoot>/crawl-data/<crawlId>/warc.paths.gz` (gzip, one
    * relative path per line; a plain `warc.paths` also works), resolves
    * each entry against the mirror root, and caps the list — `numFiles`
    * wins; otherwise `maxSamples` derives the count at the reference's
    * ~5000-records-per-file heuristic, floored at `numWorkers`. Fetch
    * retry/backoff is an ingest-mirror concern, not the engine's.
    */
  def pathsFor(
      crawlId: String,
      mirrorRoot: String,
      numFiles: Option[Int] = None,
      maxSamples: Option[Long] = None,
      numWorkers: Int = 1): Seq[String] = {
    val root = mirrorRoot.stripSuffix("/")
    val dir = s"$root/crawl-data/$crawlId"
    val gz = new java.io.File(s"$dir/warc.paths.gz")
    val plain = new java.io.File(s"$dir/warc.paths")
    val in: java.io.InputStream =
      if (gz.isFile) new java.util.zip.GZIPInputStream(new java.io.FileInputStream(gz))
      else if (plain.isFile) new java.io.FileInputStream(plain)
      else throw new java.io.FileNotFoundException(
        s"no warc.paths[.gz] manifest under $dir")
    val cap = numFiles.orElse(maxSamples.map(ms =>
      math.max(numWorkers.toLong, ms / 5000L + 1L).toInt))
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).map(p => s"$root/$p")
      cap.fold(lines.toList)(c => lines.take(c).toList)
    } finally in.close()
  }

  /** Streaming twin of the batch `format("warc")` scan
    * ([[WarcDataSource]]): new WARC files landing under `pathGlob` flow
    * through the same per-file parse + extraction ([[extractDocs]]) as a
    * Structured Streaming source (file-source semantics: exactly-once
    * per file via the checkpointed file log; `maxFilesPerTrigger`
    * bounds a trigger — the reference's loader backpressure).
    *
    * FILES MUST LAND ATOMICALLY (write to a temp name, then rename into
    * the watched directory): exactly-once is per FILE — a half-copied
    * archive picked up mid-write is parsed once from truncated bytes
    * and its remaining records are permanently skipped. `globFilter`
    * (default `*.{warc,warc.gz}`) is SUFFIX-ANCHORED so temp-suffixed
    * in-flight names (`a.warc.tmp`, `a.warc.gz._COPYING_`) stay
    * invisible until the rename; a trailing-wildcard filter like
    * `*.warc*` would commit those from truncated bytes.
    */
  def loadStream(spark: SparkSession, pathGlob: String, crawlId: String,
      maxFilesPerTrigger: Int = 8,
      globFilter: String = "*.{warc,warc.gz}"): Dataset[WarcDoc] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // streaming file sources require an explicit schema — binaryFile's
    // is fixed
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("pathGlobFilter", globFilter)
      .load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) => extractDocs(crawlId, path, bytes) }
  }

  /** Pure per-file extraction (also the unit-test surface). */
  def extractDocs(crawlId: String, path: String, bytes: Array[Byte]): Iterator[WarcDoc] =
    records(bytes)
      .filter(_.headers.get("WARC-Type").contains("response"))
      .flatMap { rec =>
        val url = rec.headers.getOrElse("WARC-Target-URI", "")
        val date = rec.headers.getOrElse("WARC-Date", "")
        val (http, body) = httpParts(rec.content)
        val contentType = http.getOrElse("content-type", "")
        if (!contentType.toLowerCase.contains("text/html")) None
        else {
          val html = new String(body, java.nio.charset.StandardCharsets.UTF_8)
          if (html.length < 100) None
          else htmlExtractText(html).map { case (title, text) =>
            WarcDoc(crawlId, path, url, date, title, text, text.length.toLong)
          }
        }
      }
}
