package graft

import graft.sources.Warc

/** WARC parsing + HTML extraction semantics (S2/S3): response-only,
  * text/html-only, ≥100-char bodies, ≥50-char extractions, boilerplate
  * removal, and the DataSource V2 `format("warc")` scan.
  */
class WarcSpec extends ScopedSuite {
  import TestSpark._

  private def httpHtml(html: String): String =
    s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n$html"

  private def warcRecord(tpe: String, uri: String, content: String): String = {
    val c = content.getBytes("UTF-8")
    s"WARC/1.0\r\nWARC-Type: $tpe\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2024-12-01T00:00:00Z\r\nContent-Length: ${c.length}\r\n\r\n" +
      content + "\r\n\r\n"
  }

  private val goodHtml =
    """<html><head><title>Sample Article</title>
      |<script>var tracking = "should never appear";</script>
      |<style>.x{color:red}</style></head>
      |<body><nav>Home | About | Contact</nav>
      |<h1>Sample Article</h1>
      |<p>This is the first paragraph of the readable main content, with
      |enough words to clear the fifty character extraction minimum.</p>
      |<p>Second paragraph with &amp; entity and &quot;quotes&quot;.</p>
      |<footer>Copyright notice that should be stripped</footer>
      |</body></html>""".stripMargin

  private def warcFile: Array[Byte] =
    (warcRecord("warcinfo", "", "software: test") +
      warcRecord("request", "http://ex.com/a", "GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n") +
      warcRecord("response", "http://ex.com/a", httpHtml(goodHtml)) +
      warcRecord("response", "http://ex.com/tiny", httpHtml("<html>x</html>")) + // <100 chars
      warcRecord("response", "http://ex.com/img",
        "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n" + "P" * 200) + // not html
      warcRecord("response", "http://ex.com/thin", httpHtml(
        "<html><body><nav>only boilerplate navigation html padding padding padding</nav></body></html>"))
      ).getBytes("UTF-8")

  test("record framing: all records parsed, typed, content-length sliced") {
    val recs = Warc.records(warcFile).toSeq
    assert(recs.size == 6)
    assert(recs.map(_.headers("WARC-Type")) ==
      Seq("warcinfo", "request", "response", "response", "response", "response"))
  }

  test("extraction keeps only qualifying html responses with readable text") {
    val docs = Warc.extractDocs("CC-TEST", "f.warc", warcFile).toSeq
    assert(docs.map(_.url) == Seq("http://ex.com/a"))
    val d = docs.head
    assert(d.title == "Sample Article")
    assert(d.text.contains("first paragraph") && d.text.contains("& entity"))
    assert(!d.text.contains("tracking") && !d.text.contains("color:red"))
    assert(!d.text.contains("Copyright") && !d.text.contains("Home | About"))
    assert(d.text_length == d.text.length.toLong)
    assert(d.crawl_id == "CC-TEST" && d.warc_date == "2024-12-01T00:00:00Z")
  }

  test("link-dense blocks drop even outside semantic containers") {
    // a sidebar built from a PLAIN div of links — invisible to
    // container-name rules, caught only by link-density scoring
    val html =
      """<html><body>
        |<div class="sidebar"><a href="/1">Recent post one</a>
        |<a href="/2">Another older post</a> <a href="/3">More archive links</a></div>
        |<ul><li><a href="/t1">tag cloud entry</a></li><li><a href="/t2">second tag</a></li></ul>
        |<p>The actual article body has plenty of plain prose words and
        |<a href="/ref">one inline reference link</a> inside a long paragraph,
        |so its link density stays comfortably under the content threshold.</p>
        |</body></html>""".stripMargin
    val (_, text) = Warc.htmlExtractText(html).get
    assert(text.contains("actual article body") && text.contains("one inline reference link"))
    assert(!text.contains("Recent post one") && !text.contains("tag cloud entry"))
  }

  test("extraction is total on malformed html") {
    val pad = "sufficient plain words to clear the fifty character extraction floor here"
    val cases = Seq(
      s"<p>unclosed everywhere <div><a href='x'>$pad",
      s"<<<>>>< not <html at all $pad",
      s"<p>$pad <a>link never closed",
      "<head><title>only a head, no body</title></head>",
      "", "<>", "plain text without any markup " + pad)
    cases.foreach { html =>
      val r = Warc.htmlExtractText(html) // must never throw
      r.foreach { case (_, text) => assert(text.length >= 50) }
    }
    assert(Warc.htmlExtractText(s"<p>$pad</p>").isDefined)
  }

  test("adversarial html: embedded close tags, nested tables, hostile attributes") {
    val prose = "The genuinely readable article prose carries well over fifty " +
      "characters of plain connected words for the extraction floor."
    // escaped close tag inside a JS string (the valid-JS form "<\/script>"):
    // the whole script must strip — the escape does not terminate script data
    val escaped = "<html><body><script>var a = \"<\\/script>\"; trackUser();</script>" +
      s"<p>$prose</p></body></html>"
    val t1 = Warc.htmlExtractText(escaped).get._2
    assert(t1.contains("readable article prose") && !t1.contains("trackUser"))
    // UNescaped close tag inside a JS string: per the HTML5 spec script
    // data ends at the FIRST </script> even mid-string (browsers agree),
    // so the JS tail legitimately becomes text — extraction must stay
    // total and keep the prose
    val unescaped = "<html><body><script>var a = \"</script>\"; leak();</script>" +
      s"<p>$prose</p></body></html>"
    assert(Warc.htmlExtractText(unescaped).exists(_._2.contains("readable article prose")))
    // nested tables (the classic 2000s layout-table page)
    val nested = "<html><body><table><tr><td><table><tr><td>" +
      s"<p>$prose</p></td></tr><tr><td><a href='/x'>nav link one</a> " +
      "<a href='/y'>nav link two</a></td></tr></table></td></tr></table></body></html>"
    val t3 = Warc.htmlExtractText(nested).get._2
    assert(t3.contains("readable article prose") && !t3.contains("nav link one"))
    // a '>' inside a quoted attribute truncates that tag token — the
    // spilled fragment must not break extraction of the real content
    val hostile = s"""<html><body><div title="a > b"><p>$prose</p></div></body></html>"""
    assert(Warc.htmlExtractText(hostile).exists(_._2.contains("readable article prose")))
    // unclosed blocks at 10k nesting depth: linear scan, no recursion blowup
    val deep = "<div>" * 10000 + s"<p>$prose"
    assert(Warc.htmlExtractText(deep).exists(_._2.contains("readable article prose")))
    // conditional comments and CDATA strip with the comment pass
    val cond = "<html><body><!--[if IE]><div>ie only junk</div><![endif]-->" +
      s"<p>$prose</p></body></html>"
    val t6 = Warc.htmlExtractText(cond).get._2
    assert(t6.contains("readable article prose") && !t6.contains("ie only junk"))
  }

  test("title stays out of the extracted text") {
    val html = "<html><head><title>The Title</title></head><body><p>" +
      "Body content long enough to clear the fifty character minimum easily.</p></body></html>"
    val (title, text) = Warc.htmlExtractText(html).get
    assert(title == "The Title" && !text.contains("The Title"))
  }

  test("gzipped warc parses identically") {
    val baos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write(warcFile); gz.close()
    val a = Warc.extractDocs("c", "f", baos.toByteArray).toSeq
    val b = Warc.extractDocs("c", "f", warcFile).toSeq
    assert(a.map(_.text) == b.map(_.text) && a.nonEmpty)
  }

  test("dsv2: spark.read.format(\"warc\") matches the flatMap path, one partition per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_dsv2")
    java.nio.file.Files.write(dir.resolve("a.warc"), warcFile)
    java.nio.file.Files.write(dir.resolve("b.warc"), warcFile)
    val df = spark.read.format("warc").option("crawl_id", "CC-TEST")
      .load(dir.toString + "/*.warc")
    assert(df.schema == graft.sources.WarcDataSource.Schema)
    val rows = df.orderBy("warc_path", "url").collect()
    // the flatMap path: the pure per-file extraction over each file's bytes
    val perFile = Seq("a.warc", "b.warc").flatMap { n =>
      val f = dir.resolve(n)
      Warc.extractDocs("CC-TEST", new org.apache.hadoop.fs.Path(f.toUri).toString,
        java.nio.file.Files.readAllBytes(f))
    }.sortBy(d => (d.warc_path, d.url))
    assert(perFile.size == 2 && perFile.forall(_.title == "Sample Article"))
    assert(rows.map(_.toSeq).toSeq == perFile.map(r =>
      Seq(r.crawl_id, r.warc_path, r.url, r.warc_date, r.title, r.text, r.text_length)))
    // one input partition per (unsplittable) warc file
    assert(df.rdd.getNumPartitions == 2)
    // column pruning reaches the DSv2 scan: ReadSchema carries only url,
    // and the pruned row set is IDENTICAL (membership never depends on
    // the projection)
    val urls = df.select("url")
    assert(planFormatted(urls).contains("url"))
    assert(urls.count() == df.count())
    // registered via META-INF/services: the short name resolves (this
    // whole test used format("warc")); SQL sees it through a view
    df.createOrReplaceTempView("warc_docs")
    assert(spark.sql("SELECT count(*) FROM warc_docs").head().getLong(0) == df.count())
    // limit pushdown: a .limit(1) read stops each file's parse at 1 row
    // (per-partition contract; Spark applies the global limit on top)
    assert(df.limit(1).collect().length == 1)
    assert(planFormatted(df.limit(1)).contains("PushedLimit"))
  }

  test("corrupt input is survived, not crashed: truncated, garbage, and empty warc bytes") {
    // truncated mid-record: the complete leading records still parse
    val full = warcFile
    val truncated = full.take(full.length / 2)
    assert(Warc.extractDocs("CC", "t.warc", truncated).size <= 1) // no throw
    // pure garbage and empty: zero records, zero docs
    assert(Warc.extractDocs("CC", "g.warc", Array.fill[Byte](512)(0x41)).isEmpty)
    assert(Warc.extractDocs("CC", "e.warc", Array.emptyByteArray).isEmpty)
    // a content-length lying PAST the end of file must not throw
    val lying = ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/a\r\n" +
      "Content-Length: 999999\r\n\r\nshort").getBytes("UTF-8")
    assert(Warc.extractDocs("CC", "l.warc", lying).isEmpty)
    // and the DSv2 scan tolerates a corrupt file alongside a good one
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_bad")
    java.nio.file.Files.write(dir.resolve("good.warc"), full)
    java.nio.file.Files.write(dir.resolve("bad.warc"), Array.fill[Byte](256)(0x00))
    val df = spark.read.format("warc").load(dir.toString + "/*.warc")
    assert(df.count() == 1)
  }

  test("manifest: pathsFor resolves warc.paths.gz, caps, and drives the warc scan") {
    val crawl = "CC-TEST-2024-01"
    val root = java.nio.file.Files.createTempDirectory("graft_cc_mirror")
    val crawlDir = root.resolve(s"crawl-data/$crawl")
    java.nio.file.Files.createDirectories(crawlDir.resolve("segments"))
    java.nio.file.Files.write(
      crawlDir.resolve("segments").resolve("a.warc"), warcFile)
    java.nio.file.Files.write(
      crawlDir.resolve("segments").resolve("b.warc"), warcFile)
    val manifest = Seq("a", "b").map(n =>
      s"crawl-data/$crawl/segments/$n.warc").mkString("", "\n", "\n")
    val baos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(baos)
    gz.write(manifest.getBytes("UTF-8")); gz.close()
    java.nio.file.Files.write(crawlDir.resolve("warc.paths.gz"), baos.toByteArray)

    val all = Warc.pathsFor(crawl, root.toString)
    assert(all == Seq(
      s"$root/crawl-data/$crawl/segments/a.warc",
      s"$root/crawl-data/$crawl/segments/b.warc"))
    // explicit numFiles wins; maxSamples derives at ~5000 records/file
    assert(Warc.pathsFor(crawl, root.toString, numFiles = Some(1)).size == 1)
    assert(Warc.pathsFor(crawl, root.toString,
      maxSamples = Some(4000L)).size == 1)
    assert(Warc.pathsFor(crawl, root.toString,
      maxSamples = Some(6000L)).size == 2)
    // trailing-slash root and a plain (non-gz) manifest behave the same
    java.nio.file.Files.write(crawlDir.resolve("warc.paths"),
      manifest.getBytes("UTF-8"))
    java.nio.file.Files.delete(crawlDir.resolve("warc.paths.gz"))
    assert(Warc.pathsFor(crawl, root.toString + "/") == all)
    intercept[java.io.FileNotFoundException] {
      Warc.pathsFor("CC-NOPE-2024", root.toString)
    }

    def scan(paths: Seq[String]) =
      spark.read.format("warc").option("crawl_id", crawl).load(paths: _*)
    assert(scan(Warc.pathsFor(crawl, root.toString)).count() == 2)
    assert(scan(Warc.pathsFor(crawl, root.toString, numFiles = Some(1))).count() == 1)
  }
}
