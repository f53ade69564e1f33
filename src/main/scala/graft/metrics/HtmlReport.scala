package graft.metrics

/** W4: static HTML report rendered from the rollups — the funnel,
  * bottleneck ranking, retention waterfall, and per-operator tables of
  * the reference's plotly report (framework/metrics/reporter.py: funnel
  * :636, bottleneck :1014-range views), as dependency-free inline SVG.
  * The interactive charts read the W3 parquet contract, which any BI
  * tool can also consume — SURVEY.md §2.11 keeps the plotly port out of
  * engine scope.
  */
object HtmlReport {

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Whole-run retention funnel: one trapezoid segment per operator
    * boundary, width proportional to surviving rows.
    */
  private def funnelSvg(run: RunRollup): String = {
    val boundaries =
      run.stages.flatMap(s => s.operators.map(c => (s"${s.stageName}/${c.name}", c.output)))
    if (boundaries.isEmpty) return ""
    val w = 640; val rowH = 34; val labelW = 260
    val maxV = math.max(run.input, 1L)
    val rows = (("input", run.input) +: boundaries).zipWithIndex
    val h = rows.size * rowH + 8
    val sb = new StringBuilder(s"""<svg width="$w" height="$h" role="img">""")
    rows.foreach { case ((name, v), i) =>
      val y = i * rowH + 4
      val bw = math.max(((w - labelW - 8) * v) / maxV, 2L)
      val x = labelW + ((w - labelW - 8) - bw) / 2
      sb ++= s"""<rect x="$x" y="$y" width="$bw" height="${rowH - 10}" fill="#4a90d9" opacity="0.85"/>"""
      sb ++= s"""<text x="${labelW - 8}" y="${y + 16}" text-anchor="end" font-size="12">${esc(name)}</text>"""
      sb ++= s"""<text x="${x + bw + 6}" y="${y + 16}" font-size="12">$v</text>"""
    }
    sb ++= "</svg>"
    sb.toString
  }

  /** Stage duration waterfall (reporter.py's `_generate_duration_waterfall`
    * :1058): each stage's wall time as a bar offset by the cumulative time
    * before it, so the longest bar IS the bottleneck stage.
    */
  private def waterfallSvg(run: RunRollup): String = {
    val stages = run.stages.filter(_.timeSec > 0)
    if (stages.isEmpty) return ""
    val total = stages.map(_.timeSec).sum
    val w = 640; val rowH = 30; val labelW = 200
    val scale = (w - labelW - 90) / math.max(total, 1e-9)
    val h = stages.size * rowH + 8
    val sb = new StringBuilder(
      "<h2>Stage duration waterfall</h2>\n" +
        s"""<svg width="$w" height="$h" role="img">""")
    var off = 0.0
    stages.zipWithIndex.foreach { case (s, i) =>
      val y = i * rowH + 4
      val x = labelW + off * scale
      val bw = math.max(s.timeSec * scale, 2.0)
      sb ++= f"""<rect x="$x%.1f" y="$y" width="$bw%.1f" height="${rowH - 10}" fill="#e8a33d" opacity="0.9"/>"""
      sb ++= s"""<text x="${labelW - 8}" y="${y + 15}" text-anchor="end" font-size="12">${esc(s.stageName)}</text>"""
      sb ++= f"""<text x="${x + bw + 6}%.1f" y="${y + 15}" font-size="12">${s.timeSec}%.2fs</text>"""
      off += s.timeSec
    }
    sb ++= "</svg>"
    sb.toString
  }

  /** Per-operator throughput bars (reporter.py's bottleneck chart second
    * panel, :949-989) — records/s from the timed profiling mode; empty
    * when the run wasn't timed.
    */
  private def throughputSvg(run: RunRollup): String = {
    val ops = run.stages.flatMap(s => s.operators.filter(_.timeSec > 0)
      .map(c => (s"${s.stageName}/${c.name}", c.input / c.timeSec)))
    if (ops.isEmpty) return ""
    val w = 640; val rowH = 26; val labelW = 260
    val maxV = ops.map(_._2).max
    val h = ops.size * rowH + 8
    val sb = new StringBuilder(
      "<h2>Operator throughput (records/s)</h2>\n" +
        s"""<svg width="$w" height="$h" role="img">""")
    ops.zipWithIndex.foreach { case ((name, v), i) =>
      val y = i * rowH + 4
      val bw = math.max((w - labelW - 90) * v / maxV, 2.0)
      sb ++= f"""<rect x="$labelW" y="$y" width="$bw%.1f" height="${rowH - 8}" fill="#5cb85c" opacity="0.9"/>"""
      sb ++= s"""<text x="${labelW - 8}" y="${y + 14}" text-anchor="end" font-size="12">${esc(name)}</text>"""
      sb ++= f"""<text x="${labelW + bw + 6}%.1f" y="${y + 14}" font-size="12">$v%.0f</text>"""
    }
    sb ++= "</svg>"
    sb.toString
  }

  /** Record-flow diagram (the sankey of reporter.py:753-905, simplified
    * to the pipeline's linear topology): a blue band whose height tracks
    * surviving rows flows left→right across operator boundaries; each
    * boundary sheds a red wedge sized to its rejected rows.
    */
  private def flowSvg(run: RunRollup): String = {
    val boundaries = run.stages.flatMap(s =>
      s.operators.map(c => (s"${s.stageName}/${c.name}", c.input, c.output)))
    if (boundaries.isEmpty) return ""
    val w = 640; val bandH = 90; val h = bandH + 70
    val maxV = math.max(run.input, 1L)
    val n = boundaries.size
    val segW = (w - 20).toDouble / n
    def hOf(v: Long): Double = bandH.toDouble * v / maxV
    val sb = new StringBuilder(
      "<h2>Record flow</h2>\n" + s"""<svg width="$w" height="$h" role="img">""")
    boundaries.zipWithIndex.foreach { case ((name, in, out), i) =>
      val x0 = 10 + i * segW; val x1 = x0 + segW
      val hi = hOf(in); val ho = hOf(out)
      sb ++= f"""<polygon points="$x0%.1f,4 $x1%.1f,4 $x1%.1f,${4 + ho}%.1f $x0%.1f,${4 + hi}%.1f" fill="#4a90d9" opacity="0.8"/>"""
      if (in > out) {
        sb ++= f"""<polygon points="$x1%.1f,${4 + ho}%.1f $x1%.1f,${4 + hi}%.1f ${x1 - 14}%.1f,${bandH + 22}%.1f" fill="#d9534f" opacity="0.8"/>"""
        sb ++= f"""<text x="${x1 - 14}%.1f" y="${bandH + 36}" text-anchor="middle" font-size="11">-${in - out}</text>"""
      }
      sb ++= f"""<text x="${(x0 + x1) / 2}%.1f" y="${bandH + 52}" text-anchor="middle" font-size="11">${esc(name.split('/').last)}</text>"""
    }
    sb ++= "</svg>"
    sb.toString
  }

  /** Operators ranked by rows dropped — the bottleneck view. */
  private def bottleneckTable(run: RunRollup): String = {
    val drops = run.stages.flatMap(s => s.operators.map(c =>
      (s.stageName, c.name, c.input - c.output, 100.0 - c.passRate)))
      .filter(_._3 > 0).sortBy(-_._3)
    if (drops.isEmpty) return ""
    val maxDrop = math.max(drops.head._3, 1L)
    val sb = new StringBuilder("<h2>Bottlenecks (rows dropped)</h2>\n")
    sb ++= "<table><tr><th>stage</th><th>operator</th><th>dropped</th><th>drop&nbsp;rate</th><th></th></tr>\n"
    drops.foreach { case (st, op, d, rate) =>
      val bw = math.max((d * 200) / maxDrop, 1L)
      sb ++= f"<tr><td>${esc(st)}</td><td>${esc(op)}</td><td>$d</td><td>$rate%.2f%%</td>" +
        f"""<td><span class="bar drop" style="width:${bw}px"></span></td></tr>%n"""
    }
    sb ++= "</table>\n"
    sb.toString
  }

  def render(run: RunRollup): String = {
    val sb = new StringBuilder
    sb ++= s"""<!DOCTYPE html><html><head><meta charset="utf-8">
      |<title>${esc(run.runId)}</title><style>
      |body{font-family:sans-serif;margin:2em;color:#222}
      |table{border-collapse:collapse;margin:1em 0}
      |td,th{border:1px solid #ccc;padding:4px 10px;text-align:right}
      |th{background:#f4f4f4}td:first-child,th:first-child{text-align:left}
      |.bar{background:#4a90d9;height:12px;display:inline-block}
      |.bar.drop{background:#d9534f}
      |</style></head><body>
      |<h1>Pipeline run ${esc(run.runId)}</h1>
      |<p>${run.stages.size} stage(s) &middot; ${run.input} in &rarr; ${run.output} out
      | &middot; pass rate ${f"${run.passRate}%.2f"}%%
      | &middot; ${f"${run.durationSec}%.2f"}s
      | &middot; ${f"${run.avgThroughput}%.0f"} rec/s</p>
      |<h2>Retention funnel</h2>
      |""".stripMargin
    sb ++= funnelSvg(run)
    sb ++= flowSvg(run)
    sb ++= waterfallSvg(run)
    sb ++= throughputSvg(run)
    sb ++= bottleneckTable(run)
    run.stages.foreach { s =>
      sb ++= s"<h2>Stage: ${esc(s.stageName)}</h2>\n"
      sb ++= "<table><tr><th>operator</th><th>input</th><th>output</th>" +
        "<th>pass&nbsp;rate</th><th>time&nbsp;(s)</th><th>funnel</th></tr>\n"
      val maxIn = math.max(s.operators.map(_.input).foldLeft(1L)(math.max), 1L)
      s.operators.foreach { c =>
        val w = math.max((c.output * 200) / maxIn, 1L)
        sb ++= f"<tr><td>${esc(c.name)}</td><td>${c.input}</td><td>${c.output}</td>" +
          f"<td>${c.passRate}%.2f%%</td><td>${c.timeSec}%.3f</td>" +
          f"""<td><span class="bar" style="width:${w}px"></span></td></tr>%n"""
      }
      sb ++= "</table>\n"
    }
    sb ++= "</body></html>\n"
    sb.toString
  }

  def write(run: RunRollup, path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, render(run))
  }

  /** Publish the rendered report as `index.html` under `target` — the
    * engine twin of the reference's HuggingFace-Space publish
    * (framework/metrics/reporter.py:1258-1315 uploads report.html as a
    * static space's index.html). Spark-native equivalent: `target` is
    * any Hadoop-compatible URI (s3a:// website bucket, hdfs://, file:/),
    * so the same call publishes to whatever static host the cluster
    * serves; an HTTP-API publisher (HF hub, GCS signed upload) plugs in
    * at the same seam without touching the runner. Returns the
    * published file's URI.
    */
  def publish(run: RunRollup, target: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): String = {
    val dst = new org.apache.hadoop.fs.Path(target, "index.html")
    val fs = dst.getFileSystem(hadoopConf)
    val out = fs.create(dst, true)
    try out.write(render(run).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    dst.toString
  }
}
