package graft

import java.nio.file.{Files, Paths}

import graft.operators.image.ImageOps
import graft.sources.SyntheticImages

/** Drift guard for the committed fixture-image dumps in
  * `tools/fixture_images/` (written by [[DumpImageFixture]]). The
  * independent numpy twin (tools/gen_image_oracle.py) derives the
  * clip/siglip embedding oracles from those committed bytes, so they
  * MUST stay byte-identical to what the live generator produces:
  * ImageIO's PNG/JPEG encoders are JVM-implementation-dependent, and a
  * JVM upgrade or generator tweak would otherwise silently desync the
  * dump from the runtime fixture and corrupt the oracle. This spec
  * makes that drift fail loudly instead.
  */
class FixtureDriftSpec extends ScopedSuite {

  private val dir = Paths.get("tools", "fixture_images")

  test("committed .bin dumps match live SyntheticImages.encode output") {
    assert(Files.isDirectory(dir), s"missing fixture dump dir $dir — run Test/runMain graft.DumpImageFixture")
    for (id <- 0L until SyntheticImages.N.toLong
         if !SyntheticImages.NullIds(id) && !SyntheticImages.GarbageIds(id)) {
      val path = dir.resolve(s"img_$id.bin")
      assert(Files.exists(path), s"missing $path")
      val committed = Files.readAllBytes(path)
      val live = SyntheticImages.encode(id)
      assert(java.util.Arrays.equals(committed, live),
        s"fixture drift: img_$id.bin (${committed.length} bytes) != live encode (${live.length} bytes); " +
          "re-run Test/runMain graft.DumpImageFixture AND regenerate the embedding oracles")
    }
  }

  test("committed .rgb dumps match live JVM JPEG decode for the lossy ids") {
    for (id <- SyntheticImages.JpegIds.toSeq.sorted) {
      val path = dir.resolve(s"img_$id.rgb")
      assert(Files.exists(path), s"missing $path")
      val lines = new String(Files.readAllBytes(path), "UTF-8").split('\n')
      val Array(w, h) = lines.head.split(' ').map(_.toInt)
      val px = lines.tail.iterator.filter(_.nonEmpty).map(_.toInt).toArray
      val d = ImageOps.decode(SyntheticImages.encode(id))
        .getOrElse(sys.error(s"decode failed for id $id"))
      assert((w, h) === ((d.width, d.height)), s"img_$id.rgb dims drift")
      assert(px.sameElements(d.rgb),
        s"fixture drift: img_$id.rgb pixels != live JPEG decode; " +
          "re-run Test/runMain graft.DumpImageFixture AND regenerate the embedding oracles")
    }
  }

  test("SyntheticTexts corpus matches the zlib twin's pinned digest") {
    // pinned from tools/gen_compression_oracle.py's text(i) over UTF-8
    // bytes with NUL separators — the compression_ratio VALUES oracle is
    // derived from the Python re-implementation of this spec, so the two
    // generators MUST stay byte-identical; a Scala-side tweak fails here,
    // a Python-side tweak fails `gen_compression_oracle.py --check`.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (i <- 0L until graft.sources.SyntheticTexts.N.toLong) {
      md.update(graft.sources.SyntheticTexts.text(i).getBytes("UTF-8"))
      md.update(0.toByte)
    }
    val hex = md.digest().map(b => f"$b%02x").mkString
    assert(hex === "c93d2e337c6ed26ed6c0f48c566e9915d38fbafa8be93a2d269722f8eaac84dc",
      "SyntheticTexts drift vs the committed compression oracle — " +
        "regenerate with python3 tools/gen_compression_oracle.py and re-pin")
  }
}
