package graft

import java.io.{FileNotFoundException, RandomAccessFile}
import java.net.URI
import java.nio.file.{Files, attribute}

import graft.io.{LocalFs, RawLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** [[graft.io.LocalFs]] behaves like Hadoop's stock local filesystem:
  * same mode bits on created paths through `FileSystem` and
  * `FileContext`, explicit modes round-trip, sticky still sets sticky,
  * `.crc` siblings still guard reads, and symlinks still read as
  * symlinks. Each filesystem is built directly (not through
  * `FileSystem.get`), so Hadoop's per-scheme cache is left alone.
  */
class LocalFsSpec extends ScopedSuite {

  private val conf = new Configuration()
  private val root = new URI("file:///")

  private def engineFs(): FileSystem = { val fs = new LocalFs; fs.initialize(root, conf); fs }
  private def stockFs(): FileSystem = {
    val fs = new org.apache.hadoop.fs.LocalFileSystem; fs.initialize(root, conf); fs
  }

  private def fileContext(impl: String): FileContext = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(AbstractFileSystem.get(root, c), c)
  }
  private def engineFc(): FileContext = fileContext(classOf[LocalFs.Checksummed].getName)
  private def stockFc(): FileContext = fileContext("org.apache.hadoop.fs.local.LocalFs")

  private def bits(p: java.nio.file.Path): String =
    attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  /** Mode bits of every path under `dir`, by path relative to it. */
  private def tree(dir: java.nio.file.Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .map(p => dir.relativize(p).toString -> bits(p)).toMap
    finally s.close()
  }

  test("engine filesystem types") {
    assert(engineFs().asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
      .isInstanceOf[RawLocalFs])
    assert(engineFc().getDefaultFileSystem.isInstanceOf[LocalFs.Checksummed])
    assert(stockFc().getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
  }

  test("FileSystem: created files, .crc files and directories carry the stock mode bits") {
    def build(fs: FileSystem): java.nio.file.Path = {
      val d = Files.createTempDirectory("graft_localfs_fs")
      val base = new Path(d.toString)
      assert(fs.mkdirs(new Path(base, "a/b")))
      val out = fs.create(new Path(base, "a/b/f.bin"), true)
      try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
      assert(fs.rename(new Path(base, "a/b/f.bin"), new Path(base, "a/g.bin")))
      d
    }
    val engine = tree(build(engineFs()))
    val stock = tree(build(stockFs()))
    assert(engine.keySet == Set("", "a", "a/b", "a/g.bin", "a/.g.bin.crc"), engine)
    assert(engine == stock)
    assert(engine("a/b") == "rwxr-xr-x" && engine("a/g.bin") == "rw-r--r--")
  }

  test("FileContext: created files, .crc files and directories carry the stock mode bits") {
    def build(fc: FileContext): java.nio.file.Path = {
      val d = Files.createTempDirectory("graft_localfs_fc")
      val base = new Path(d.toString)
      fc.mkdir(new Path(base, "a/b"), FsPermission.getDirDefault, true)
      val out = fc.create(new Path(base, "a/b/f.bin"),
        java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      try out.write(Array.tabulate[Byte](4096)(_.toByte)) finally out.close()
      // the checkpoint manager's commit: rename over an existing file
      val over = fc.create(new Path(base, "a/g.bin"), java.util.EnumSet.of(CreateFlag.CREATE))
      over.close()
      fc.rename(new Path(base, "a/b/f.bin"), new Path(base, "a/g.bin"), Options.Rename.OVERWRITE)
      d
    }
    val engine = tree(build(engineFc()))
    val stock = tree(build(stockFc()))
    assert(engine.keySet == Set("", "a", "a/b", "a/g.bin", "a/.g.bin.crc"), engine)
    assert(engine == stock)
  }

  test("explicit setPermission of 0700 and 0640 round-trips; a sticky mode still sets sticky") {
    val fs = engineFs()
    val d = Files.createTempDirectory("graft_localfs_mode")
    val f = Files.createFile(d.resolve("f"))
    fs.setPermission(new Path(f.toString), octal("700"))
    assert(bits(f) == "rwx------")
    fs.setPermission(new Path(f.toString), octal("640"))
    assert(bits(f) == "rw-r-----")
    val sticky = Files.createDirectory(d.resolve("s"))
    fs.setPermission(new Path(sticky.toString), octal("1755"))
    val mode = Files.getAttribute(sticky, "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) == Integer.parseInt("1755", 8),
      Integer.toOctalString(mode))
  }

  test(".crc siblings are written and one flipped byte fails the read with ChecksumException") {
    val fs = engineFs()
    val d = Files.createTempDirectory("graft_localfs_crc")
    val p = new Path(d.resolve("data.bin").toString)
    val payload = Array.tabulate[Byte](2048)(i => (i * 7).toByte)
    val out = fs.create(p, true)
    try out.write(payload) finally out.close()
    assert(Files.exists(d.resolve(".data.bin.crc")))
    val back = new Array[Byte](payload.length)
    val in = fs.open(p)
    try in.readFully(back) finally in.close()
    assert(back.sameElements(payload))

    val raf = new RandomAccessFile(d.resolve("data.bin").toFile, "rw")
    try { raf.seek(1000); raf.write(payload(1000) ^ 0x01) } finally raf.close()
    val in2 = fs.open(p)
    try intercept[ChecksumException](in2.readFully(new Array[Byte](payload.length)))
    finally in2.close()
  }

  test("getFileLinkStatus: a symlink still reads as a symlink; a missing path still throws") {
    val d = Files.createTempDirectory("graft_localfs_link")
    val target = Files.write(d.resolve("target.txt"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    for (fs <- Seq(engineFs(), stockFs())) {
      val st = fs.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink, fs.getClass)
      assert(st.getSymlink == new Path(s"file:$target"), st.getSymlink)
      val plain = fs.getFileLinkStatus(new Path(target.toString))
      assert(!plain.isSymlink && plain.isFile && plain.getLen == 1)
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(d.resolve("nope").toString)))
    }
    val fc = engineFc()
    assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(d.resolve("nope").toString)))
  }
}
