package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** The driver-side commit rule: write a file under a hidden `_`-prefixed
  * name, then rename it onto its final name. Readers skip `_`-prefixed
  * names (Spark's file index and [[graft.runner.ResumeManifest]] both
  * do), so a crash mid-write leaves nothing visible, and the rename —
  * atomic on HDFS and the local FS — is the commit. A rename that
  * returns `false` fails the caller instead of losing the file silently.
  */
object DriverCommit {

  /** Write `dir/name` through `write(tmpPath)` and commit it by rename
    * (`dir` is created if missing); returns the committed path. A failed
    * write or rename throws and removes the temp file.
    */
  def commit(fs: FileSystem, dir: Path, name: String)(write: Path => Unit): Path = {
    fs.mkdirs(dir)
    val tmp = new Path(dir, s"_$name")
    val dest = new Path(dir, name)
    try {
      write(tmp)
      if (!fs.rename(tmp, dest))
        throw new java.io.IOException(s"commit failed: rename $tmp -> $dest returned false")
    } catch { case e: Throwable => scala.util.Try(fs.delete(tmp, false)); throw e }
    dest
  }
}
