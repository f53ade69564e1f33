package graftbench

import java.io.File

/** Local-filesystem helpers for the benchmark's work directory. */
object FsUtil {

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def dataFiles(f: File): Seq[File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(dataFiles)
    else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
    else Seq(f)

  /** Data files (no `_SUCCESS`, no `.crc`) under `path`. */
  def files(path: String): Seq[File] = dataFiles(new File(path)).sortBy(_.getPath)

  def bytes(path: String): Long = files(path).map(_.length).sum
}
