package graft.io

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's raw local filesystem
  * without a child process per created path.
  *
  * Without the native `libhadoop` (Spark's jars ship none), Hadoop's
  * `RawLocalFileSystem` runs `chmod` in a new process from
  * `setPermission`, which it calls for every file, `.crc` file and
  * directory it creates, and `readlink` in a new process from
  * `getFileLinkStatus`, which every `FileContext` rename calls on both
  * ends. Two overrides keep those calls in the JVM:
  *
  *  - `setPermission` sets the same 9 mode bits with
  *    `Files.setPosixFilePermissions`. A mode with a bit NIO cannot set
  *    (sticky) and a store without POSIX attributes keep Hadoop's path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` — what Hadoop returns for such a path after its
  *    `readlink` comes back empty. A symlink keeps Hadoop's path.
  *
  * Registered for the `file` scheme by [[graft.core.GraftSession]] in
  * both of Hadoop's forms: [[LocalFs]] as the checksummed `FileSystem`
  * (`fs.file.impl`) and [[LocalFs.Checksummed]] as the checksummed
  * `AbstractFileSystem` that `FileContext`, and so Structured
  * Streaming's checkpoint manager, goes through.
  */
class RawLocalFs extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    // a bit above rwxrwxrwx (0x1ff = 0777) is the sticky bit
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      // enum order is owner r,w,x, group r,w,x, others r,w,x: bits 8 to 0
      for ((perm, i) <- attribute.PosixFilePermission.values.zipWithIndex
           if (mode & (0x100 >> i)) != 0) bits.add(perm)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file` `FileSystem` over [[RawLocalFs]]
  * (`fs.file.impl`): Hadoop's `LocalFileSystem`, `.crc` siblings and
  * all.
  */
class LocalFs extends LocalFileSystem(new RawLocalFs)

object LocalFs {

  /** The checksummed `file` `AbstractFileSystem` over [[RawLocalFs]]
    * (`fs.AbstractFileSystem.file.impl`): Hadoop's
    * `org.apache.hadoop.fs.local.LocalFs` with the raw layer swapped.
    * The delegate repeats the overrides of Hadoop's `RawLocalFs`, whose
    * constructors are package-private.
    */
  class Checksummed(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new RawLocalFs, conf, "file", false) {
      override def getUriDefaultPort(): Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
}
