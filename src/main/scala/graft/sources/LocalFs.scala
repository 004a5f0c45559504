package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme without subprocesses. Without libhadoop, stock
  * `RawLocalFileSystem` runs a `chmod` child process for every file
  * create and mkdir (`setPermission` → `Shell.execCommand`) and a
  * `readlink` child for every `getFileLinkStatus`, which the
  * FileContext checkpoint manager calls on every rename. This raw FS
  * does both in-process; every other operation, and every result, is
  * stock. */
private[sources] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 permission bits via `chmod(2)`. Sticky or setuid/setgid bits,
    * and a file store without POSIX attributes, take the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xfff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      // PosixFilePermission is declared OWNER_READ ... OTHERS_EXECUTE,
      // i.e. from bit 8 down to bit 0
      attribute.PosixFilePermission.values().zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** Stock asks `readlink` first and, for anything but a symlink,
    * returns `getFileStatus`; only a symlink needs the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock `LocalFileSystem` (checksummed, `.crc` files)
  * over the fork-free raw FS.
  *
  * Without this binding, `file:` resolves through the ServiceLoader,
  * where the Spark distribution's hive-exec registers Hive's
  * `ProxyLocalFileSystem` after Hadoop's `LocalFileSystem`, and the
  * later one wins. Its one override is kept here: a rename onto an
  * existing file returns false instead of replacing it, as the Hadoop
  * file system contract asks. */
class GraftLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(
    new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile
      catch { case _: java.io.FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `fs.AbstractFileSystem.file.impl`, the FileContext binding the
  * streaming checkpoint manager uses: stock `LocalFs` (a `ChecksumFs`
  * over a `RawLocalFs`) with the fork-free raw FS inside. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}

/** Stock `RawLocalFs` (whose constructors are package-private), same
  * overrides, over [[ForkFreeRawLocalFileSystem]]. */
private[sources] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  /** The two session confs that bind `file:` to the classes above. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}
