package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file://` file system without its per-call process
  * starts. Without libhadoop, `RawLocalFileSystem` sets the mode of
  * every file and directory it creates by starting a `chmod`
  * process, and answers every `getFileLinkStatus` by starting
  * `readlink` (a FileContext rename asks several times) — 3–7 ms a
  * call against ~0.01 ms for the NIO call. Here:
  *
  *  - `setPermission` is `Files.setPosixFilePermissions`. A sticky
  *    bit (NIO cannot set one) or a file store without POSIX
  *    attributes takes Hadoop's own path.
  *  - `getFileLinkStatus` is `getFileStatus` unless the path is a
  *    symbolic link: stock Hadoop returns exactly that for anything
  *    `readlink` prints nothing for, and a real link still takes
  *    Hadoop's own path.
  *
  * Modes, layout and results are the stock file system's; only the
  * way they are set changes. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(mode))
    catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** PosixFilePermission's order is owner rwx, group rwx, others rwx:
    * the mode's bits 8 down to 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values().zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (`.crc`
  * sidecars as stock) over [[NioRawLocalFileSystem]].
  *
  * `rename` onto an existing file returns false and moves nothing.
  * That is the rule of Hive's `ProxyLocalFileSystem`, which Spark's
  * hive-exec jar registers for `file://` after Hadoop's own
  * `LocalFileSystem`; the service loader keeps the last registration,
  * so on this project's classpath it is the stock class, and Spark's
  * writes keep the rename rule they ran under. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`: FileContext's `LocalFs` (a
  * `ChecksumFs`) over [[NioRawLocalFileSystem]] — Spark's streaming
  * checkpoint manager writes its offset and commit logs through
  * FileContext. Like `LocalFs`, it always serves `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(conf))

/** `RawLocalFs` over [[NioRawLocalFileSystem]]. Its constructors are
  * package-private, so its overrides are restated: no default port,
  * the local server defaults (ChecksumFs reads bytes-per-checksum
  * from them) and no name validation. Symlink support comes from
  * the delegate, as there. */
private[sources] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
