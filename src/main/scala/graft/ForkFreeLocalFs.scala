package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system without its process spawns.
  *
  * Without libhadoop, stock `RawLocalFileSystem` forks `chmod` for
  * every permission it sets — each `create` and each `mkdirs` sets one
  * — and `readlink` in every `getFileLinkStatus`, which
  * `FileContext.rename` calls on both ends. Here the permission goes
  * through `Files.setPosixFilePermissions` and the link status through
  * `Files.isSymbolicLink` plus `getFileStatus`, which give the same
  * mode bits and the same status. The stock code still runs when
  * libhadoop is loaded (it forks nothing then), on a symlink and for a
  * mode with sticky or setuid bits. Bytes and `.crc` files are
  * untouched: the checksummed wrappers below are Hadoop's own. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable() || (mode & ~0x1ff) != 0 || Files.isSymbolicLink(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (NativeIO.isAvailable() || Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  /** The nine rwx bits of `mode`; `PosixFilePermission` lists them from
    * owner-read (0400) down to others-execute (0001). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b)
    }
    set
  }
}

/** Checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[ForkFreeRawLocalFileSystem]]: stock `LocalFileSystem` otherwise. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `file:` `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`) for
  * `FileContext` users — Spark's offset and commit logs and the state
  * store's delta and checksum files. Stock `LocalFs` is the same
  * `ChecksumFs` over a `RawLocalFs` delegate; like it, the URI argument
  * is ignored in favour of `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `RawLocalFs` with [[ForkFreeRawLocalFileSystem]] as its delegate
  * (`RawLocalFs` fixes its delegate in a package-private constructor). */
private[graft] class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.9")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
