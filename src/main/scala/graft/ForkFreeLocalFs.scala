package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file shell forks.
  * Without the native Hadoop library, `RawLocalFileSystem` forks `chmod`
  * for every file and directory it creates (`.crc` files included) and
  * `readlink` for every link-status lookup, which `FileContext` makes
  * twice per rename. This subclass sets the same 9 permission bits and
  * tests for a symlink through `java.nio`, and defers to Hadoop for a
  * sticky bit, a filesystem without POSIX attributes, or a real symlink.
  * Everything else, the on-disk layout included, is Hadoop's code. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try {
      val bits = PosixFilePermission.values.filter(v => (mode & (1 << (8 - v.ordinal))) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
      ()
    } catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file://` [[org.apache.hadoop.fs.FileSystem]] over
  * [[ForkFreeRawLocalFileSystem]]: Hadoop's `LocalFileSystem`, forks
  * aside. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` twin of Hadoop's `RawLocalFs` over
  * [[ForkFreeRawLocalFileSystem]] (its constructors are package-private). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // the OS validates local names, as in RawLocalFs
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` twin of Hadoop's `LocalFs` — what the streaming
  * checkpoint manager writes and renames through. `AbstractFileSystem`
  * instantiates it through this (URI, Configuration) constructor; like
  * `LocalFs`, it always serves `file:///`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
