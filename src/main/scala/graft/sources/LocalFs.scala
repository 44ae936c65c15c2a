package graft.sources

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The engine's local filesystem: Hadoop's `RawLocalFileSystem` with its
  * two process-spawning calls done in-process.
  *
  * Without libhadoop (`NativeIO.isAvailable` false, the case for a
  * Spark distribution run from its jars), the stock class runs
  *  - `chmod` through `Shell.execCommand` for every file and directory
  *    it creates with a permission (`setPermission`), and
  *  - `readlink` for every path whose link status is asked
  *    (`getFileLinkStatus`), which a `FileContext` rename does for both
  *    its source and its destination, for the file and its `.crc`.
  * A parquet write therefore forks once per part file, `.crc` file and
  * directory, and a streaming checkpoint commit (offsets, commits) forks
  * serially on the stream thread. This class does both with
  * `java.nio.file`:
  *  - `setPermission` sets the same nine mode bits with
  *    `Files.setPosixFilePermissions`;
  *  - `getFileLinkStatus` answers `getFileStatus` when the path is not a
  *    symbolic link, which is what the stock code returns for it (an
  *    empty `readlink` result).
  *
  * The stock code path stays in place wherever the two could differ:
  *  - `setPermission` with libhadoop loaded (native `chmod`, no fork;
  *    production clusters keep it), a requested sticky bit (not a POSIX
  *    file permission), a file store without the `unix` attribute view,
  *    a target that already carries setuid/setgid/sticky bits (GNU
  *    `chmod 0755` keeps a directory's setgid bit, `chmod(2)` with nine
  *    bits clears it), and any error reading the current mode (the
  *    stock call reports it);
  *  - `getFileLinkStatus` on a real symbolic link. Hadoop has no native
  *    `readlink`, so this path forks with or without libhadoop.
  *
  * Checksums are untouched: [[ForkFreeLocalFileSystem]] and
  * [[ForkFreeLocalFs]] wrap this class exactly as `LocalFileSystem` and
  * `LocalFs` wrap the stock one, so every `.crc` file is still written.
  * `graft.Graft.sessionBuilder` registers both wrappers for the `file`
  * scheme. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (NativeIO.isAvailable || permission.getStickyBit || !plainMode(f))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(f, posixPerms(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val SpecialBits = 0xe00 // setuid 04000, setgid 02000, sticky 01000

  /** Whether `f`'s current mode is readable and carries no special bit —
    * the case where `chmod(2)` with the nine permission bits leaves the
    * file exactly as the `chmod` command would. */
  private def plainMode(f: NioPath): Boolean =
    try (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SpecialBits) == 0
    catch {
      case _: java.io.IOException | _: UnsupportedOperationException |
          _: IllegalArgumentException => false
    }

  /** The nine permission bits of `mode` as a POSIX permission set
    * (`PosixFilePermission` is declared owner-read first, bit 0400). */
  private def posixPerms(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p)
    }
    s
  }
}

/** `LocalFileSystem` (the checksummed `file:` FileSystem) over
  * [[ForkFreeRawLocalFileSystem]]; registered as `fs.file.impl`. Without
  * it, a Spark distribution with Hive support resolves `file:` to Hive's
  * `ProxyLocalFileSystem`, a pass-through over the stock
  * `LocalFileSystem`. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side of the `file:` scheme over
  * [[ForkFreeRawLocalFileSystem]], shaped as Hadoop's `LocalFs`: a
  * `ChecksumFs` over a `DelegateToFileSystem`. Spark's checkpoint file
  * manager writes and renames its offsets and commits files through this
  * API. Registered as `fs.AbstractFileSystem.file.impl`; like `LocalFs`
  * it serves `file:///` whatever URI it is asked for. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (package-private there) over
  * [[ForkFreeRawLocalFileSystem]], with the same four overrides. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  // local file systems differ in their name rules; the OS decides
  override def isValidName(src: String): Boolean = true
}
