package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its process forks.
  *
  * Without the native-hadoop library, `RawLocalFileSystem` sets every
  * mode by running `chmod` (each file create and each `mkdirs` does so)
  * and looks for a symlink by running `readlink` (each
  * `FileContext.rename` does so twice per renamed file). Each fork costs
  * milliseconds, and every Parquet write, memo spill and streaming
  * checkpoint commit pays several. This class does both through
  * `java.nio`; the answers are Hadoop's own:
  *
  *  - `setPermission` sets the nine permission bits with
  *    `Files.setPosixFilePermissions`, which is what `chmod 0NNN` leaves
  *    on a file. It keeps Hadoop's path when the mode has the sticky
  *    bit (`java.nio` cannot set it), when the path is a directory with
  *    its setuid or setgid bit set (`chmod` keeps those on directories,
  *    `java.nio` would clear them), and when the filesystem has no
  *    POSIX modes.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop's own method returns once
  *    `readlink` prints nothing; only a real symlink goes through it.
  *
  * `GraftSession` registers it for the `file` scheme twice, checksummed
  * as Hadoop's own local filesystems are: [[NioLocalFileSystem]] for
  * `FileSystem`, and [[NioLocalFs]] for `FileContext`, which builds its
  * own raw filesystem and does not read `fs.file.impl`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit || !NioRawLocalFileSystem.plainMode(path)) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, NioRawLocalFileSystem.posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val DirType = 0x4000   // S_IFDIR
  private val TypeMask = 0xF000  // S_IFMT
  private val IdBits = 0xC00     // S_ISUID | S_ISGID

  /** Whether `java.nio` can set the mode of `path` as `chmod 0NNN`
    * would: the filesystem has unix modes, and `path` is not a
    * directory whose setuid or setgid bit `chmod` would keep. */
  private def plainMode(path: java.nio.file.Path): Boolean =
    try {
      val mode = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      (mode & TypeMask) != DirType || (mode & IdBits) == 0
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }

  /** The nine permission bits of `mode` (owner, group, others; read,
    * write, execute — `PosixFilePermission`'s declaration order). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]]
  * (`fs.file.impl`): Hadoop's `LocalFileSystem`, `.crc` files included. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[NioRawLocalFileSystem]], with the
  * overrides of Hadoop's `RawLocalFs` (whose constructors are not
  * public): no default port, the local server defaults, and no name
  * check beyond the operating system's. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` over [[NioRawLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs` is over
  * `RawLocalFs`: what a `FileContext` on `file:` paths, such as the
  * streaming checkpoint's, runs on. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
