package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without its per-call OS processes.
  *
  * Without libhadoop (`NativeIO`), Hadoop sets every mode it writes by
  * running `chmod` through `util.Shell`: once for each file, each
  * `.crc` file and each directory created. `getFileLinkStatus` (every
  * `FileContext` rename) runs `readlink`. Each start costs ~3.5 ms.
  * This class makes the same changes through `java.nio.file` in the
  * JVM (`chmod(2)` and `lstat(2)`); the bytes, checksums and modes on
  * disk are the ones Hadoop writes (LocalFsSpec compares them).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** Sets `permission` as Hadoop's `chmod %04o` does: the mode bits
    * and the sticky bit exactly, and, as GNU `chmod` does for a
    * four-digit mode, a directory keeps its setuid/setgid bits.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NioRawLocalFileSystem.UnixModes) super.setPermission(p, permission)
    else {
      val f = pathToFile(p).toPath
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val keep = if ((old & NioRawLocalFileSystem.TypeBits) == NioRawLocalFileSystem.Dir)
        old & NioRawLocalFileSystem.SetIdBits else 0
      Files.setAttribute(f, "unix:mode", Int.box(permission.toShort | keep))
    }

  /** A path that is not a symlink has its `getFileStatus`, which is
    * what Hadoop's `readlink` branch returns for it (a missing path
    * throws `FileNotFoundException` the same way); links keep Hadoop's
    * code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  /** The JVM can read and set a whole `st_mode` (`unix:mode`). */
  private val UnixModes: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  // st_mode fields (octal 0170000, 0040000, 06000)
  private val TypeBits = 0xf000
  private val Dir = 0x4000
  private val SetIdBits = 0xc00
}

/** `file://` for `FileSystem`: Hadoop's checksummed `LocalFileSystem`
  * over [[NioRawLocalFileSystem]]. It must extend `LocalFileSystem`
  * (`FileSystem.getLocal` casts to it).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** Refuses a rename onto an existing file, as Hive's
    * `ProxyLocalFileSystem` does: the Spark distribution's service
    * files bind `file://` to that class when nothing is configured.
    */
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `file://` for `FileContext` (the streaming checkpoint manager):
  * Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. Like that
  * class it serves `file:///` whatever URI it is given.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed) over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
