package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system except for the two calls that fork a
  * process without libhadoop (`NativeIO.isAvailable()` false, as with the
  * Hadoop that Spark ships):
  *
  *  - `setPermission` runs `chmod <mode> <file>` through `Shell.execCommand`,
  *    and it is called for every file it creates (`LocalFSFileOutputStream`)
  *    and every directory (`mkOneDirWithMode`), each time with the umask
  *    already applied: one fork per checkpoint log, state-store delta,
  *    Parquet file, `.crc` file and directory. Here the same bits are set
  *    from the JVM. The sticky bit has no `PosixFilePermission`, and a
  *    default file system without a POSIX view takes none, so those cases
  *    still go to Hadoop's own.
  *  - `getFileLinkStatus` runs `readlink <path>` (`FileUtil.readLink`), and
  *    every rename with options calls it, on the source and the target:
  *    several forks per offset-log, commit-log and state-store commit. When
  *    `readlink` prints nothing, Hadoop returns `getFileStatus(f)`, which
  *    throws `FileNotFoundException` for a missing path. Here a path that
  *    `java.nio` does not see as a symlink gets that answer directly; a
  *    symlink, dangling or not, keeps Hadoop's own path, target
  *    qualification and exceptions.
  *
  * Through FileContext, [[ForkFreeLocalFs]] also verifies `.crc` files on
  * `open(path)`, not only on `open(path, bufferSize)`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !ForkFreeRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        ForkFreeRawLocalFileSystem.posixPermissions(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode`: bit 8 is OWNER_READ, the first of
    * `PosixFilePermission`'s values, and bit 0 is OTHERS_EXECUTE, the last.
    */
  private def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (bit <- 0 until 9 if (mode & (1 << bit)) != 0)
      set.add(PosixFilePermission.values()(8 - bit))
    set
  }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]], so `.crc` files are still written and
  * verified.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext's raw `file:` file system over [[ForkFreeRawLocalFileSystem]];
  * the rest is Hadoop's `local.RawLocalFs`, whose constructors are
  * package-private.
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.8")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: FileContext's checksummed `file:`
  * file system, Hadoop's `local.LocalFs` over [[ForkFreeRawLocalFs]]. Spark's
  * streaming checkpoint and state store write through FileContext.
  * Hadoop builds it by reflection through its (URI, Configuration)
  * constructor.
  *
  * `open(path)` verifies the `.crc` file. `ChecksumFs` verifies only in
  * `open(path, bufferSize)`; it inherits `open(path)` from `FilterFs`,
  * which goes straight to the raw file system, and that is the call Spark's
  * checkpoint and state-store reads make. This one takes the buffer size
  * from the server defaults, as `AbstractFileSystem.open(path)` does.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
