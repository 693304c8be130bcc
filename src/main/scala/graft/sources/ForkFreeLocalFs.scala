package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local filesystem without process spawns.
  *
  * Without libhadoop (the usual case for a pip- or tarball-installed
  * Spark), `RawLocalFileSystem` shells out for two calls that the
  * streaming checkpoint path makes on every file: `setPermission` runs
  * `chmod` after every create and mkdir, and `getFileLinkStatus` runs
  * `readlink` — twice per FileContext rename, once per side. A stateful
  * micro-batch writes an offset-log entry, a commit-log entry and a
  * state-store file per partition, each a create plus a rename, so the
  * spawns dominated the per-batch floor (BASELINE.md, "Fork-free local
  * checkpoint I/O").
  *
  * Both calls keep Hadoop's answers: `setPermission` sets the same nine
  * mode bits through `java.nio.file`, and `getFileLinkStatus` is
  * `getFileStatus` for anything that is not a symbolic link, which is
  * what the stock implementation returns when `readlink` prints nothing.
  * Native I/O, a sticky bit and real symbolic links defer to Hadoop.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: mode bits 8 down to 0.
      val mode = permission.toShort
      val perms = PosixFilePermission.values.zipWithIndex.collect {
        case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The FileSystem API (`fs.file.impl`): checksummed, like Hadoop's own. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The raw FileContext API over [[ForkFreeRawLocalFileSystem]], matching
  * Hadoop's `RawLocalFs`, whose constructors are package-private. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The FileContext API (`fs.AbstractFileSystem.file.impl`), which Spark's
  * streaming checkpoint manager uses: checksummed, like Hadoop's `LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
