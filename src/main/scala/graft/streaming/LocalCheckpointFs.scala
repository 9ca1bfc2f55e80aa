package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `LocalFs` (the `file:` binding of the `FileContext` API)
  * without a process per file. Spark's checkpoint manager writes every
  * offset-log and commit-log entry, RocksDB changelog and HDFS-provider
  * delta through `FileContext`. Without the native `libhadoop`,
  * `RawLocalFileSystem` runs `chmod` for each created file and its
  * `.crc` sidecar, and `readlink` for each path a rename inspects: a
  * streaming micro-batch forked thousands of processes per minute.
  *
  * Like `LocalFs`, this is a `ChecksumFs` over a `DelegateToFileSystem`
  * with `RawLocalFs`'s defaults; it differs only in the raw file
  * system, [[LocalCheckpointFs.ForkFree]]. `.crc` sidecars, atomic
  * rename-without-overwrite, permission bits and symlink status stay
  * Hadoop's. [[graft.api.Application.sessionConfs]] binds it as
  * `fs.AbstractFileSystem.file.impl`; the `FileSystem` API (parquet
  * reads and writes) keeps Hadoop's own binding. */
class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.Raw(conf))

object LocalCheckpointFs {

  /** `RawLocalFs` over [[ForkFree]]. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFree, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("AbstractFileSystem.getServerDefaults()", "Hadoop 2.8")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with its two forking calls answered by
    * `java.nio`: permission bits are set in-process (a sticky bit,
    * which `java.nio` cannot set, still goes through `chmod`), and a
    * path that is not a symbolic link needs no `readlink` to report
    * its status. */
  class ForkFree extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The nine rwx bits of `p`: `PosixFilePermission`'s declaration
    * order runs from the owner's read bit (0400) down to the others'
    * execute bit (0001). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { x =>
      if ((bits & (1 << (8 - x.ordinal))) != 0) set.add(x)
    }
    set
  }
}
