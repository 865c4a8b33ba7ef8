package org.apache.spark.sql.graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.{LocalConfigKeys, LocalFs}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext

/** Hadoop's local file system without child processes. Without libhadoop
  * (Spark's jars ship none), `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell` and `getFileLinkStatus` runs `readlink`: every
  * `create` and `mkdirs` forks once per file, `.crc` files included, and
  * `FileContext.rename(…, OVERWRITE)` forks for both ends and their
  * `.crc` files. A table commit and each streaming offset/commit-log
  * write wait on those forks, milliseconds each. This subclass answers
  * both calls in-process:
  *
  *   - `setPermission` sets the rwx bits through
  *     `Files.setPosixFilePermissions`; a permission with the sticky bit
  *     (which `java.nio` cannot set) and a file store without a POSIX
  *     attribute view fall back to `super`;
  *   - `getFileLinkStatus` is `getFileStatus` unless the path is a
  *     symbolic link, for which `super` qualifies the link target.
  *
  * Differences from `super`: a missing file fails `setPermission` with
  * `java.nio.file.NoSuchFileException` instead of `chmod`'s
  * `ExitCodeException`; both are `IOException`s. */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      // the actions of a create mode are its masked mode's
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` `FileSystem` (`fs.file.impl`) over
  * [[InProcessRawLocalFileSystem]]. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `RawLocalFs` over [[InProcessRawLocalFileSystem]]: the same overrides
  * (no default port, local server defaults, every name valid). */
private[graft] class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `AbstractFileSystem`
  * (`fs.AbstractFileSystem.file.impl`), in place of `LocalFs`: the one
  * `FileContext` resolves, which serves Spark's streaming checkpoint
  * (offset and commit logs). */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))

object InProcessLocalFs {
  private val FileImplKey = "fs.file.impl"
  private val AbstractFileImplKey = "fs.AbstractFileSystem.file.impl"

  /** Points `conf`'s two `file:` keys at the in-process classes, each only
    * where it still holds Hadoop's default (`fs.file.impl` unset,
    * `fs.AbstractFileSystem.file.impl` = `LocalFs`): a user's own choice
    * wins. A `file:` `FileSystem` already in Hadoop's JVM-wide cache stays
    * the stock one; it still works, and still forks. */
  def install(conf: Configuration): Unit = {
    if (conf.get(FileImplKey) == null)
      conf.set(FileImplKey, classOf[InProcessLocalFileSystem].getName)
    if (conf.get(AbstractFileImplKey) == classOf[LocalFs].getName)
      conf.set(AbstractFileImplKey, classOf[InProcessLocalFs].getName)
  }

  /** [[install]] on the active `SparkContext`'s Hadoop conf, which every
    * session conf and scan conf copies; a no-op without an active context.
    * `GraftExtensions` calls it while the session builder applies the
    * extensions, after the context exists and before the session's shared
    * state first touches the local file system. */
  def installOnActiveContext(): Unit =
    SparkContext.getActive.foreach(sc => install(sc.hadoopConfiguration))
}
