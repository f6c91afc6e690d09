package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without the shell commands it starts when
  * its native library (`libhadoop.so`) is missing: `setPermission` runs
  * `chmod` and `getFileLinkStatus` runs `readlink`, once per call. Every
  * file or directory Hadoop creates with a permission gets a `setPermission`,
  * and every `FileContext.rename` reads the link status of its source and
  * target, so a streaming checkpoint's offset, commit, `.crc` and
  * state-store delta files each cost a few processes. This class does the
  * same two things in the JVM:
  *  - `setPermission` sets the same nine POSIX bits through NIO. A mode
  *    with the sticky bit, which NIO cannot set, keeps Hadoop's `chmod`.
  *  - `getFileLinkStatus` of a path that is not a symbolic link returns
  *    its `getFileStatus`, which is what Hadoop returns after `readlink`
  *    prints nothing. A symbolic link (the landing links of
  *    `Streams.symlinkSource`) keeps Hadoop's own code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[ForkFreeRawLocalFileSystem]]:
  * `fs.file.impl`, the `FileSystem` API of sinks, the output committer
  * and `Path.getFileSystem`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API's raw `file:` filesystem over
  * [[ForkFreeRawLocalFileSystem]]; the rest mirrors Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs`. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` filesystem over [[ForkFreeRawLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`, as Hadoop's `LocalFs`): Spark's
  * `FileContextBasedCheckpointFileManager` writes stream offsets,
  * commits, source logs and HDFS-backed state stores through it. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
