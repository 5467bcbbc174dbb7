package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem without
  * the processes it forks when libhadoop is not loaded.
  *
  * Without the native library, `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates (`setPermission`) and `readlink`
  * for every `getFileLinkStatus` (each `FileContext` rename asks for
  * two). A launch costs milliseconds; the checkpoint logs, index commits
  * and shard builds of one micro-batch make dozens of them. Here the
  * same mode bits are set and the same statuses answered through
  * `java.nio`. On-disk layout, mode bits and rename semantics are
  * unchanged. A listed status still runs `ls -ld` the first time its
  * permission is read; no write path of the engine reads one.
  *
  * [[graft.GraftSession.install]] registers it for both Hadoop entry
  * points: the `FileSystem` API (`fs.file.impl`, used by the parquet
  * writers and commit protocols) and `FileContext`
  * (`fs.AbstractFileSystem.file.impl`, used by Structured Streaming's
  * checkpoint manager). */
object LocalFs {

  /** The Hadoop keys that select this filesystem for `file:`. */
  val hadoopConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}

/** `RawLocalFileSystem` with its shell paths answered through `java.nio`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode bits `chmod` would set. A mode beyond 0777 (the sticky bit)
    * or a store without POSIX attributes keeps Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(new FsPermission(mode).toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** A path that is not a symlink has the status `getFileStatus` gives
    * (what Hadoop returns once `readlink` prints nothing); a symlink keeps
    * Hadoop's answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]]
  * (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `AbstractFileSystem` over [[NioRawLocalFileSystem]]; the
  * overrides are those of Hadoop's `RawLocalFs`, whose constructors are
  * package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` for `FileContext`
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
