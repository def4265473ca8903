package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without subprocesses. Without Hadoop's native
  * library, `RawLocalFileSystem` forks `chmod` for every permission it
  * sets (each Parquet part file, its `.crc`, each committer and
  * checkpoint file) and `readlink` for every link status (four per
  * `FileContext.rename`, so per offset-log and commit-log entry): about
  * 1,550 processes in a 17 s run of the notification service, and most
  * of each micro-batch's `walCommit` and `commitOffsets` time. The two
  * overrides answer from `java.nio` instead and leave everything else,
  * `.crc` checksums included, to the stock classes. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The 9 rwx bits through `java.nio` (which follows a link, as `chmod`
    * does); a mode with the sticky bit or more still goes to `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(mode).toString))
  }

  /** What the stock method returns for a path that is not a link: its
    * `getFileStatus`, which throws `FileNotFoundException` when it is
    * missing. A real link goes to the stock method. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed `FileSystem`, so `.crc` files are
  * still written and verified. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, what `FileContext` (the streaming
  * checkpoint's offset and commit logs) uses: stock `LocalFs`'s
  * checksummed layer over a delegate that mirrors stock `RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private[sources] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  /** The session settings that register both classes for `file:`. The
    * JVM-wide `FileSystem` cache is keyed by scheme and user, not by
    * configuration: a `file:` instance created before the session is
    * built keeps being returned, so build the session before touching
    * any Hadoop filesystem. */
  val sessionConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
