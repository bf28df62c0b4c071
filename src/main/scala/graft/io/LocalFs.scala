package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without process spawns. With no native
  * Hadoop library, stock Hadoop forks `chmod` for every permission change
  * (each created file, `.crc` and directory) and `readlink` for every
  * `getFileLinkStatus` (FileContext create/rename): ~100 spawns per
  * streaming micro-batch of offset, state and commit files. Both run
  * in-process here, deferring to Hadoop wherever it cannot match exactly;
  * checksums, `.crc` files and FileContext's atomic rename stay stock. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** The 9 rwx bits through NIO; a sticky bit or a non-POSIX filesystem → Hadoop. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !LocalFs.Posix) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // enum order OWNER_READ … OTHERS_EXECUTE is bit 8 … bit 0
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop's fallback runs `readlink` on the `file:`-qualified string, which
    * never resolves, so a non-link gets `getFileStatus`; real links keep Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`. Unbound, `file:` resolves through the classpath's service
  * list (with the Hive jars: Hive's `ProxyLocalFileSystem` over a stock `LocalFileSystem`). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext side, as Hadoop's `RawLocalFs`: no default port, local server defaults. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, as Hadoop's `LocalFs` (which also ignores the URI). */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

object LocalFs {
  private[io] val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** Builder confs that bind the `file:` scheme of both Hadoop APIs. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Hadoop's `FileSystem` cache ignores the conf: a `file:` filesystem made
    * before the session keeps serving. Name it rather than fork silently. */
  def checkBound(conf: Configuration): Unit = {
    val bound = FileSystem.get(URI.create("file:///"), conf).getClass
    if (bound != classOf[ForkFreeLocalFileSystem])
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"file: resolves to ${bound.getName}, not ${classOf[ForkFreeLocalFileSystem].getName}, so checkpoint" +
          " I/O forks chmod/readlink per file (was a file: FileSystem cached before the session?)")
  }
}
