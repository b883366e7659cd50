package graft.engine

import java.net.URI
import java.nio.file.{Files, FileSystems}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` file system without a child process per call.
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` forks
  * `chmod` for every file and directory it creates and `readlink` for
  * every link-status lookup (two per `FileContext` rename): most of what
  * a streaming micro-batch's WAL commits and small-file writes cost in a
  * local session. [[Raw]] does both in-process through `java.nio.file`;
  * sticky bits, non-POSIX file systems and real symbolic links fall
  * through to Hadoop's code. [[FileSystem]] and [[Fs]] wrap it the way
  * Hadoop's `LocalFileSystem` and `local.LocalFs` wrap theirs, so `.crc`
  * checksum sidecars are written and verified as before.
  *
  * [[Engine.session]] installs both (`fs.file.impl`,
  * `fs.AbstractFileSystem.file.impl`) for local masters only. Spark's
  * `AbstractFileContextBasedCheckpointFileManager.isLocal` tests for
  * Hadoop's `LocalFs`/`RawLocalFs` by class and so reads false over
  * [[Fs]]; nothing in Spark 4.1 acts on it. */
object LocalFs {

  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission` lists owner, group, others, each r-w-x: the
    * nine permission bits from the highest down. */
  private def posixBits(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits >> (8 - i) & 1) == 1) set.add(p)
    }
    set
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if (!Posix || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posixBits(bits))
    }

    /** Hadoop's version reads the link target first and returns the
      * plain status when there is none; a path that is not a link needs
      * no `readlink` to tell. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's `LocalFileSystem` over [[Raw]]. */
  class FileSystem extends org.apache.hadoop.fs.LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl` (the `FileContext` side): Hadoop's
    * `local.LocalFs` over [[Raw]]. Like it, ignores the URI it is given. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(conf))

  /** Hadoop's `local.RawLocalFs` over [[Raw]]. */
  class RawFs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The session confs that install these classes. */
  private[graft] val Confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[Fs].getName)
}
