package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local filesystem the engine's streaming checkpoints are written on.
  *
  * Structured Streaming pays for exactly-once delivery with a per-trigger
  * write-ahead log (offsets, commits) and a state-store checkpoint
  * (delta/snapshot files), each written as a temp file that is renamed
  * into place. Spark's default checkpoint file manager does this through
  * Hadoop's `FileContext`, and without libhadoop, Hadoop's local
  * filesystem forks a `chmod` for every file it creates and a `readlink`
  * for every rename: about 20 processes per trigger on the stream thread
  * plus about 20 per state partition, which dominated the per-trigger
  * cost of a keyed rule.
  *
  * [[install]] points the session's `fs.AbstractFileSystem.file.impl` at
  * [[LocalFs]]: Hadoop's `ChecksumFs` over a `RawLocalFileSystem` that
  * sets permissions through `java.nio` and answers link status without
  * `readlink`. Spark copies session entries into the Hadoop conf its
  * offset and commit logs and its state stores receive, so Spark's own
  * checkpoint file manager runs over it unchanged. File names and bytes,
  * Hadoop's `.crc` sidecars and Spark's state-file checksums are the
  * same, so a checkpoint moves freely between this filesystem and the
  * stock one; other schemes and the `FileSystem` API are untouched.
  */
object NoForkLocalFs {

  /** Hadoop's key naming the `AbstractFileSystem` of the `file` scheme. */
  val FileImplKey = "fs.AbstractFileSystem.file.impl"

  /** Make [[LocalFs]] the session's `file:` filesystem for `FileContext`
    * users, unless the session or its Hadoop conf already names one
    * other than Hadoop's default: a filesystem the user set wins, and so
    * does a checkpoint file manager the user names. Called from the
    * engine's streaming entry points; idempotent. */
  def install(spark: SparkSession): Unit = {
    val hadoopSet = Option(spark.sparkContext.hadoopConfiguration.get(FileImplKey))
      .exists(_ != classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    if (spark.conf.getOption(FileImplKey).isEmpty && !hadoopSet)
      spark.conf.set(FileImplKey, classOf[LocalFs].getName)
  }

  /** `RawLocalFileSystem` without process forks on the checkpoint path. */
  final class RawLocalFileSystemNoFork extends RawLocalFileSystem {

    /** chmod(2) through nio instead of forking `chmod`; the sticky bit,
      * which nio cannot set, and non-POSIX filesystems keep the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    /** The stock answer for a path that is not a symlink is its
      * `getFileStatus`, reached only after forking `readlink`; rename asks
      * this of both of its paths. Symlinks keep the stock path. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** Hadoop's `RawLocalFs` over [[RawLocalFileSystemNoFork]] (its
    * constructors are package-private, so its overrides are repeated). */
  final class RawLocalFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawLocalFileSystemNoFork, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    @deprecated("as in RawLocalFs", "")
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** Hadoop's `LocalFs` (checksummed local files) over [[RawLocalFs]]. */
  final class LocalFs(uri: URI, conf: Configuration)
      extends ChecksumFs(new RawLocalFs(FsConstants.LOCAL_FS_URI, conf))
}
