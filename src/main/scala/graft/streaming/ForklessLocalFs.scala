package graft.streaming

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `LocalFs` — the checksummed `file:` AbstractFileSystem that
  * every Structured Streaming checkpoint manager (offsets, commits,
  * state-store deltas, `_spark_metadata`) writes through — without its
  * process spawns.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` forks
  * `chmod` for every file and dir it creates, and its `getFileLinkStatus`
  * forks `readlink`, which `FileContext.rename` calls twice per rename:
  * 5,901 processes in one `perfbench` ingest run (seed 1, 4 vCPUs).
  * Here the same mode goes through `Files.setPosixFilePermissions`, and a
  * path that is not a symlink answers with its plain `getFileStatus`;
  * a sticky bit, a non-POSIX file system and symlinks keep the stock
  * code. Files, `.crc` side files and modes are byte-for-byte what
  * `LocalFs` writes. Reads differ in one way: `open(Path)`, the form
  * Spark's checkpoint file manager calls, verifies the `.crc` side file.
  * Under `LocalFs` it does not: `ChecksumFs` overrides only
  * `open(Path, int)`, and `FilterFs.open(Path)` reads the raw file.
  *
  * Parquet part files go through Hadoop's cached `FileSystem`, not
  * FileContext, and still fork `chmod`: `FileSystem.CACHE` keeps the
  * instance built before any session setting could replace it.
  *
  * Hadoop instantiates it through the `(URI, Configuration)` constructor;
  * like `LocalFs` it ignores the URI (always `file:///`). */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessLocalFs.Raw(conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object ForklessLocalFs {

  /** The Hadoop key naming the `file:` AbstractFileSystem class. */
  val Key = "fs.AbstractFileSystem.file.impl"

  /** Routes `spark`'s checkpoint I/O on local paths through
    * [[ForklessLocalFs]] by setting [[Key]] in the session conf, which
    * Spark copies into the Hadoop conf of every checkpoint manager it
    * builds. A value already set in the session or the Hadoop
    * configuration is left as it is; calling it again changes nothing. */
  def install(spark: SparkSession): Unit = {
    val preset = Option(spark.sparkContext.hadoopConfiguration.getPropertySources(Key))
      .exists(_.exists(_ != "core-default.xml"))
    if (!preset && spark.conf.getOption(Key).isEmpty)
      spark.conf.set(Key, classOf[ForklessLocalFs].getName)
  }

  /** Hadoop's `RawLocalFs` (whose constructors are package-private) over
    * [[Forkless]]: the same URI, port, server defaults and name rule. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Forkless, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  private[streaming] class Forkless extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !posix) super.setPermission(p, permission)
      else {
        // PosixFilePermission lists owner/group/others rwx from 0400 down
        val mode = permission.toShort
        val perms = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0)
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
      }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
