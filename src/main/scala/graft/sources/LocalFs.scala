package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** A fork-free `file:` scheme for Hadoop's `FileContext`, the API Spark's
  * checkpoint file manager writes offsets, commits and state-store files
  * through. Without `libhadoop`, the stock `RawLocalFileSystem` starts a
  * `chmod` process for every file and directory it creates, and a
  * `readlink` for every link-status lookup (a rename checks both ends).
  * The `readlink` runs on the qualified `file:/…` string, which is no real
  * path, so it always fails and always answers "not a symlink". The
  * alerts pipeline paid about 100 such process starts per micro-batch.
  *
  * [[ForkFreeRawLocalFileSystem]] sets the same mode bits through
  * `java.nio` and answers a link-status lookup from `Files.isSymbolicLink`;
  * Hadoop's own code still handles a real symlink, a mode above 0777 and a
  * store without POSIX permissions. The same `ChecksumFs` as the stock
  * `LocalFs` wraps it, so the `.crc` files are written and verified as
  * before.
  */
object LocalFs {
  private val ImplKey = "fs.AbstractFileSystem.file.impl"
  private val Stock = classOf[org.apache.hadoop.fs.local.LocalFs].getName

  /** Resolves `file:` FileContexts of this session to the fork-free file
    * system, unless its Hadoop configuration names a non-stock one.
    */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (Option(conf.get(ImplKey)).forall(_ == Stock))
      conf.set(ImplKey, classOf[ForkFreeLocalFs].getName)
  }
}

/** The stock `LocalFs` over [[ForkFreeRawLocalFs]]; like it, ignores `uri`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** The stock `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
    conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `RawLocalFileSystem` without its `chmod` and `readlink` processes. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val file = pathToFile(p).toPath
    if (mode > 511 /* 0777 */ || Files.isSymbolicLink(file)) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // OWNER_READ .. OTHERS_EXECUTE are bits 0400 .. 0001
      PosixFilePermission.values.foreach(b => if ((mode & (256 >> b.ordinal)) != 0) bits.add(b))
      try Files.setPosixFilePermissions(file, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
