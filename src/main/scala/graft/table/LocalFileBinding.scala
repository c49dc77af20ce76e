package graft.table

import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.graftbridge.PlanBridge

/** `RawLocalFileSystem` that starts no process per call. Without Hadoop's
  * native library the stock class forks `chmod` for every file, `.crc`
  * sidecar and directory it creates, and `readlink` for every
  * `getFileLinkStatus` (twice per rename through `FileContext`). Here
  * permissions are set through `java.nio` and a path that is not a symlink
  * answers its link status from `getFileStatus`. Symlinks, sticky, setuid
  * and setgid bits and stores without POSIX attributes take Hadoop's own
  * code, so every result matches the stock class. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  /** `st_mode` of `p` itself (a symlink is not followed), if the store reports it. */
  private def mode(p: Path): Option[Int] =
    try Some(Files.getAttribute(pathToFile(p).toPath, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int])
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => None }

  private def isSymlink(mode: Int): Boolean = (mode & 0xf000) == 0xa000 // S_IFLNK

  override def setPermission(p: Path, permission: FsPermission): Unit = mode(p) match {
    case Some(m) if !isSymlink(m) && (m & 0xe00) == 0 && !permission.getStickyBit =>
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
    case _ => super.setPermission(p, permission)
  }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The checksummed `file` file system over [[ForkFreeRawLocalFileSystem]]:
  * stock `LocalFileSystem` behaviour, `.crc` sidecars included. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `AbstractFileSystem` twin of [[ForkFreeRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` is of `RawLocalFileSystem`. `FileContext` (Spark's
  * streaming checkpoint logs) opens local files through it. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` over [[ForkFreeRawLocalFs]], as
  * Hadoop's `LocalFs` is over `RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** The one place the program opens Hadoop file systems. Every conf it hands
  * out is a copy the program owns with the `file` scheme bound to the
  * fork-free classes above; other schemes, the user's session conf and the
  * on-disk layout are untouched. The binding bypasses Hadoop's file-system
  * cache, which is keyed by scheme and user only and would otherwise hand a
  * bound conf a stock instance created earlier. */
object LocalFileBinding {
  private val binding = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Bind `conf` in place; it must be a copy the caller owns (a write's job conf). */
  def bind(conf: Configuration): Configuration = {
    binding.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** A bound copy of the session's Hadoop conf, for a read the driver makes itself. */
  private[graft] def hadoopConf(spark: SparkSession): Configuration = bind(spark.sessionState.newHadoopConf())

  /** The file system of `path` under a bound copy of the session's conf. */
  def fileSystem(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(hadoopConf(spark))

  /** One bound clone per session: a clone's streaming query manager adds a
    * listener to the SparkContext's bus that nothing removes. */
  private val clones = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `df`, analyzed in its own session, on that session's bound clone, whose
    * conf is made the session's current conf plus the binding; the file
    * sources of a streaming plan move to the clone too, so the source log a
    * query on it writes is bound. The caller's session is left as it is. */
  def rebind(df: DataFrame): DataFrame = {
    val s = clones.synchronized {
      val c = clones.computeIfAbsent(df.sparkSession, PlanBridge.cloneSession(_))
      PlanBridge.copyConf(df.sparkSession, c, binding)
      c
    }
    PlanBridge.ofRows(s, df.queryExecution.analyzed.transform {
      case r: StreamingRelation => r.copy(dataSource = r.dataSource.copy(sparkSession = s))
    })
  }
}
