package graftbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import java.nio.file.attribute.PosixFilePermission._

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with permissions set and read through
  * java.nio.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` starts a `chmod`
  * process for every file and directory it creates and an `ls -ld` process
  * for every listed status whose permission is read: on `ingest_small` the
  * JVM started ~185 processes and threads a second with them and ~73
  * without. Process start-up time on a shared VM swings with host load, so
  * those forks widened the run-to-run spread of the benchmark's timings
  * while measuring nothing of the engine (with the native library, or on an
  * object store, there are none). Every other call is Hadoop's own.
  */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, NioPerms.toPosix(permission))

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  /** The same status with permission, owner and group read eagerly through
    * java.nio instead of lazily through `ls -ld`.
    */
  private def plain(st: FileStatus): FileStatus = {
    val attrs = Files.readAttributes(pathToFile(st.getPath).toPath, classOf[PosixFileAttributes])
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, new FsPermission(NioPerms.toMode(attrs.permissions)),
      attrs.owner.getName, attrs.group.getName, st.getPath)
  }
}

/** `fs.file.impl`: checksummed local files over [[NioRawLocalFileSystem]]. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the FileContext API Spark's streaming
  * checkpoint uses): the same as Hadoop's `LocalFs` over
  * [[NioRawLocalFileSystem]].
  */
final class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}

object NioPerms {
  private val Bits: Seq[(PosixFilePermission, Int)] = Seq(
    OWNER_READ -> 0x100, OWNER_WRITE -> 0x80, OWNER_EXECUTE -> 0x40,
    GROUP_READ -> 0x20, GROUP_WRITE -> 0x10, GROUP_EXECUTE -> 0x8,
    OTHERS_READ -> 0x4, OTHERS_WRITE -> 0x2, OTHERS_EXECUTE -> 0x1)

  def toMode(ps: java.util.Set[PosixFilePermission]): Short =
    Bits.collect { case (p, b) if ps.contains(p) => b }.sum.toShort

  def toPosix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = perm.toShort
    Bits.collect { case (p, b) if (mode & b) != 0 => p }.toSet.asJava
  }

  /** Session settings that route `file:` paths through the classes above. */
  val SparkConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
