package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop (the Spark distribution ships only the pure-Java
  * `hadoop-client` jars), `RawLocalFileSystem.setPermission` runs
  * `chmod` through `Shell` on every `create` — the data file and its
  * `.crc` — and on every new directory, and `getFileLinkStatus` runs
  * `readlink`, twice per `FileContext` rename, which is how Structured
  * Streaming commits its checkpoint files. One fork costs about 3 ms
  * from a JVM with a 2 GB heap; the NIO call costs about 0.02 ms. A
  * lake day (land, merge, report) paid 80–150 of them.
  *
  * This subclass does both through `java.nio.file`. It defers to Hadoop
  * for what NIO cannot express (the sticky bit) and for real symlinks,
  * so results match the stock class bit for bit.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission))

  // the stock method runs `readlink` and, for a non-link, returns
  // exactly `getFileStatus`
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over the NIO raw
  * filesystem. `.crc` files are written and verified as before.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` view of [[NioRawLocalFileSystem]]; mirrors Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem method", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem, as Hadoop's `org.apache.hadoop.fs.local.LocalFs`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFs {
  private val FsKey = "fs.file.impl"
  private val AfsKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopAfs = "org.apache.hadoop.fs.local.LocalFs"

  /** Register the NIO `file:` classes on `conf`, leaving any class a
    * user chose in place: `fs.file.impl` only while it is unset, the
    * `FileContext` key only while it still names Hadoop's default.
    *
    * Hadoop caches one `FileSystem` per scheme and user for the whole
    * JVM, whatever the conf, so the first `file:` lookup decides which
    * class every later session gets; `FileContext` filesystems are not
    * cached and follow the conf they are built from.
    */
  def install(conf: Configuration): Unit = {
    if (Option(conf.getTrimmed(FsKey)).forall(_.isEmpty))
      conf.set(FsKey, classOf[NioLocalFileSystem].getName)
    if (conf.getTrimmed(AfsKey) == HadoopAfs)
      conf.set(AfsKey, classOf[NioLocalFs].getName)
  }

  /** The nine rwx bits of `p` as NIO permissions. The bits are read from
    * `toShort`, not `toString`: a create-mode subclass prints both its
    * masked and unmasked form.
    */
  private[io] def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = p.toShort
    // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to 0
    PosixFilePermission.values.zipWithIndex
      .collect { case (perm, i) if (bits >> (8 - i) & 1) == 1 => perm }
      .toSet.asJava
  }
}
