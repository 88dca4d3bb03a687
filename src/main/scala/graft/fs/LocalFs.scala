package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's raw local filesystem
  * without the per-operation process forks.
  *
  * Without `libhadoop.so` (NativeIO unavailable), stock Hadoop 3.4
  * forks a shell command on two hot paths:
  *  - `setPermission` runs `chmod`, on every file create and every
  *    `mkdirs` with a permission;
  *  - `getFileLinkStatus` runs `readlink` (the deprecated status
  *    path), which `FileContext.rename` calls on the source, the
  *    destination and their `.crc` twins — every streaming checkpoint
  *    and state-store commit.
  *
  * Both are answered here through `java.nio.file` instead. Everything
  * else — checksums, bytes, names, mtimes, listings — is the stock
  * class's. A request this class does not map (a sticky bit, or any
  * bit above the nine rwx bits) and any path that IS a symlink fall
  * back to the stock code, forks included.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) through NIO with the requested rwx bits, on the path's
    * target (NIO follows symlinks, as stock `chmod` on the canonical
    * path does).
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(mode))
  }

  /** A path that is not a symlink has the same link status as file
    * status — the stock code reaches the same answer after a `readlink`
    * fork that prints nothing. A symlink goes to the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // bit i of an octal mode, others-execute (bit 0) up to owner-read (bit 8)
  private val ByBit = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
    GROUP_EXECUTE, GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- ByBit.indices if (mode & (1 << i)) != 0) s.add(ByBit(i))
    s
  }
}

/** `FileSystem` API (`fs.file.impl`): the checksummed local filesystem
  * over [[ForkFreeRawLocalFileSystem]].
  *
  * Without an explicit `fs.file.impl`, Hadoop takes the `file:` class
  * from the service registrations on the classpath, and the last one
  * wins: with Spark's jars that is Hive's `ProxyLocalFileSystem`, which
  * refuses a rename onto an existing file (HDFS semantics) where
  * `LocalFileSystem` replaces it. This class keeps the refusal, so
  * installing it changes no rename outcome.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = {
    val dstIsFile =
      try getFileStatus(dst).isFile catch { case _: java.io.FileNotFoundException => false }
    !dstIsFile && super.rename(src, dst)
  }
}

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`, what streaming
  * checkpoints and state stores write through): Hadoop's `LocalFs`
  * shape — a `ChecksumFs` over a delegate to the raw filesystem — with
  * [[ForkFreeRawLocalFileSystem]] as the raw filesystem. Hadoop builds
  * it reflectively from `(URI, Configuration)`; like `LocalFs` it
  * ignores the URI, which is always `file:///`.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  /** Hadoop's `RawLocalFs` with its four overrides, over the fork-free
    * raw filesystem.
    */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
