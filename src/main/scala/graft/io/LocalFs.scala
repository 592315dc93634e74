package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's `file:` scheme with the two calls that fork a process done by
  * java.nio instead. Without libhadoop (`NativeCodeLoader` finds none in
  * Spark's jars), `RawLocalFileSystem` runs `chmod` in `setPermission`
  * for every file and directory it creates, `.crc` sidecars included,
  * and `readlink` in `getFileLinkStatus`, which `FileContext.rename` calls
  * for the source, the destination and its parent, and again for their
  * `.crc` files. A CDC trigger forked dozens of such processes at 4–5 ms
  * each (its part files, `_temporary` directories and the checkpoint's
  * offset and commit files), against microseconds for the java.nio call.
  * Only the syscalls change: the same files, permissions, statuses and
  * checksums result.
  *
  * [[Bindings]] are the Hadoop conf entries that select these classes;
  * [[WriteOptions]] add `fs.file.impl.disable.cache`, because the
  * JVM-wide `FileSystem` cache ignores `fs.file.impl` once it holds a
  * `file:` instance, and the first one is often Hadoop's stock class,
  * created before any write asked for this one.
  */
object LocalFs {

  val FileSystemKey = "fs.file.impl"
  val AbstractFileSystemKey = "fs.AbstractFileSystem.file.impl"

  /** `fs.file.impl` for `FileSystem` users (Spark's file writers and
    * readers), `fs.AbstractFileSystem.file.impl` for `FileContext` users
    * (the streaming checkpoint's offset and commit logs).
    */
  val Bindings: Map[String, String] = Map(
    FileSystemKey -> classOf[NioLocalFileSystem].getName,
    AbstractFileSystemKey -> classOf[NioLocalFs].getName)

  /** DataFrame writer options that make a write's own Hadoop conf create
    * a [[NioLocalFileSystem]], whatever the JVM's cache holds.
    */
  val WriteOptions: Map[String, String] = Map(
    FileSystemKey -> Bindings(FileSystemKey),
    "fs.file.impl.disable.cache" -> "true")

  /** The rwx bits of `mode` as java.nio permissions. */
  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared owner, group, others, each read, write, execute: bit 8 - i
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}

/** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus` on
  * java.nio. A sticky bit, which java.nio cannot set, and an actual
  * symbolic link take Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(permission.toShort))

  /** For a path that is not a symbolic link Hadoop's answer is
    * `getFileStatus(f)`, once `readlink` has printed nothing.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** Hadoop's `LocalFileSystem` (the `.crc` checksummed `file:` scheme)
  * over [[NioRawLocalFileSystem]]. It stays a `LocalFileSystem`, so
  * `FileSystem.getLocal` still returns it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw `file:` binding, as Hadoop's `RawLocalFs`, over
  * [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext`'s `file:` binding, as Hadoop's `LocalFs`: `.crc`
  * checksums over [[NioRawLocalFs]]. Like `LocalFs` it serves
  * `file:///` whatever `uri` it is created for.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
