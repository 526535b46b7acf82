package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** A `file:` filesystem that behaves like Hadoop's checksummed
  * `LocalFileSystem` but starts no child process.
  *
  * Without `libhadoop.so` ("Unable to load native-hadoop library"), Hadoop's
  * `RawLocalFileSystem` runs `chmod` through `Shell.execCommand` for every
  * file it creates and every directory it makes, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends, so
  * every streaming checkpoint, state-store delta and sink file forks.
  * [[LocalFs.Raw]] answers those two calls from `java.nio` instead;
  * everything else, the `.crc` sidecars included, is Hadoop's own.
  *
  * `FileSystem.getLocal` casts to `LocalFileSystem`, hence the subclass.
  * [[LocalFs.Afs]] is the `AbstractFileSystem` twin `FileContext` (the
  * streaming checkpoint manager) resolves through. [[LocalFs.impls]] binds
  * both to the `file:` scheme.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** The Hadoop keys that bind the `file:` scheme to these classes. */
  val impls: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Afs].getName)

  /** [[impls]] as session conf, for a session built without them: every
    * Hadoop conf the session hands out (`sessionState.newHadoopConf()`, on
    * the driver and shipped to tasks) carries them. The `FileSystem` cache
    * is keyed by scheme, not by conf, so it is bypassed: a stock
    * `LocalFileSystem` cached earlier would otherwise still be returned. */
  val sessionBinding: Seq[(String, String)] =
    impls :+ ("fs.file.impl.disable.cache" -> "true")

  /** Hadoop's raw local filesystem with its two forking calls answered by
    * `java.nio`. A mode beyond the nine permission bits (the sticky bit)
    * and a real symlink still take Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `PosixFilePermission` lists owner/group/others × read/write/execute in
    * mode-bit order, from bit 8 down to bit 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) s.add(p)
    }
    s
  }

  /** The `AbstractFileSystem` twin: checksummed over [[RawAfs]], as Hadoop's
    * `fs.local.LocalFs` is over `fs.local.RawLocalFs`. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  /** Hadoop's `fs.local.RawLocalFs` (whose constructors are package-private)
    * delegating to [[Raw]]. */
  class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
