package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

/** Hadoop's local filesystem without the shell. Without Hadoop's native
  * library, stock [[RawLocalFileSystem]] starts an OS process for two
  * calls on every write path: `chmod` in `setPermission` (each `create`
  * with a permission, its `.crc` twin, each `mkdirs` with a permission)
  * and `readlink` in `getFileLinkStatus` (each `FileContext.rename`,
  * which is every streaming checkpoint commit). Each costs 2.4–3.5 ms on
  * a 4-core host. Here both run through `java.nio.file`:
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions`. A mode with the sticky bit, and a
  *    directory that carries setuid or setgid (which `chmod 0755`
  *    preserves and a nine-bit set would clear), go to stock.
  *  - `getFileLinkStatus` returns `getFileStatus(f)` unless
  *    `Paths.get(f.toString)` is a symbolic link, where stock answers.
  *    Stock runs `readlink` on `new File(f.toString)`, so a
  *    `file:`-qualified path never reads as a link there either.
  *
  * Every other call is stock, so results, stored bytes and `.crc` files
  * do not change. [[graft.GraftSession.builder]] installs
  * [[NioLocalFileSystem]] and [[NioLocalFs]] for `file:`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    if ((mode & ~0x1ff) != 0 || NioRawLocalFileSystem.specialDir(file))
      super.setPermission(p, permission)
    else {
      Files.setPosixFilePermissions(file, NioRawLocalFileSystem.rwx(mode))
      ()
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  /** The nine rwx bits of `mode` as a permission set ("rwxr-x---"). */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString((0 until 9).map(b =>
      if ((mode & (1 << (8 - b))) != 0) "rwx"(b % 3) else '-').mkString)

  /** A directory with setuid or setgid set: `chmod` with a four-digit
    * mode keeps those bits on a directory. */
  private def specialDir(file: java.nio.file.Path): Boolean = {
    val st = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
    (st & 0xf000) == 0x4000 && (st & 0xc00) != 0
  }

  /** Makes the JVM-wide `FileSystem` cache hold a [[NioLocalFileSystem]]
    * for `file:`. That cache is keyed by scheme, authority and user, not
    * by configuration, so the first `file:` instance anyone creates is
    * the one every later `FileSystem.get` returns, whatever its
    * configuration names. A stock instance found there (created before
    * any session, e.g. from a `new Configuration()`) is closed, which
    * only removes it from the cache, and replaced. */
  private[graft] def claimCache(): Unit = synchronized {
    val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, localConf)
    if (!cached.isInstanceOf[NioLocalFileSystem]) {
      cached.close()
      FileSystem.get(FsConstants.LOCAL_FS_URI, localConf)
      ()
    }
  }

  private lazy val localConf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    c
  }
}

/** [[NioRawLocalFileSystem]] under the checksum layer: the `file:`
  * `FileSystem`, a stock [[LocalFileSystem]] in everything else. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioLocalFileSystem]] (stock: `LocalFs`),
  * which streaming checkpoints write through. Stock `RawLocalFs` has only
  * package-private constructors, so [[NioLocalFs.Raw]] repeats its
  * overrides. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {

  /** Stock `RawLocalFs` over [[NioRawLocalFileSystem]]; like stock, it
    * binds `file:///` whatever URI it is created for. */
  class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

    override def getUriDefaultPort: Int = -1

    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults

    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults

    // the OS validates names, as with RawLocalFileSystem
    override def isValidName(src: String): Boolean = true
  }
}
