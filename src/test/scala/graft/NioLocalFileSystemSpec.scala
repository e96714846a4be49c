package graft

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

/** The fork-free local filesystem answers like stock Hadoop, and a builder
  * session gets it for `file:` whatever ran before. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val local = URI.create("file:///")

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(local, c)
    fs
  }

  /** st_mode with the type bits: permissions, sticky, setuid and setgid. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int]

  /** The same steps under a fresh directory for each filesystem: the
    * modes they leave, by relative name. */
  private def modesAfter(fs: FileSystem, steps: (FileSystem, String) => Unit)
      : Map[String, Int] = {
    val root = TestDirs.tmpDir("niofs")
    steps(fs, root)
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.filter(_ != base)
        .map(p => base.relativize(p).toString -> mode(p.toString)).toMap
    } finally walk.close()
  }

  private val perm = (m: Int) => new FsPermission(m.toShort)

  private val writeSteps: (FileSystem, String) => Unit = { (fs, root) =>
    fs.create(new Path(s"$root/a/plain")).close()
    fs.create(new Path(s"$root/b/withPerm"), perm(0x1ff), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(s"$root/c/d"))
    fs.mkdirs(new Path(s"file:$root/e/f"), perm(0x1fd))
    fs.create(new Path(s"$root/g")).close()
    fs.setPermission(new Path(s"$root/g"), perm(0x184)) // 0604
    fs.mkdirs(new Path(s"$root/h"))
    fs.setPermission(new Path(s"file:$root/h"), perm(0x1c9)) // 0711
  }

  test("create, mkdirs and setPermission leave stock's modes, umask included") {
    for (umask <- Seq(None, Some("027"), Some("077"))) {
      val c = conf(umask)
      val stockRaw = modesAfter(init(new RawLocalFileSystem, c), writeSteps)
      val nioRaw = modesAfter(init(new NioRawLocalFileSystem, c), writeSteps)
      assert(nioRaw == stockRaw, s"raw, umask $umask")
      assert(stockRaw.size == 10)
      // under the checksum layer: the .crc files too
      val stock = modesAfter(init(new LocalFileSystem, c), writeSteps)
      val nio = modesAfter(init(new NioLocalFileSystem, c), writeSteps)
      assert(nio == stock, s"checksummed, umask $umask")
      assert(stock.keySet.exists(_.endsWith(".crc")))
    }
  }

  test("sticky bits and setgid directories fall back to stock") {
    val sticky: (FileSystem, String) => Unit = { (fs, root) =>
      fs.mkdirs(new Path(s"$root/s"))
      fs.setPermission(new Path(s"$root/s"), perm(0x3ff)) // 01777
      fs.mkdirs(new Path(s"$root/g"))
      Files.setAttribute(Paths.get(s"$root/g"), "unix:mode", Integer.valueOf(0x5ed)) // 02755
      fs.setPermission(new Path(s"$root/g"), perm(0x1e8)) // 0750
    }
    val c = conf(None)
    val stock = modesAfter(init(new RawLocalFileSystem, c), sticky)
    assert(modesAfter(init(new NioRawLocalFileSystem, c), sticky) == stock)
    assert((stock("s") & 0xfff) == 0x3ff)
    assert((stock("g") & 0xfff) == 0x5e8, "chmod 0750 keeps a directory's setgid")
  }

  test("getFileLinkStatus: files, directories, missing paths and symlinks, plain or file:") {
    val root = TestDirs.tmpDir("niolinks")
    Files.write(Paths.get(s"$root/file"), Array[Byte](1, 2, 3))
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get(s"$root/gone"))
    val c = conf(None)
    val stock = init(new LocalFileSystem, c)
    val nio = init(new NioLocalFileSystem, c)
    def seen(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else None, s.getLen,
          s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: FileNotFoundException => Left(e.getClass.getName) }
    for (name <- Seq("file", "dir", "missing", "link", "dangling");
         p <- Seq(new Path(s"$root/$name"), new Path(s"file:$root/$name"))) {
      assert(seen(nio, p) == seen(stock, p), p)
    }
    assert(seen(stock, new Path(s"$root/missing")).isLeft)
    assert(seen(stock, new Path(s"$root/link")).exists(_(3) == true))
    assert(seen(stock, new Path(s"$root/dangling")).exists(_(3) == true))
    // stock reads a file:-qualified path as no link (readlink of "file:/...")
    assert(seen(stock, new Path(s"file:$root/link")).exists(_(3) == false))
  }

  test("a builder session gets the fork-free FileSystem and FileContext for file:") {
    val hc = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, hc).isInstanceOf[NioLocalFileSystem])
    assert(new Path(TestDirs.base.toString).getFileSystem(hc)
      .isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, hc).isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("a stock file: instance cached before the builder runs is replaced") {
    val stockConf = conf(None)
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    // evict whatever is cached, then let a stock instance win the cache
    FileSystem.get(local, stockConf).close()
    assert(!FileSystem.get(local, stockConf).isInstanceOf[NioLocalFileSystem])
    GraftSession.builder("4")
    assert(FileSystem.get(local, conf(None)).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }
}
