package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch space for specs: `target/tmp-tests` under the working directory,
  * i.e. the checkout running the suite, so two checkouts never write into
  * each other's `target/`. Every directory handed out is deleted, with
  * everything in it, when the test JVM exits. */
object TestDirs {

  /** The absolute scratch root, created on first use. */
  def base: Path =
    Files.createDirectories(Paths.get("target", "tmp-tests").toAbsolutePath)

  /** A fresh directory under [[base]] whose name starts with `prefix`,
    * deleted at JVM exit. */
  def tmpDir(prefix: String): String = {
    val dir = Files.createTempDirectory(base, prefix)
    org.apache.spark.graftbridge.ShutdownDelete.register(dir.toFile)
    dir.toString
  }
}
