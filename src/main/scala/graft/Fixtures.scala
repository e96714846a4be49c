package graft

/** Write-once fixtures for queries that read a previously-materialized
  * physical layout (partitioned cube, pyramid levels, CSV round-trip,
  * streaming-upsert convergence).
  *
  * The layout build runs only when the done-marker is absent or was built
  * with a DIFFERENT writer configuration (the marker stores a fingerprint of
  * the config; a changed tile size / level count / slice plan rebuilds
  * instead of silently reusing a stale layout). A benched query therefore
  * measures the READ plan — the thing the query exists to showcase — not the
  * one-time write. Layouts are keyed by target path (which embeds the sf
  * name), so each scale factor builds once per checkout.
  */
object Fixtures {
  private val marker = "_GRAFT_DONE"

  /** `.graft-fixtures` under the working directory — the checkout running
    * the queries, the same rule as the session's `spark.sql.warehouse.dir`.
    * Outside `target/`, so `sbt clean` keeps the layouts. */
  def root: String = new java.io.File(".graft-fixtures").getAbsolutePath

  /** `<root>/<name>_<sf>`, where sf is the last component of `sfDir`. */
  def path(sfDir: String, name: String): String =
    s"$root/${name}_${new java.io.File(sfDir).getName}"

  /** The write-once layout [[path]]`(sfDir, name)`: built by `write`, which
    * is handed the created (empty) directory, unless it already carries
    * `fingerprint` (see [[ensureWritten]]). Returns the directory. */
  def layout(sfDir: String, name: String, fingerprint: String)(
      write: String => Unit): String = {
    val dir = path(sfDir, name)
    ensureWritten(dir, fingerprint) {
      new java.io.File(dir).mkdirs()
      write(dir)
    }
    dir
  }

  /** A per-run scratch directory [[path]]`(sfDir, name)`, emptied and
    * created afresh on every call. */
  def scratch(sfDir: String, name: String): String = {
    val dir = new java.io.File(path(sfDir, name))
    deleteRecursively(dir)
    dir.mkdirs()
    dir.getPath
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Run `write` unless `path` already carries a marker with the same
    * `fingerprint`. On fingerprint mismatch the stale layout is deleted and
    * rebuilt. Guarded against concurrent builders both in-JVM
    * (synchronized) and across processes (an OS file lock next to the
    * target — two harness processes benching the same sf serialize here
    * instead of racing the layout build).
    */
  def ensureWritten(path: String, fingerprint: String = "")(write: => Unit): Unit =
    synchronized {
      val target = new java.io.File(path)
      Option(target.getParentFile).foreach(_.mkdirs())
      val lockPath = new java.io.File(target.getParentFile,
        s".${target.getName}.lock").toPath
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock = ch.lock()
      try {
        val m = new java.io.File(path, marker)
        val upToDate = m.exists() &&
          new String(java.nio.file.Files.readAllBytes(m.toPath)) == fingerprint
        if (!upToDate) {
          deleteRecursively(target)
          write
          m.getParentFile.mkdirs()
          java.nio.file.Files.write(m.toPath, fingerprint.getBytes)
          ()
        }
      } finally {
        lock.release()
        ch.close()
      }
    }
}
