package graft

import graft.cube.{Cube, GridMapping}
import graft.sources.{LevelStore, ZarrSource}
import graft.streaming.TimeSliceOps
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The ingest path's writes start no OS process: a JFR recording of
  * `jdk.ProcessStart` events around each write holds none. Stock Hadoop's
  * local filesystem forked `chmod` or `readlink` about a hundred times
  * over these calls. */
class IngestForkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  /** Once per JVM, at its first executor heartbeat (whenever that falls),
    * Spark's executor-metrics poller runs `getconf PAGESIZE`; it is no
    * write's fork, so it runs here, before any recording. */
  private lazy val heartbeatProbe: Unit = {
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    ()
  }

  /** The commands of the processes the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    heartbeatProbe
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile(TestDirs.base, "forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  private val ys = Array(0.5, 1.5, 2.5, 3.5)
  private val xs = Array(0.5, 1.5, 2.5, 3.5, 4.5, 5.5)

  private def slice(t: Double): DataFrame = {
    import spark.implicits._
    (for (y <- ys.toSeq; x <- xs.toSeq) yield (t, y, x, t * 100 + y * 10 + x))
      .toDF("t", "y", "x", "v")
  }

  test("writeCubeVars with chunk statistics forks nothing") {
    val df = slice(0.0).drop("t")
    slice(0.0).count() // warm the session outside the recording
    val g = TestDirs.tmpDir("forkzarr")
    val forks = processStarts {
      ZarrSource.writeCubeVars(df, g, Seq("v"), Seq("y" -> ys, "x" -> xs),
        Seq(2, 3), stats = true, statsInlineBudget = 0L)
    }
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  test("writeLevels of three levels forks nothing") {
    import spark.implicits._
    val gm = GridMapping(8, 8, 0.0, 0.0, 1.0, 1.0)
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = for (j <- 0 until 8; i <- 0 until 8)
      yield (t0, j + 0.5, i + 0.5, (j * 8 + i).toDouble)
    val cube = Cube(rows.toDF("time", "y", "x", "v"), gm)
    val root = TestDirs.tmpDir("forklevels")
    val forks = processStarts(LevelStore.writeLevels(cube, root, 2))
    assert(forks.isEmpty, forks.mkString("\n"))
  }

  test("two streamZarrAppend runs against one group fork nothing") {
    val src = TestDirs.tmpDir("forksrc")
    val group = s"${TestDirs.tmpDir("forkgrp")}/cube.zarr"
    def run(t: Double): Unit = {
      slice(t).coalesce(1).write.parquet(s"$src/slice_$t")
      val q = TimeSliceOps.streamZarrAppend(spark, slice(0.0).schema, src,
        group, "v", "t", Seq("y" -> ys, "x" -> xs), chunks = Seq(1, 2, 3))
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    val forks = processStarts { run(0.0); run(1.0) }
    assert(forks.isEmpty, forks.mkString("\n"))
    val t = ZarrSource.readAll(s"$group/t", ZarrSource.openArray(s"$group/t"))
    assert(t.toSeq == Seq(0.0, 1.0))
  }
}
