package graft

import graft.streaming.TimeSliceOps
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ConfBridge
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestDirs.tmpDir

/** Generated code is compiled once per session tree, not once per
  * streaming run or conf twin. Spark caches compiled classes per (task
  * context classloader, source), so a session clone that gets its own
  * executor classloader (every `StreamingQuery.start()` and every
  * [[ConfBridge]] twin clones the session) recompiles every plan it runs.
  * The compile counter is process-wide, and suites run one at a time in
  * the test JVM, so a delta around an action counts that action's
  * compiles only.
  */
class CodeReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Identities of the context classloaders the tasks of `df` run under. */
  private def taskLoaders(df: DataFrame): Set[Int] =
    df.mapPartitions(_ => Iterator.single(
      System.identityHashCode(Thread.currentThread.getContextClassLoader)))(
      Encoders.scalaInt).collect().toSet

  test("streamZarrAppend: appends after the first compile no new code") {
    import spark.implicits._
    val base = tmpDir("reuse")
    val (y, x) = (Array(0.0, 1.0, 2.0), Array(0.0, 1.0, 2.0, 3.0))
    def slice(t: Double) = (for (yi <- y; xi <- x)
      yield (t, yi, xi, t * 100 + yi * 10 + xi)).toSeq.toDF("t", "y", "x", "v")
    val schema = slice(0.0).schema
    val group = s"$base/cube.zarr"
    def push(k: Int): Long = {
      slice(k.toDouble).write.parquet(s"$base/src/slice_$k")
      compilesDuring {
        val q = TimeSliceOps.streamZarrAppend(spark, schema, s"$base/src",
          group, "v", "t", Seq("y" -> y, "x" -> x), chunks = Seq(1, 3, 4))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    }
    push(0) // creates the group
    push(1) // first append: compiles the append plan once
    val later = Seq(push(2), push(3))
    assert(later == Seq(0L, 0L), s"compiles per later append run: $later")
    val back = spark.read.format("zarr").option("vars", "v").load(group)
      .agg(count(lit(1)), sum("v")).head()
    assert(back.getLong(0) == 48)
    assert(back.getDouble(1) == (0 until 4).map(slice(_).agg(sum("v"))
      .head().getDouble(0)).sum)
  }

  test("micro-batch tasks run under the root session's classloader") {
    val rootLoaders = taskLoaders(spark.range(0, 4, 1, 4).toDF())
    assert(rootLoaders.size == 1)
    val src = tmpDir("loader_src")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    (1 to 2).foreach { k =>
      spark.range(k).toDF("id").write.parquet(s"$src/b$k")
      val q = spark.readStream.schema("id LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          seen.synchronized { seen += taskLoaders(b) }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("loader_ckpt"))
        .start()
      q.awaitTermination()
    }
    assert(seen.nonEmpty && seen.forall(_ == rootLoaders),
      s"root $rootLoaders, micro-batches $seen")
  }

  test("a conf twin reuses the code of a plan the root already ran") {
    val df = spark.range(0, 1000, 1, 4)
      .select((col("id") % 7).as("k"), (col("id") * 3).as("v"))
      .groupBy("k").agg(sum("v").as("s"))
    val want = df.collect().toSet
    // an override that leaves the plan as it is
    val twin = ConfBridge.twinSession(spark, Map(
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    var got = Set.empty[org.apache.spark.sql.Row]
    val n = compilesDuring { got = ConfBridge.reroot(df, twin).collect().toSet }
    assert(got == want)
    assert(n == 0, s"$n compiles on the twin's first run")
  }
}
