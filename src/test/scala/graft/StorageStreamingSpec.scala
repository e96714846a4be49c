package graft

import graft.cube.{Cube, GridMapping}
import graft.sources.{ByteStore, CubeWriter, ZarrSource}
import graft.streaming.TimeSliceOps
import org.apache.spark.graftbridge.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

class StorageStreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder("4").getOrCreate()

  private val gm = GridMapping(100, 100, 0.0, 0.0, 1.0, 1.0,
    tileWidth = 50, tileHeight = 50)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def mkCube(day: String, v: Double): Cube = {
    import spark.implicits._
    val t = ts(s"$day 00:00:00")
    val rows = for (j <- 0 until 10; i <- 0 until 10)
      yield (t, j * 10 + 0.5, i * 10 + 0.5, v)
    Cube(rows.toDF("time", "y", "x", "v"), gm)
  }

  private def tmpDir(prefix: String): String = {
    val base = new java.io.File("/root/repo/target/tmp-tests")
    base.mkdirs()
    Files.createTempDirectory(base.toPath, prefix).toString
  }

  test("partitioned write + pruned scan: partition filters, same answer") {
    val path = tmpDir("cube")
    CubeWriter.writePartitioned(mkCube("2024-01-01", 1.0), path)
    TimeSliceOps.appendTimeSlice(mkCube("2024-01-02", 2.0), path)
    val pruned = CubeWriter.prunedScan(spark, path, gm,
      bbox = Some((0.0, 0.0, 49.0, 49.0)),
      dateRange = Some(("2024-01-02", "2024-01-02")))
    // 5x5 cells in the lower-left 50x50 block, day 2 only
    assert(pruned.count() == 25)
    assert(pruned.agg(sum("v")).head().getDouble(0) == 50.0)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("p_block"),
      s"partition pruning missing in plan:\n$scan")
  }

  test("replaceTimeSlice overwrites only its own partitions (late slice)") {
    val path = tmpDir("cube")
    CubeWriter.writePartitioned(mkCube("2024-01-01", 1.0), path)
    TimeSliceOps.appendTimeSlice(mkCube("2024-01-02", 2.0), path)
    // late corrected slice for day 1
    TimeSliceOps.replaceTimeSlice(mkCube("2024-01-01", 9.0), path)
    val byDay = spark.read.parquet(path).groupBy("p_date")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.get(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    assert(byDay("2024-01-01") == ((900.0, 100L))) // replaced, not duplicated
    assert(byDay("2024-01-02") == ((200.0, 100L))) // untouched
  }

  test("updateTimeSlice patches only the touched variable and cells") {
    import spark.implicits._
    val path = tmpDir("cube")
    def two(day: String, v: Double): Cube = {
      val c = mkCube(day, v)
      c.copy(df = c.df.withColumn("w", col("v") * 10.0))
    }
    CubeWriter.writePartitioned(two("2024-01-01", 1.0), path)
    TimeSliceOps.appendTimeSlice(two("2024-01-02", 2.0), path)
    // update w ONLY, for HALF of day-1's cells (x < 50)
    val upd = two("2024-01-01", 1.0).df.filter(col("x") < 50.0)
      .select(col("time"), col("y"), col("x"), lit(77.0).as("w"))
    TimeSliceOps.updateTimeSlice(spark, path, Cube(upd, gm), Seq("w"))
    val back = spark.read.parquet(path)
    val day1 = back.filter(col("p_date") === lit("2024-01-01").cast("date"))
    // v untouched everywhere; w updated only where the update had rows
    assert(day1.agg(sum("v")).head().getDouble(0) == 100.0)
    assert(day1.filter(col("x") < 50.0).agg(sum("w")).head().getDouble(0) == 77.0 * 50)
    assert(day1.filter(col("x") >= 50.0).agg(sum("w")).head().getDouble(0) == 10.0 * 50)
    // day 2 partitions untouched
    val day2 = back.filter(col("p_date") === lit("2024-01-02").cast("date"))
    assert(day2.agg(sum("v"), sum("w")).head().toSeq == Seq(200.0, 2000.0))
  }

  test("findTimeSlice classifies append/insert/replace") {
    import spark.implicits._
    val df = Seq(ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"))
      .toDF("time")
    assert(TimeSliceOps.findTimeSlice(df, "time", ts("2024-01-05 00:00:00")) == TimeSliceOps.Append)
    assert(TimeSliceOps.findTimeSlice(df, "time", ts("2024-01-02 00:00:00")) == TimeSliceOps.Insert)
    assert(TimeSliceOps.findTimeSlice(df, "time", ts("2024-01-03 00:00:00")) == TimeSliceOps.Replace)
  }

  test("streamUpsert ingests late slices as partition overwrites") {
    val src = tmpDir("src")
    val dest = tmpDir("dest")
    val schema = mkCube("2024-01-01", 1.0).df.schema
    def runOnePass(): Unit = {
      val q = TimeSliceOps.streamUpsert(spark, schema, src, dest,
        batch => Cube(batch, gm))
      q.awaitTermination()
    }
    mkCube("2024-01-01", 1.0).df.write.parquet(s"$src/slice1")
    runOnePass()
    val first = spark.read.parquet(dest)
    assert(first.count() == 100 && first.agg(sum("v")).head().getDouble(0) == 100.0)
    // a late corrected slice for the same day arrives → upsert, not append
    mkCube("2024-01-01", 5.0).df.write.parquet(s"$src/slice2")
    runOnePass()
    val second = spark.read.parquet(dest)
    assert(second.count() == 100 && second.agg(sum("v")).head().getDouble(0) == 500.0)
  }

  // ---- streamZarrAppend: a 3 × 4 (y, x) slice per time label, one chunk
  // per slice, values exact in binary (t·100 + y·10 + x)
  private val zy = Array(0.0, 1.0, 2.0)
  private val zx = Array(0.0, 1.0, 2.0, 3.0)
  private def zvals(t: Double): Seq[Double] =
    for (yi <- zy.toSeq; xi <- zx.toSeq) yield t * 100 + yi * 10 + xi
  private def zslice(t: Double): DataFrame = {
    import spark.implicits._
    zvals(t).zipWithIndex.map { case (v, c) => (t, zy(c / zx.length), zx(c % zx.length), v) }
      .toDF("t", "y", "x", "v")
  }
  private def putSlice(dir: String, t: Double): Unit =
    zslice(t).coalesce(1).write.parquet(s"$dir/slice_$t")
  private def startZarr(src: String, group: String): StreamingQuery =
    TimeSliceOps.streamZarrAppend(spark, zslice(0.0).schema, src, group, "v",
      "t", Seq("y" -> zy, "x" -> zx), chunks = Seq(1, 3, 4))
  private def awaitZarr(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }
  /** (dim-0 coordinates, every cell of `v` in C order) of a group. */
  private def zarrContents(group: String): (Seq[Double], Seq[Double]) = {
    def all(name: String) =
      ZarrSource.readAll(s"$group/$name", ZarrSource.openArray(s"$group/$name")).toSeq
    (all("t"), all("v"))
  }

  test("streamZarrAppend: one micro-batch of two files appends both slices in time order") {
    val src = tmpDir("zsrc")
    val group = s"${tmpDir("zgrp")}/cube.zarr"
    putSlice(src, 1.0)
    awaitZarr(startZarr(src, group))
    putSlice(src, 5.0)
    putSlice(src, 3.0)
    val q = startZarr(src, group)
    awaitZarr(q)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1) // one micro-batch
    assert(zarrContents(group) == ((Seq(1.0, 3.0, 5.0),
      zvals(1.0) ++ zvals(3.0) ++ zvals(5.0))))
  }

  test("streamZarrAppend: a zero-row slice file creates no group and does not fail") {
    val src = tmpDir("zsrc")
    val group = s"${tmpDir("zgrp")}/cube.zarr"
    zslice(0.0).limit(0).coalesce(1).write.parquet(s"$src/empty")
    awaitZarr(startZarr(src, group))
    assert(!ByteStore.current.exists(s"$group/.zgroup"))
    putSlice(src, 2.0)
    awaitZarr(startZarr(src, group))
    assert(zarrContents(group) == ((Seq(2.0), zvals(2.0))))
  }

  test("streamZarrAppend: an append micro-batch is one labels job plus the write") {
    val src = tmpDir("zsrc")
    val group = s"${tmpDir("zgrp")}/cube.zarr"
    putSlice(src, 0.0)
    awaitZarr(startZarr(src, group))
    putSlice(src, 1.0)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = startZarr(src, group)
      awaitZarr(q)
      BusDrain.drain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    // the labels job, then the write: one collect job per broadcast
    // (t, y, x) → index lookup, the chunk shuffle and the chunk-write stage
    val jobs = groups.toArray.count(_ == q.runId.toString)
    assert(jobs == 6, s"$jobs jobs in the append micro-batch")
    assert(zarrContents(group) == ((Seq(0.0, 1.0), zvals(0.0) ++ zvals(1.0))))
  }

  test("streamZarrAppend: groups in one directory keep their own checkpoints") {
    val dir = tmpDir("zgrps")
    val (srcA, srcB) = (tmpDir("zsrcA"), tmpDir("zsrcB"))
    val (a, b) = (s"$dir/a.zarr", s"$dir/b.zarr")
    putSlice(srcA, 0.0)
    putSlice(srcB, 10.0)
    awaitZarr(startZarr(srcA, a))
    awaitZarr(startZarr(srcB, b))
    // both at once: a shared checkpoint would give both streams one query
    // id, so the second start would stop the first
    putSlice(srcA, 1.0)
    putSlice(srcB, 11.0)
    val (qa, qb) = (startZarr(srcA, a), startZarr(srcB, b))
    awaitZarr(qa)
    awaitZarr(qb)
    assert(qa.id != qb.id, "the two groups' streams share one checkpoint")
    assert(zarrContents(a) == ((Seq(0.0, 1.0), zvals(0.0) ++ zvals(1.0))))
    assert(zarrContents(b) == ((Seq(10.0, 11.0), zvals(10.0) ++ zvals(11.0))))
    assert(ZarrSource.listArrays(a).sorted == Seq("t", "v", "x", "y"))
  }

  test("flatMapGroupsWithState: state persists across batches, last is by event time") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("state_src")
    val ckpt = tmpDir("state_ckpt")
    def batch(rows: Seq[(Long, Long, Double, Long)], n: Int): Unit =
      rows.toDF("key", "tsMicros", "value", "eventId")
        .write.parquet(s"$src/b$n")
    val updates = scala.collection.mutable.ArrayBuffer
      .empty[(Long, org.apache.spark.sql.Row)]
    def runOnePass(): Unit = {
      val obs = spark.readStream
        .schema("key LONG, tsMicros LONG, value DOUBLE, eventId LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.Obs]
      // memory sink can't resume from a checkpoint; foreachBatch can
      val q = StatefulOps.trackKeys(obs).toDF().writeStream
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          updates.synchronized { updates ++= b.collect().map(r => (id, r)) }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // batch 1: key 1 gets two obs (latest ts wins), key 2 one
    batch(Seq((1L, 100L, 1.25, 1L), (1L, 300L, 2.50, 2L), (2L, 50L, 4.00, 3L)), 1)
    runOnePass()
    // batch 2: key 1 gets an OLDER event (must not displace the last value)
    batch(Seq((1L, 200L, 9.99, 4L)), 2)
    runOnePass()
    // latest Update row per key carries the converged state
    val rows = updates.groupBy(_._2.getLong(0))
      .map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
    val k1 = rows(1L)
    assert(k1.getLong(1) == 3)                         // n across both batches
    assert(math.abs(k1.getDouble(2) - 13.74) < 1e-9)   // exact cent sum
    assert(k1.getDouble(3) == 2.50)                    // ts=300 still the last
    val k2 = rows(2L)
    assert(k2.getLong(1) == 1 && k2.getDouble(3) == 4.00)
  }

  test("streaming sessionize: sessions persist and split across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("sess_src")
    val ckpt = tmpDir("sess_ckpt")
    val t0 = 1700000000000000L // micros
    val min = 60000000L
    def batch(rows: Seq[(Long, Long, Long)], n: Int): Unit =
      rows.toDF("userId", "tsMicros", "eventId").write.parquet(s"$src/b$n")
    val last = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long)]
    def runOnePass(): Unit = {
      val rows = spark.readStream
        .schema("userId LONG, tsMicros LONG, eventId LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.SessEvent]
      val q = StatefulOps.streamingSessionize(rows, gapSec = 1800L)
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          last.synchronized {
            b.collect().foreach(r => last(r.getLong(0)) =
              (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    batch(Seq((1L, t0, 1L), (1L, t0 + 20 * min, 2L)), 1)
    runOnePass()
    assert(last(1L) == ((1L, 2L, 2L, 20 * min)))
    // batch 2: same session continues (+5 min), then a 3-hour gap opens a
    // second session; user 2 appears for the first time
    batch(Seq((1L, t0 + 25 * min, 3L), (1L, t0 + 205 * min, 4L),
      (2L, t0, 5L)), 2)
    runOnePass()
    assert(last(1L) == ((2L, 4L, 3L, 25 * min)))
    assert(last(2L) == ((1L, 1L, 1L, 0L)))
  }

  test("streaming funnel: stage chain advances across batches, strict order kept") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("funnel_src")
    val ckpt = tmpDir("funnel_ckpt")
    val t0 = 1700000000000000L
    val min = 60000000L
    def batch(rows: Seq[(Long, String, Long, Long)], n: Int): Unit =
      rows.toDF("userId", "eventType", "tsMicros", "eventId")
        .write.parquet(s"$src/b$n")
    val last = scala.collection.mutable.Map.empty[Long, Seq[Long]]
    def runOnePass(): Unit = {
      val rows = spark.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.FunnelEvent]
      val q = StatefulOps.streamingFunnel(rows, Seq("view", "click", "purchase"))
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          last.synchronized {
            b.collect().foreach(r => last(r.getLong(0)) = r.getSeq[Long](1))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    // batch 1: u1 views; a click BEFORE the view must not convert later
    batch(Seq((1L, "click", t0 - 5 * min, 1L), (1L, "view", t0, 2L)), 1)
    runOnePass()
    assert(last(1L) == Seq(t0))
    // batch 2: click after the view converts stage 2; purchase stage 3
    batch(Seq((1L, "click", t0 + 10 * min, 3L),
      (1L, "purchase", t0 + 30 * min, 4L)), 2)
    runOnePass()
    assert(last(1L) == Seq(t0, t0 + 10 * min, t0 + 30 * min))
  }

  test("streaming retention: cohort fixed by first batch, offsets accumulate") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("ret_src")
    val ckpt = tmpDir("ret_ckpt")
    def batch(rows: Seq[(Long, Long)], n: Int): Unit =
      rows.toDF("userId", "bucket").write.parquet(s"$src/b$n")
    val got = scala.collection.mutable.Map.empty[(Long, Long, Long), Long]
    def runOnePass(): Unit = {
      val rows = spark.readStream.schema("userId LONG, bucket LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.RetEvent]
      val q = StatefulOps.streamingRetention(rows)
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.collect().foreach(r => got(
              (r.getLong(0), r.getLong(1), r.getLong(2))) = r.getLong(3))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    batch(Seq((1L, 100L), (1L, 100L)), 1) // cohort 100, 2 events at offset 0
    runOnePass()
    assert(got((1L, 100L, 0L)) == 2L)
    batch(Seq((1L, 101L), (1L, 100L)), 2) // offset 1 opens; offset 0 grows
    runOnePass()
    assert(got((1L, 100L, 0L)) == 3L && got((1L, 100L, 1L)) == 1L)
  }

  test("streaming retention: non-monotone cohort arrival fails loudly") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("retng_src")
    val ckpt = tmpDir("retng_ckpt")
    def runOnePass(): Unit = {
      val rows = spark.readStream.schema("userId LONG, bucket LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.RetEvent]
      val q = StatefulOps.streamingRetention(rows)
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          // must touch every partition: Spark 4 validates that foreachBatch
          // committed all state partitions
          val _ = b.count(); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    Seq((1L, 100L)).toDF("userId", "bucket").write.parquet(s"$src/b1")
    runOnePass() // cohort 100 emitted
    // a later batch carrying bucket 99 would retro-shift the emitted
    // cohort: the documented max-per-key absorption would then count the
    // user in BOTH cohorts — the operator must fail loudly instead
    Seq((1L, 99L)).toDF("userId", "bucket").write.parquet(s"$src/b2")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runOnePass())
    def causeChain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causeChain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("arrived after cohort"))),
      causeChain(e).map(_.getMessage).mkString(" | "))
  }

  test("streaming transitions: last-event state links pairs across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("trans_src")
    val ckpt = tmpDir("trans_ckpt")
    val t0 = 1700000000000000L
    def batch(rows: Seq[(Long, String, Long, Long)], n: Int): Unit =
      rows.toDF("userId", "eventType", "tsMicros", "eventId")
        .write.parquet(s"$src/b$n")
    val got = scala.collection.mutable.Map.empty[(Long, String, String), Long]
    def runOnePass(): Unit = {
      val rows = spark.readStream
        .schema("userId LONG, eventType STRING, tsMicros LONG, eventId LONG")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.TransEvent]
      val q = StatefulOps.streamingTransitions(rows)
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got.synchronized {
            b.collect().foreach(r => got(
              (r.getLong(0), r.getString(1), r.getString(2))) = r.getLong(3))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    batch(Seq((1L, "view", t0, 1L), (1L, "click", t0 + 1, 2L)), 1)
    runOnePass()
    assert(got((1L, "view", "click")) == 1L)
    // the cross-batch pair: last event of batch 1 (click) → view
    batch(Seq((1L, "view", t0 + 2, 3L), (1L, "click", t0 + 3, 4L)), 2)
    runOnePass()
    assert(got((1L, "click", "view")) == 1L)
    assert(got((1L, "view", "click")) == 2L)
  }

  test("streaming near-dup: LSH bucket state flags later arrivals across batches") {
    import spark.implicits._
    import graft.streaming.StatefulOps
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir("neardup_src")
    val ckpt = tmpDir("neardup_ckpt")
    // 8-perm signatures banded in pairs (4 bands) — same construction as
    // the batch LSH. Doc 10 ~= doc 1 (7/8 components), doc 20 is unrelated.
    val sig1 = Seq(11L, 12L, 13L, 14L, 15L, 16L, 17L, 18L)
    val sig10 = sig1.updated(7, 99L)
    val sig20 = Seq(91L, 92L, 93L, 94L, 95L, 96L, 97L, 98L)
    def bands(doc: Long, sig: Seq[Long]) =
      sig.grouped(2).zipWithIndex.map { case (g, b) =>
        (doc, s"b$b:${g.mkString("_")}", sig)
      }.toSeq
    def batch(rows: Seq[(Long, String, Seq[Long])], n: Int): Unit =
      rows.toDF("docId", "bandKey", "sig").write.parquet(s"$src/b$n")
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    def runOnePass(): Unit = {
      val rows = spark.readStream
        .schema("docId LONG, bandKey STRING, sig ARRAY<LONG>")
        .option("recursiveFileLookup", "true").parquet(src)
        .as[StatefulOps.BandRow]
      val q = StatefulOps.streamingNearDup(rows, threshold = 0.5, maxBucket = 100)
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          hits.synchronized {
            hits ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start()
      q.awaitTermination()
    }
    batch(bands(1L, sig1), 1) // canonical doc arrives first
    runOnePass()
    assert(hits.isEmpty, "first doc must not be flagged")
    batch(bands(10L, sig10) ++ bands(20L, sig20), 2) // near-dup + unrelated
    runOnePass()
    val flagged = hits.map(_._1).toSet
    assert(flagged == Set(10L), s"flagged $flagged")
    // 3 of 4 bands match doc 1 exactly; each hit estimates 7/8 similarity
    val ests = hits.filter(_._1 == 10L)
    assert(ests.forall(h => h._2 == 1L && h._3 == 0.875), ests.toString)
    assert(ests.size == 3)
  }
}
