package graft.streaming

import graft.cube.Cube
import graft.sources.CubeWriter
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Incremental cube maintenance — the reference's time-slice model
  * (xcube/core/timeslice.py:19-192) re-expressed on the partitioned layout,
  * plus Structured Streaming ingestion (§2.9).
  *
  * append = plain partitioned append; insert/replace of a (possibly late)
  * slice = DYNAMIC partition overwrite of exactly the slice's (p_date,
  * p_block) partitions — no global dedup shuffle, no rewrite of the rest of
  * the cube. That is the 100 TB replacement for the relational
  * union+dropDuplicates form (q_union_slices keeps the relational
  * semantics for oracle parity).
  */
object TimeSliceOps {

  sealed trait SlicePosition
  case object Append extends SlicePosition
  case object Insert extends SlicePosition
  case object Replace extends SlicePosition

  /** find_time_slice (timeslice.py:19-60): where does a slice at time `t`
    * land relative to the stored cube's time coverage?
    */
  def findTimeSlice(df: DataFrame, timeCol: String,
                    t: java.sql.Timestamp): SlicePosition = {
    val row = df.agg(max(col(timeCol)).as("tmax"),
      max(when(col(timeCol) === lit(t), 1).otherwise(0)).as("exists")).head()
    if (row.getInt(1) == 1) Replace
    else if (row.isNullAt(0) || t.after(row.getTimestamp(0))) Append
    else Insert
  }

  /** append_time_slice (timeslice.py:62-92): partitioned append. */
  def appendTimeSlice(slice: Cube, path: String): Unit =
    CubeWriter.writePartitioned(slice, path, mode = "append")

  /** replace/insert_time_slice (timeslice.py:94-192): dynamic partition
    * overwrite — only the partitions present in `slice` are rewritten
    * (CubeWriter forces partitionOverwriteMode=dynamic per-write, so this
    * holds on any session regardless of its conf).
    */
  def replaceTimeSlice(slice: Cube, path: String): Unit =
    CubeWriter.writePartitioned(slice, path, mode = "overwrite")

  /** update_time_slice (timeslice.py:131-192), per-variable form: update
    * ONLY the listed variables of an existing slice in place. The stored
    * rows are read back partition-pruned to the update's dates, joined with
    * the update on the cell key, the touched columns swapped in (stored
    * values survive where the update has no row), and the result rewritten
    * via dynamic partition overwrite — untouched variables keep their
    * stored values and untouched partitions keep their stored files. Like
    * the reference (which stages the slice in a temp zarr before patching
    * the arrays), the patched slice is staged in a temp directory because
    * a parquet path cannot be overwritten while it is being read. The final
    * overwrite sets partitionOverwriteMode=dynamic per-write, so partitions
    * outside the update's dates survive regardless of the session conf.
    *
    * `update.df` must be unique on (time, y, x) — the cube cell contract.
    */
  def updateTimeSlice(spark: SparkSession, path: String, update: Cube,
                      vars: Seq[String]): Unit = {
    val (t, y, x) = (update.timeCol, update.yCol, update.xCol)
    val dates = update.df.select(to_date(col(t)).cast("string").as("d"))
      .distinct().collect().map(_.getString(0)).toIndexedSeq
    val stored = spark.read.parquet(path)
      .filter(col("p_date").isin(dates: _*))
    val upd = update.df.select(
      Seq(col(t).as("__ut"), col(y).as("__uy"), col(x).as("__ux")) ++
        vars.map(v => col(v).as(s"__u_$v")): _*)
    val joined = stored.join(upd,
      stored(t) === col("__ut") && stored(y) === col("__uy") &&
        stored(x) === col("__ux"), "left_outer")
    val swapped = vars.foldLeft(joined) { (d, v) =>
      d.withColumn(v, coalesce(col(s"__u_$v"), col(v)))
    }.drop(Seq("__ut", "__uy", "__ux") ++ vars.map(v => s"__u_$v"): _*)
    val tmp = s"$path.__updating"
    swapped.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp)
      .repartition(col("p_date"), col("p_block"))
      .write.partitionBy("p_date", "p_block")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tmp),
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    ()
  }

  /** Streaming ingest: watch `srcGlobDir` for parquet slices and upsert each
    * micro-batch into the partitioned cube via foreachBatch + dynamic
    * partition overwrite — late slices overwrite their own partitions
    * instead of duplicating them (the watermark bounds state for the
    * windowed aggregations downstream, not the upsert itself).
    */
  def streamUpsert(spark: SparkSession, schema: StructType, srcDir: String,
                   destPath: String, cubeOf: DataFrame => Cube): StreamingQuery =
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) replaceTimeSlice(cubeOf(batch), destPath)
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$destPath/_checkpoint")
      .start()

  /** Streaming ingestion INTO A ZARR GROUP — the reference's incremental
    * cube generation writes its native format slice-by-slice (gen append
    * mode over `dsio.py`'s to_zarr append). Each micro-batch's new `tCol`
    * labels become appended dim-0 slices in ascending order: the first
    * batch creates the group ([[graft.sources.ZarrSource.writeCube]]),
    * every later batch extends it in place
    * ([[graft.sources.ZarrSource.appendCube]] — shape patched, only new
    * chunks written). Micro-batches are sequential, so the append ordering
    * is exactly arrival order; the distributed chunk-assembly shuffle
    * happens inside the batch, per slice.
    *
    * A micro-batch is one labels job (a distinct per partition, no
    * shuffle; a batch without labels is skipped) plus one write. Each run
    * clones the session: under [[graft.GraftSession.builder]] the clone
    * reuses the root's compiled code, while a session built outside it
    * (artifact isolation on) pays a full code-generation pass on every
    * run. The checkpoint is the group's hidden sibling (`a/cube.zarr` →
    * `a/_cube.zarr_checkpoint`): outside the group, so its array listing
    * never sees it, and per group, so groups sharing a parent directory
    * stream independently.
    */
  def streamZarrAppend(spark: SparkSession, schema: StructType, srcDir: String,
                       groupDir: String, varName: String, tCol: String,
                       spatialDims: Seq[(String, Array[Double])],
                       chunks: Seq[Int],
                       codec: graft.sources.ZarrSource.Codec =
                         graft.sources.ZarrSource.Zlib()): StreamingQuery = {
    val group = new org.apache.hadoop.fs.Path(groupDir)
    spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val labels = batch.select(col(tCol).cast("double"))
          .as(Encoders.scalaDouble).mapPartitions(_.distinct)(Encoders.scalaDouble)
          .collect().distinct.sorted(Ordering.Double.TotalOrdering)
        if (labels.nonEmpty) {
          if (!graft.sources.ByteStore.current.exists(s"$groupDir/.zgroup"))
            graft.sources.ZarrSource.writeCube(batch, groupDir, varName,
              (tCol -> labels) +: spatialDims, chunks, codec)
          else
            graft.sources.ZarrSource.appendCube(batch, groupDir, varName, labels)
        }
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", new org.apache.hadoop.fs.Path(
        group.getParent, s"_${group.getName}_checkpoint").toString)
      .start()
  }
}
