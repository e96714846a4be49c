package graft.sources

import graft.sources.ZarrSource.ZarrArray
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Row-path truth for the cube scan specs: the cells of a group's
  * variables, decoded on the driver by the whole-array readers
  * (`ZarrSource.readAll`, `ZarrV3Source.readAll`, `KerchunkSource.readAll`)
  * and bound to the coordinate arrays. It shares no code with the
  * `format("zarr")` / `format("kerchunk")` scan, so a pushdown result is
  * never checked against the scan it pushes into.
  *
  * Columns are the dims, then `vars` in the order given. Rows come as a
  * scan without pruning or pushdown yields them: one partition per chunk
  * (shard, for a sharded v3 array), chunks in row-major order, cells in C
  * order — so exact double comparisons against the scan stay exact. Meant
  * for test-sized cubes: every value is held on the driver.
  */
object CubeTruth {

  /** A Zarr v2 or v3 group (v3 when it has a `zarr.json`). */
  def zarr(spark: SparkSession, groupDir: String, vars: Seq[String]): DataFrame =
    if (ByteStore.current.exists(s"$groupDir/zarr.json"))
      rows(spark, vars, ZarrV3Source.listArrays(groupDir).toSet,
        n => ZarrV3Source.openArray(s"$groupDir/$n"),
        (n, za) => ZarrV3Source.readAll(s"$groupDir/$n", za))
    else
      rows(spark, vars, ZarrSource.listArrays(groupDir).toSet,
        n => ZarrSource.openArray(s"$groupDir/$n"),
        (n, za) => ZarrSource.readAll(s"$groupDir/$n", za))

  /** A kerchunk reference document. */
  def kerchunk(spark: SparkSession, refsPath: String, vars: Seq[String]): DataFrame = {
    val refs = KerchunkSource.parse(refsPath)
    rows(spark, vars, KerchunkSource.listArrays(refs).toSet,
      KerchunkSource.openArray(refs, _), KerchunkSource.readAll(refs, _, _))
  }

  private def rows(spark: SparkSession, vars: Seq[String], arrays: Set[String],
                   open: String => ZarrArray,
                   readAll: (String, ZarrArray) => Array[Double]): DataFrame = {
    require(vars.nonEmpty, "at least one variable")
    val zas = vars.map(open)
    val za = zas.head
    vars.zip(zas).foreach { case (v, z) =>
      require(z.dims == za.dims && z.shape == za.shape && z.chunks == za.chunks,
        s"$v: dims/shape/chunks differ from ${vars.head}")
    }
    // a dim's coordinate is the same-named array, else its index
    val coords = za.dims.zipWithIndex.map { case (dim, k) =>
      if (arrays(dim)) readAll(dim, open(dim))
      else Array.tabulate(za.shape(k))(_.toDouble)
    }
    val values = vars.zip(zas).map { case (v, z) => readAll(v, z) }
    val rank = za.shape.length
    val chunks = ZarrSource.allChunkKeys(za.chunkGrid).map { key =>
      val cells = Seq.newBuilder[Row]
      ZarrSource.foreachCell(za, key) { (_, global) =>
        val cell = new Array[Any](rank + values.length)
        var rem = global
        var k = rank - 1
        while (k >= 0) {
          cell(k) = coords(k)((rem % za.shape(k)).toInt)
          rem /= za.shape(k)
          k -= 1
        }
        values.indices.foreach(v => cell(rank + v) = values(v)(global.toInt))
        cells += Row.fromSeq(cell.toIndexedSeq)
      }
      cells.result()
    }
    val schema = StructType((za.dims ++ vars).map(StructField(_, DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(chunks, chunks.length).flatMap(identity), schema)
  }
}
