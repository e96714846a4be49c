package graft.operators

import graft.cube.{Cube, GridMapping}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Point extraction — the lookup-shaped join family of the reference
  * (xcube/core/extract.py): points table → per-dim pixel indexes →
  * gather cube values at those cells.
  *
  * Scale shape: the points side is the small one (sensor locations, user
  * queries) → index arithmetic is codegen'd column math; the gather is a
  * broadcast equi-join of the points against the cube on the cell key, so
  * the cube never shuffles. Out-of-range points keep index −1 and gather
  * NaN, matching the reference's expectations
  * (test/core/test_extract.py:20-147).
  */
object ExtractOps {

  /** get_cube_point_indexes (extract.py:261-318): add `<dim>_index` columns
    * for the spatial dims; out-of-range coordinates map to −1.
    */
  def pointIndexes(points: DataFrame, gm: GridMapping,
                   pxCol: String, pyCol: String): DataFrame = {
    val px = col(pxCol)
    val py = col(pyCol)
    val xi = when(px >= gm.xMin && px < gm.xMax, gm.iExpr(px)).otherwise(lit(-1L))
    val yi = when(py >= gm.yMin && py < gm.yMax, gm.jExpr(py)).otherwise(lit(-1L))
    points.withColumn("x_index", xi).withColumn("y_index", yi)
  }

  /** get_cube_values_for_indexes (extract.py:128-258): gather `vars` at the
    * (x_index, y_index) cells of an indexed points table. Rows whose index
    * is −1 (out of range) or whose cell has no data gather NaN.
    * `cellCube` must be keyed by integer cell indexes (i, j).
    */
  def valuesForIndexes(indexedPoints: DataFrame, cellCube: DataFrame,
                       vars: Seq[String]): DataFrame = {
    // cellCube is bounded by the grid size (one row per cell) → broadcast;
    // with a huge un-collapsed cube, broadcast the points and flip the join
    val c = broadcast(cellCube)
    val joined = indexedPoints.join(c,
      indexedPoints("x_index") === c("i") && indexedPoints("y_index") === c("j"),
      "left_outer")
    val gathered = vars.foldLeft(joined) { (d, v) =>
      d.withColumn(v, coalesce(col(v).cast("double"), lit(Double.NaN)))
    }
    gathered.drop("i", "j")
  }

  /** get_cube_values_for_points (extract.py:30-125) on a 2-D cell cube:
    * compose indexing + gathering. The cube side is collapsed to one row per
    * (i, j) cell by the caller (e.g. a time mean) — the time-resolved
    * variant goes through `TimeSeriesOps`.
    */
  def valuesForPoints(points: DataFrame, gm: GridMapping,
                      pxCol: String, pyCol: String,
                      cellCube: DataFrame, vars: Seq[String]): DataFrame =
    valuesForIndexes(pointIndexes(points, gm, pxCol, pyCol), cellCube, vars)

  /** get_dataset_indexes for IRREGULAR 1-D coordinates with explicit cell
    * bounds (extract.py:321-414 interpolates over bounds arrays): `bounds`
    * is a small (idx, lower, upper) table — broadcast range join,
    * left-closed cells, −1 where no cell contains the coordinate.
    */
  def indexesFromBounds(points: DataFrame, bounds: DataFrame,
                        coordCol: String, outCol: String): DataFrame = {
    val b = broadcast(bounds.select(col("idx"), col("lower"), col("upper")))
    points.join(b, col(coordCol) >= b("lower") && col(coordCol) < b("upper"),
        "left_outer")
      .withColumn(outCol, coalesce(b("idx"), lit(-1L)))
      .drop("idx", "lower", "upper")
  }

  /** Prune a CONNECTOR-backed cell table (zarr/netcdf/geotiff/kerchunk —
    * dims `yCol`/`xCol` as cell-center coordinates on `gm`'s grid) to the
    * cells a small indexed points table addresses, BEFORE the gather
    * join. The points' snapped coordinate values ship as In filters the
    * scan consumes into per-dim interval sets and prunes chunks with: a
    * 400-point lookup against a 10^7-chunk archive decodes only the
    * chunks the points live in.
    *
    * Spark's own runtime filtering (DPP over v2) cannot deliver this:
    * the analyzer wraps DOUBLE equi-join keys in
    * `knownfloatingpointnormalized(normalizenanandzero(x))`, and
    * PartitionPruning only plants a DynamicPruningSubquery when the
    * scan-side key is a bare attribute — so for coordinate (double) keys
    * the subquery never appears. The operator therefore executes the
    * same bounded semi-join itself: the points side is the
    * broadcast-small side by the API's own contract (a sensor list, a
    * user query), so collecting its distinct snapped indexes is
    * driver-metadata-sized — exactly what DPP's InSubqueryExec would
    * have collected. The keys are deduplicated on the driver, not by a
    * `distinct()` shuffle: a points table that is a local relation then
    * collects through a local scan and runs no Spark job.
    */
  def pruneCellsForIndexes(cells: DataFrame, gm: GridMapping,
                           indexed: DataFrame,
                           yCol: String = "y", xCol: String = "x"): DataFrame = {
    val keys = indexed
      .filter(col("x_index") >= 0L && col("y_index") >= 0L)
      .select(col("x_index"), col("y_index")).collect()
    if (keys.isEmpty) return cells.filter(lit(false))
    val xs = keys.map(_.getLong(0)).distinct.map(gm.xForI).toSeq
    val ys = keys.map(_.getLong(1)).distinct.map(gm.yForJ).toSeq
    cells.filter(col(xCol).isin(xs: _*) && col(yCol).isin(ys: _*))
  }

  /** Collapse a cube to one row per integer (i, j) cell with the mean of
    * each variable — a helper for 2-D point lookup.
    */
  def cellMeans(cube: Cube, vars: Seq[String]): DataFrame = {
    val gm = cube.gm
    cube.df.groupBy(gm.iExpr(cube.x).as("i"), gm.jExpr(cube.y).as("j"))
      .agg(vars.map(v => round(avg(col(v)), 6).as(v)).head,
           vars.map(v => round(avg(col(v)), 6).as(v)).tail: _*)
  }
}
