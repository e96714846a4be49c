package graft.operators

import graft.cube.GridMapping
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `resample_in_space` dispatcher — the reference's public spatial-resample
  * entry point (xcube/core/resampling/spatial.py:28-261) re-expressed over
  * the relational grid model. The decision tree is the reference's:
  *
  *  1. source ≈ target           → no-op.
  *  2. same (or both geographic) CRS:
  *     a. regular source, upsample or same res → affine transform
  *        (spline order 0 = nearest join, 1 = bilinear 4-corner join).
  *     b. regular source, downsample + aggregator → block aggregation
  *        (the `aggregator` var-config path, affine.py:72-77).
  *     c. irregular source, src res ≥ tgt res (scale > 0.95) → rectify.
  *     d. irregular source, src res < tgt res → downscale (block mean of
  *        coords and values onto the target resolution) then rectify —
  *        spatial.py:198-223's downscale-first branch.
  *  3. different CRS → transform the source coordinates to the target CRS
  *     through the [[Projection]] registry (geographic ↔ any of its 18
  *     projected families, projected ↔ projected through geographic; an
  *     unregistered CRS raises) and recurse — the coords become irregular
  *     2-D, so this always lands in a rectify branch (spatial.py:225-261).
  *
  * Output is normalized to one row per populated target cell: (i, j, vars…).
  */
object SpatialOps {

  /** Reference `_SCALE_LIMIT`: below this src/tgt resolution ratio the
    * source must be downscaled before rectification.
    */
  val ScaleLimit: Double = 0.95

  /** A source for spatial resampling: either a regular cell table keyed by
    * integer (i, j), or an irregular swath carrying 2-D world coords.
    */
  sealed trait SpatialSource
  final case class RegularSource(cells: DataFrame, gm: GridMapping)
      extends SpatialSource
  final case class IrregularSource(df: DataFrame, xcCol: String, ycCol: String,
                                   xRes: Double, yRes: Double, crs: String)
      extends SpatialSource

  def isGeographic(crs: String): Boolean =
    Set("CRS84", "EPSG:4326", "WGS84", "OGC:CRS84").contains(crs)

  def sameCrs(a: String, b: String): Boolean =
    a == b || (isGeographic(a) && isGeographic(b))

  /** GridMapping.is_close analog (tolerance on every defining number). */
  def isClose(a: GridMapping, b: GridMapping, tol: Double = 1e-9): Boolean =
    a.width == b.width && a.height == b.height && sameCrs(a.crs, b.crs) &&
      math.abs(a.xMin - b.xMin) < tol && math.abs(a.yMin - b.yMin) < tol &&
      math.abs(a.xRes - b.xRes) < tol && math.abs(a.yRes - b.yRes) < tol

  /** Coordinate transform between two CRSs the [[Projection]] registry
    * holds — geographic ↔ projected directly, projected → projected
    * through the geographic pivot — as one `project_xy` expression. Loud
    * decline for an unregistered family. */
  def transformXY(crsFrom: String, crsTo: String,
                  x: Column, y: Column): (Column, Column) =
    if (sameCrs(crsFrom, crsTo)) (x, y)
    else graft.functions.ProjectXY.col(x, y, Projection.transform(crsFrom, crsTo))

  /** Resample `src` onto the regular grid `tgtGm`.
    *
    * @param splineOrder 0 = nearest, 1 = bilinear, 2 = quadratic,
    *                    3 = bicubic, 4 = quartic, 5 = quintic (affine path).
    * @param aggregator  "mean" | "min" | "max" — used when a regular source
    *                    is DOWNSAMPLED (reference var-config `aggregator`);
    *                    None keeps the spline path.
    * @param tiebreak    deterministic tiebreak column for the rectify path.
    */
  def resampleInSpace(src: SpatialSource, tgtGm: GridMapping, vars: Seq[String],
                      splineOrder: Int = 1,
                      aggregator: Option[String] = None,
                      tiebreak: Option[String] = None): DataFrame = src match {

    case RegularSource(cells, gm) if isClose(gm, tgtGm) =>
      cells.select((col("i") +: col("j") +: vars.map(col)): _*)

    case RegularSource(cells, gm) if sameCrs(gm.crs, tgtGm.crs) =>
      val downsample = tgtGm.xRes > gm.xRes * (1.0 / ScaleLimit)
      (aggregator, downsample) match {
        case (Some(fn), true) =>
          // 2b: block aggregation of source cells into their target cell.
          // mean sums in DECIMAL: double summation order varies run-to-run
          // (and engine-to-engine), and a mean landing exactly on a rounding
          // midpoint flips the 6-decimal checksum — decimal adds are
          // associative, so the result is order-exact (repo convention).
          val agg: Column => Column = fn match {
            case "mean" => c =>
              sum(c.cast("decimal(28,12)")).cast("double") / count(lit(1))
            case "min"  => c => min(c)
            case "max"  => c => max(c)
            case other  => throw new IllegalArgumentException(s"aggregator: $other")
          }
          cells.groupBy(
              tgtGm.iExpr(gm.xExpr(col("i"))).as("i"),
              tgtGm.jExpr(gm.yExpr(col("j"))).as("j"))
            .agg(vars.map(v => agg(col(v).cast("double")).as(v)).head,
                 vars.map(v => agg(col(v).cast("double")).as(v)).tail: _*)
        case _ =>
          // 2a: affine transform at the requested spline order (0–5, the
          // reference's full ndimage range — affine.py:267)
          val out = splineOrder match {
            case 0 => AffineOps.resampleNearest(cells, gm, tgtGm, vars)
            case 1 => AffineOps.resampleBilinear(cells, gm, tgtGm, vars)
            case 2 => AffineOps.resampleQuadratic(cells, gm, tgtGm, vars)
            case 3 => AffineOps.resampleBicubic(cells, gm, tgtGm, vars)
            case 4 => AffineOps.resampleQuartic(cells, gm, tgtGm, vars)
            case 5 => AffineOps.resampleQuintic(cells, gm, tgtGm, vars)
            case n => throw new IllegalArgumentException(s"spline order $n (0..5)")
          }
          out.select((col("tgt_i").as("i") +: col("tgt_j").as("j") +:
            vars.map(col)): _*)
      }

    case RegularSource(cells, gm) =>
      // 3: different CRS — project the cell centers, recurse as irregular
      val (tx, ty) = transformXY(gm.crs, tgtGm.crs,
        gm.xExpr(col("i")), gm.yExpr(col("j")))
      val swath = cells.withColumn("__tx", tx).withColumn("__ty", ty)
      val (bx1, by1, bx2, by2) = transformedBbox(gm, tgtGm.crs)
      resampleInSpace(
        IrregularSource(swath, "__tx", "__ty",
          (bx2 - bx1) / gm.width, (by2 - by1) / gm.height, tgtGm.crs),
        tgtGm, vars, splineOrder, aggregator, tiebreak)

    case IrregularSource(df, xc, yc, xRes, yRes, crs) if sameCrs(crs, tgtGm.crs) =>
      val tb = tiebreak.getOrElse(xc)
      val xScale = xRes / tgtGm.xRes
      val yScale = yRes / tgtGm.yRes
      if (xScale > ScaleLimit && yScale > ScaleLimit)
        // 2c: source pixels at least as coarse as the target — rectify
        RectifyOps.rectifyNearest(df, xc, yc, tgtGm, vars, tb)
      else {
        // 2d: finer source — downscale onto the target resolution first
        // (block mean of coords AND values, the nanmean default), then
        // rectify the ≤1-sample-per-cell result. Coordinate means stay
        // double (they only feed floor-binning, ulp-tolerant); VALUE means
        // sum in DECIMAL for order-exactness (see 2b).
        val aggs = (avg(col(xc)).as(xc) +: avg(col(yc)).as(yc) +:
          vars.map(v =>
            (sum(col(v).cast("decimal(28,12)")).cast("double") / count(lit(1))).as(v)))
        val binned = df.groupBy(
            tgtGm.iExpr(col(xc)).as("__bi"), tgtGm.jExpr(col(yc)).as("__bj"))
          .agg(aggs.head, aggs.tail: _*)
          .drop("__bi", "__bj")
        RectifyOps.rectifyNearest(binned, xc, yc, tgtGm, vars, xc)
      }

    case IrregularSource(df, xc, yc, xRes, yRes, crs) =>
      // 3: different CRS — transform the 2-D coords and recurse
      val (tx, ty) = transformXY(crs, tgtGm.crs, col(xc), col(yc))
      val swath = df.withColumn("__tx", tx).withColumn("__ty", ty)
      // resolution estimate in the target CRS via the linear scale of the
      // transform at the extent (good enough for the route decision)
      val sx = scaleFactor(crs, tgtGm.crs)
      resampleInSpace(IrregularSource(swath, "__tx", "__ty",
        xRes * sx, yRes * sx, tgtGm.crs), tgtGm, vars, splineOrder, aggregator, tiebreak)
  }

  /** Bbox of a grid after transforming to `crsTo` (driver-side planning):
    * the min/max of the four transformed corners — exact for the
    * cylindrical families, a close planning estimate for the others.
    */
  def transformedBbox(gm: GridMapping, crsTo: String): (Double, Double, Double, Double) =
    if (sameCrs(gm.crs, crsTo)) gm.xyBbox
    else {
      val f = Projection.transform(gm.crs, crsTo)
      val corners = Seq(
        f(gm.xMin, gm.yMin), f(gm.xMin, gm.yMax),
        f(gm.xMax, gm.yMin), f(gm.xMax, gm.yMax))
      (corners.map(_._1).min, corners.map(_._2).min,
       corners.map(_._1).max, corners.map(_._2).max)
    }

  /** Linear scale of a transform (for res estimates — the route decision
    * only): the projection's units per degree from geographic, its
    * reciprocal back, 1 between two projections. */
  private def scaleFactor(crsFrom: String, crsTo: String): Double =
    (Projection.forCrs(crsFrom), Projection.forCrs(crsTo)) match {
      case (_, Some(p)) if isGeographic(crsFrom) => p.unitsPerDegree
      case (Some(p), _) if isGeographic(crsTo) => 1.0 / p.unitsPerDegree
      case _ => 1.0
    }
}
