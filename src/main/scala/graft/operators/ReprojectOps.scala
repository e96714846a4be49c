package graft.operators

import graft.cube.Cube
import org.apache.spark.sql.DataFrame

/** CRS reprojection (reference resampling/reproject.py:27-500) restricted to
  * the closed-form geographic ↔ web-mercator pair (EPSG:4326/CRS84 ↔
  * EPSG:3857) — the pair every tile server needs. The projection is one
  * [[Projection]] kernel run by the `project_xy` expression; no per-block
  * kernels and no external CRS library.
  */
object ReprojectOps {

  /** WGS84 spherical radius used by web mercator. */
  val EarthRadius: Double = 6378137.0

  /** Spherical web mercator (EPSG:3857). A latitude whose
    * tan(π/4 + φ/2) is not positive (φ ≤ −90°) has a null northing. */
  case object WebMercator extends Projection {
    def forward(lon: Double, lat: Double, out: Array[Double]): Int = {
      out(0) = EarthRadius * math.toRadians(lon)
      val t = math.tan(math.Pi / 4 + math.toRadians(lat) / 2)
      if (t <= 0.0) return Projection.YNull
      out(1) = EarthRadius * Projection.log(t)
      0
    }

    def inverse(x: Double, y: Double, out: Array[Double]): Int = {
      out(0) = math.toDegrees(x / EarthRadius)
      out(1) = math.toDegrees(
        2.0 * math.atan(Projection.exp(y / EarthRadius)) - math.Pi / 2)
      0
    }
  }

  /** Reproject a geographic cube's coordinates to web mercator. The grid
    * mapping becomes the mercator bbox of the old extent; mercator spacing
    * is latitude-dependent, so the result is an IRREGULAR grid — follow
    * with `RectifyOps.rectifyNearest` onto a regular mercator grid (the
    * reference's transform-then-rectify path, spatial.py:150-223).
    */
  def toMercator(cube: Cube): DataFrame = {
    val (mx, my) = SpatialOps.transformXY("CRS84", "EPSG:3857", cube.x, cube.y)
    cube.df.withColumn("merc_x", mx).withColumn("merc_y", my)
  }
}
