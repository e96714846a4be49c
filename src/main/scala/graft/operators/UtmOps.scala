package graft.operators

/** UTM (transverse-mercator) reprojection — closing the most common
  * real-world CRS gap beyond the geographic ↔ web-mercator pair
  * (reference: any pyproj CRS, xcube/core/gridmapping/base.py:94; UTM zones
  * EPSG:326xx north / 327xx south).
  *
  * A zone is the WGS84 transverse Mercator ([[PolarOps.Tmerc]], the
  * Snyder PP 1395 8-9..8-25 series proj uses for UTM, accurate to
  * millimetres inside a zone) with the zone's central meridian, k0 0.9996
  * and the UTM false origin.
  */
object UtmOps {

  val K0: Double = 0.9996
  val FalseEasting: Double = 500000.0
  val FalseNorthingSouth: Double = 10000000.0

  /** A UTM zone: EPSG:326zz (north) / EPSG:327zz (south). */
  final case class UtmZone(zone: Int, north: Boolean) extends Projection {
    require(zone >= 1 && zone <= 60, s"UTM zone out of range: $zone")
    /** Central meridian in degrees. */
    def lon0Deg: Double = zone * 6.0 - 183.0
    def falseNorthing: Double = if (north) 0.0 else FalseNorthingSouth
    def epsg: String = s"EPSG:${if (north) 32600 + zone else 32700 + zone}"
    /** The zone's transverse Mercator. */
    val tm: PolarOps.Tmerc =
      PolarOps.Tmerc(0.0, lon0Deg, K0, FalseEasting, falseNorthing)
    def forward(lon: Double, lat: Double, out: Array[Double]): Int =
      tm.forward(lon, lat, out)
    def inverse(x: Double, y: Double, out: Array[Double]): Int =
      tm.inverse(x, y, out)
    override def unitsPerDegree: Double = Projection.DegToMeters * K0
  }

  /** Parse "EPSG:326zz"/"EPSG:327zz" → zone, or None for non-UTM codes. */
  def zoneForCrs(crs: String): Option[UtmZone] =
    if (crs.startsWith("EPSG:326") && crs.length == 10)
      crs.substring(8).toIntOption.map(UtmZone(_, north = true))
    else if (crs.startsWith("EPSG:327") && crs.length == 10)
      crs.substring(8).toIntOption.map(UtmZone(_, north = false))
    else None

  /** Zone a longitude falls into (for choosing a target CRS). */
  def zoneForLonLat(lon: Double, lat: Double): UtmZone =
    UtmZone(math.min(60, math.max(1, ((lon + 180.0) / 6.0).toInt + 1)), lat >= 0)
}
