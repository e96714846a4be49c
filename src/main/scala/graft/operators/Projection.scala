package graft.operators

/** One map projection, written once as a scalar kernel on doubles: the
  * forward map from geographic (lon, lat) degrees to projected (x, y)
  * and its inverse. The Catalyst expression [[graft.functions.ProjectXY]]
  * runs the kernels per row (its interpreted `eval` and its generated code
  * call the same method); driver-side planning and tests call them
  * directly. xcube has the same shape: one pyproj transformer applied to
  * arrays (`gridmapping/base.py:94`).
  *
  * A kernel writes `out(0)`, `out(1)` and returns a null mask
  * ([[Projection.XNull]] | [[Projection.YNull]]). Kernels keep Spark's
  * function semantics (the helpers below), so query results match Spark
  * SQL arithmetic bit for bit; a component is null exactly where Spark's
  * `log` would meet a non-positive argument.
  */
trait Projection extends Serializable {

  /** Geographic (lon, lat) degrees → projected (x, y). */
  def forward(lon: Double, lat: Double, out: Array[Double]): Int

  /** Projected (x, y) → geographic (lon, lat) degrees. */
  def inverse(x: Double, y: Double, out: Array[Double]): Int

  /** Projected units per degree of arc at the origin: the linear scale
    * `resampleInSpace` uses to estimate a transformed resolution. */
  def unitsPerDegree: Double = Projection.DegToMeters

  /** [[forward]] as a pair; a null component reads NaN. */
  final def forward(lon: Double, lat: Double): (Double, Double) =
    Projection.pair(forward(lon, lat, _))

  /** [[inverse]] as a pair; a null component reads NaN. */
  final def inverse(x: Double, y: Double): (Double, Double) =
    Projection.pair(inverse(x, y, _))
}

object Projection {

  val XNull: Int = 1
  val YNull: Int = 2
  val BothNull: Int = XNull | YNull

  /** Metres per degree on the web-mercator sphere. */
  val DegToMeters: Double = ReprojectOps.EarthRadius * math.Pi / 180.0

  /** The one registry: every projected CRS family, by CRS string. */
  def forCrs(crs: String): Option[Projection] =
    (if (crs == "EPSG:3857") Some(ReprojectOps.WebMercator) else None)
      .orElse(UtmOps.zoneForCrs(crs))
      .orElse(PolarOps.stereoForCrs(crs))
      .orElse(PolarOps.laeaForCrs(crs))
      .orElse(PolarOps.lccForCrs(crs))
      .orElse(PolarOps.albersForCrs(crs))
      .orElse(if (PolarOps.isSinusoidal(crs)) Some(PolarOps.Sinusoidal) else None)
      .orElse(PolarOps.rotPoleForCrs(crs))
      .orElse(PolarOps.geosForCrs(crs))
      .orElse(if (PolarOps.isEase2(crs)) Some(PolarOps.Ease2) else None)
      .orElse(PolarOps.orthoForCrs(crs))
      .orElse(PolarOps.mollForCrs(crs))
      .orElse(PolarOps.obliqueStereoForCrs(crs))
      .orElse(PolarOps.eqEarthForCrs(crs))
      .orElse(PolarOps.hotineForCrs(crs))
      .orElse(PolarOps.mercForCrs(crs))
      .orElse(PolarOps.eqcForCrs(crs))
      .orElse(PolarOps.tmercForCrs(crs))

  /** What [[forCrs]] resolves, for error messages. */
  val Supported: String =
    "geographic (CRS84, EPSG:4326) <-> web mercator EPSG:3857, UTM " +
      "EPSG:326xx/327xx, polar stereographic EPSG:3413/3031/3976, UPS " +
      "EPSG:5041/5042, PS:<latTs>:<lon0>[:<fe>:<fn>], " +
      "PSA:<+-90>:<k0>:<lon0>:<fe>:<fn>, LAEA EPSG:3035/6931/6932, " +
      "LAEA:<lat0>:<lon0>[:<fe>:<fn>], MODIS sinusoidal SR-ORG:6974, LCC " +
      "EPSG:2154/3978, LCC:<lat1>:<lat2>:<lat0>:<lon0>:<fe>:<fn>, Albers " +
      "EPSG:5070, ALBERS:<lat1>:<lat2>:<lat0>:<lon0>:<fe>:<fn>, " +
      "ROTPOLE:<lat>:<lon>, GEOS:<lon0>[:<h>:<x|y>], EASE-2.0 EPSG:6933, " +
      "ORTHO:<lat0>:<lon0>, MOLL:<lon0>, oblique stereographic EPSG:28992, " +
      "STEREO:<lat0>:<lon0>[:<k0>[:<fe>:<fn>]], Equal Earth EPSG:8857, " +
      "EQEARTH:<lon0>, Hotine oblique Mercator EPSG:29873/2056, " +
      "HOM:<latc>:<lonc>:<alpha>:<gamma>:<k0>:<fe>:<fn>[:A], Mercator " +
      "EPSG:3395/3002/3388, MERC:<lon0>:<k0>[:<fe>:<fn>], " +
      "MERCSP:<lon0>:<lat1>[:<fe>:<fn>], equidistant cylindrical " +
      "EPSG:4087/32662, EQC:<lat1>:<lon0>[:<fe>:<fn>], transverse Mercator " +
      "EPSG:27700/31467, TMERC:<lat0>:<lon0>:<k0>:<fe>:<fn>; projected <-> " +
      "projected through geographic"

  /** One step of a transform: a projection run forward or inverse. */
  final case class Step(p: Projection, forward: Boolean) {
    def run(a: Double, b: Double, out: Array[Double]): Int =
      if (forward) p.forward(a, b, out) else p.inverse(a, b, out)
  }

  /** The steps from `crsFrom` to `crsTo`: geographic ↔ projected directly,
    * projected → projected through the geographic pivot (the route
    * pyproj's pipeline takes for two non-geographic CRSs). Loud decline
    * for an unregistered family. */
  def transform(crsFrom: String, crsTo: String): CrsTransform = {
    import SpatialOps.{isGeographic, sameCrs}
    if (sameCrs(crsFrom, crsTo)) CrsTransform(Vector.empty)
    else (forCrs(crsFrom), forCrs(crsTo)) match {
      case (_, Some(to)) if isGeographic(crsFrom) =>
        CrsTransform(Vector(Step(to, forward = true)))
      case (Some(from), _) if isGeographic(crsTo) =>
        CrsTransform(Vector(Step(from, forward = false)))
      case (Some(from), Some(to)) =>
        CrsTransform(Vector(Step(from, forward = false), Step(to, forward = true)))
      case _ => throw new IllegalArgumentException(
        s"unsupported CRS pair $crsFrom -> $crsTo (supported: $Supported)")
    }
  }

  private[operators] def pair(run: Array[Double] => Int): (Double, Double) = {
    val out = new Array[Double](2)
    val m = run(out)
    (if ((m & XNull) != 0) Double.NaN else out(0),
      if ((m & YNull) != 0) Double.NaN else out(1))
  }

  // ---- Spark's function semantics, which the kernels keep bit for bit.
  // sin/cos/tan/asin/atan/sqrt are java.lang.Math, as in Spark.

  /** Spark's `pow`: StrictMath. */
  @inline def pow(a: Double, b: Double): Double = StrictMath.pow(a, b)

  /** Spark's `exp`: StrictMath. */
  @inline def exp(a: Double): Double = StrictMath.exp(a)

  /** Spark's `log` where the caller nulls a non-positive argument. */
  @inline def log(a: Double): Double = StrictMath.log(a)

  /** Spark's `atan2`: both arguments `+ 0.0` (so -0.0 reads 0.0). */
  @inline def atan2(y: Double, x: Double): Double = math.atan2(y + 0.0, x + 0.0)

  /** Spark's double comparison: NaN is the largest value and equals NaN;
    * -0.0 equals 0.0. */
  @inline def compare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  @inline def gt(a: Double, b: Double): Boolean = compare(a, b) > 0

  @inline def ge(a: Double, b: Double): Boolean = compare(a, b) >= 0

  /** Spark's `greatest(a, b)` of two non-null doubles. */
  @inline def greatest(a: Double, b: Double): Double = if (gt(b, a)) b else a

  /** Spark's `least(a, b)` of two non-null doubles. */
  @inline def least(a: Double, b: Double): Double = if (compare(b, a) < 0) b else a

  /** Spark's `ceil` of a double: a long (NaN → 0, saturating), read back
    * as a double by the arithmetic it feeds. */
  @inline def ceil(a: Double): Double = math.ceil(a).toLong.toDouble
}

/** A chain of projection steps run per point — what [[graft.functions.ProjectXY]]
  * evaluates per row. A null input gives a null output: a step whose
  * input has a null component yields both components null. */
final case class CrsTransform(steps: Vector[Projection.Step]) {

  def run(a: Double, b: Double, out: Array[Double]): Int = {
    out(0) = a
    out(1) = b
    var mask = 0
    var k = 0
    while (k < steps.length) {
      if (mask != 0) return Projection.BothNull
      mask = steps(k).run(out(0), out(1), out)
      k += 1
    }
    mask
  }

  /** [[run]] as a pair; a null component reads NaN. */
  def apply(a: Double, b: Double): (Double, Double) =
    Projection.pair(run(a, b, _))
}
