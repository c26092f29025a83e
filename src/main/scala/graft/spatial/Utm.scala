package graft.spatial

/** Transverse-Mercator (UTM, WGS84) forward and inverse — the CRS
  * transform the r10 verdict listed as the engine's last capability edge
  * (A75 typed-refused EPSG:326xx/327xx GeoParquet where DuckDB-spatial
  * could transform). Implemented from the PUBLIC Krüger flattening
  * series in the exponential-Mercator form (Karney 2011, "Transverse
  * Mercator with an accuracy of a few nanometers"; the same α/β/δ
  * coefficient sets printed in Snyder and the standard references),
  * carried to n⁴ — sub-millimetre over a UTM zone's ±3° span, orders
  * beyond the 1e-7° ingest tolerance the spec pins.
  *
  * Scale shape: pure per-vertex double math — runs inside the codegen'd
  * WKB re-projection expression at scan parallelism, no driver work, no
  * shuffle, no external library.
  */
object Utm {
  // WGS84
  private val a = 6378137.0
  private val f = 1.0 / 298.257223563
  private val k0 = 0.9996
  private val E0 = 500000.0
  private val NS = 10000000.0 // south-hemisphere false northing

  private val n = f / (2.0 - f)
  private val n2 = n * n; private val n3 = n2 * n; private val n4 = n2 * n2
  private val A = a / (1.0 + n) * (1.0 + n2 / 4.0 + n4 / 64.0)

  private val alpha = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 5.0 * n3 / 16.0 + 41.0 * n4 / 180.0,
    13.0 * n2 / 48.0 - 3.0 * n3 / 5.0 + 557.0 * n4 / 1440.0,
    61.0 * n3 / 240.0 - 103.0 * n4 / 140.0,
    49561.0 * n4 / 161280.0)
  private val beta = Array(
    n / 2.0 - 2.0 * n2 / 3.0 + 37.0 * n3 / 96.0 - n4 / 360.0,
    n2 / 48.0 + n3 / 15.0 - 437.0 * n4 / 1440.0,
    17.0 * n3 / 480.0 - 37.0 * n4 / 840.0,
    4397.0 * n4 / 161280.0)
  private val delta = Array(
    2.0 * n - 2.0 * n2 / 3.0 - 2.0 * n3 + 116.0 * n4 / 45.0,
    7.0 * n2 / 3.0 - 8.0 * n3 / 5.0 - 227.0 * n4 / 45.0,
    56.0 * n3 / 15.0 - 136.0 * n4 / 35.0,
    4279.0 * n4 / 630.0)

  private val twoSqrtNover1pn = 2.0 * math.sqrt(n) / (1.0 + n)

  /** Zone central meridian, degrees (zone 1 → -177, …, zone 60 → 177). */
  def centralMeridian(zone: Int): Double = -183.0 + 6.0 * zone

  /** (lon°, lat°) → (easting m, northing m) in `zone` (south = 327xx
    * false northing).
    */
  def forward(lon: Double, lat: Double, zone: Int, south: Boolean): (Double, Double) = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lon - centralMeridian(zone))
    val sphi = math.sin(phi)
    // conformal latitude via the exponential form
    val t = math.sinh(atanh(sphi) - twoSqrtNover1pn * atanh(twoSqrtNover1pn * sphi))
    val xiP = math.atan2(t, math.cos(lam))
    val etaP = asinh(math.sin(lam) / math.sqrt(t * t + math.cos(lam) * math.cos(lam)))
    var xi = xiP; var eta = etaP
    var j = 1
    while (j <= 4) {
      xi += alpha(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
      eta += alpha(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
      j += 1
    }
    val e = E0 + k0 * A * eta
    val nn = (if (south) NS else 0.0) + k0 * A * xi
    (e, nn)
  }

  /** (easting m, northing m, zone, south) → (lon°, lat°). */
  def inverse(e: Double, nOrth: Double, zone: Int, south: Boolean): (Double, Double) = {
    val xi = (nOrth - (if (south) NS else 0.0)) / (k0 * A)
    val eta = (e - E0) / (k0 * A)
    var xiP = xi; var etaP = eta
    var j = 1
    while (j <= 4) {
      xiP -= beta(j - 1) * math.sin(2.0 * j * xi) * math.cosh(2.0 * j * eta)
      etaP -= beta(j - 1) * math.cos(2.0 * j * xi) * math.sinh(2.0 * j * eta)
      j += 1
    }
    val chi = math.asin(math.sin(xiP) / math.cosh(etaP))
    var phi = chi
    j = 1
    while (j <= 4) { phi += delta(j - 1) * math.sin(2.0 * j * chi); j += 1 }
    val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
    (centralMeridian(zone) + math.toDegrees(lam), math.toDegrees(phi))
  }

  /** EPSG code for a UTM WGS84 zone: 326zz north, 327zz south. */
  def epsgOf(zone: Int, south: Boolean): Int = (if (south) 32700 else 32600) + zone

  /** Parse a UTM WGS84 EPSG code → (zone, south); None for anything else. */
  def parseEpsg(code: Int): Option[(Int, Boolean)] = {
    val base = code / 100; val zone = code % 100
    if (zone < 1 || zone > 60) None
    else if (base == 326) Some((zone, false))
    else if (base == 327) Some((zone, true))
    else None
  }

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

  /** Re-project every vertex of a WKB geometry from `zone` UTM metres to
    * CRS84 degrees (vertex-exact; edges re-interpret as straight in the
    * target plane — the standard vertex re-projection every engine's
    * ST_Transform performs on linear geometry).
    */
  def wkbToCrs84(wkb: Array[Byte], zone: Int, south: Boolean): Array[Byte] =
    Wkb.encode(mapShape(Wkb.toShape(wkb),
      (x, y) => inverse(x, y, zone, south)))

  /** The forward twin (degrees → `zone` UTM metres) — fixture staging
    * writes PROJECTED files with it; [[wkbToCrs84]] must invert it to
    * the coordinates the file was authored from.
    */
  def wkbFromCrs84(wkb: Array[Byte], zone: Int, south: Boolean): Array[Byte] =
    Wkb.encode(mapShape(Wkb.toShape(wkb),
      (lon, lat) => forward(lon, lat, zone, south)))

  private def mapFlat(a: Array[Double], f: (Double, Double) => (Double, Double)): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) {
      val (x, y) = f(a(i), a(i + 1)); out(i) = x; out(i + 1) = y; i += 2
    }
    out
  }

  private[spatial] def mapShape(s: Shape, f: (Double, Double) => (Double, Double)): Shape = s match {
    case Shape.PointS(x, y)     => val (nx, ny) = f(x, y); Shape.PointS(nx, ny)
    case Shape.MultiPointS(pts) => Shape.MultiPointS(mapFlat(pts, f))
    case Shape.LinesS(paths)    => Shape.LinesS(paths.map(mapFlat(_, f)))
    case Shape.PolyS(geom)      => Shape.PolyS(geom.map(_.map(mapFlat(_, f))))
    case Shape.CollS(parts)     => Shape.CollS(parts.map(mapShape(_, f)))
  }
}

/** EPSG:3857 (WGS 84 / Pseudo-Mercator, "web mercator") — the most
  * common projected CRS in the wild (every slippy-map tile pyramid).
  * By the EPSG definition it applies the SPHERICAL Mercator formulas on
  * the WGS84 semi-major axis with geodetic latitude:
  *
  *   x = R·λ,   y = R·ln(tan(π/4 + φ/2)),   R = 6 378 137 m
  *
  * so forward and inverse are closed-form (no series). Valid latitude
  * band ±85.05112877980659° (where |y| = R·π, the square map corner).
  *
  * Scale shape: identical to [[Utm]] — pure per-vertex double math
  * inside a codegen'd WKB expression, scan parallelism, no library.
  */
object Mercator3857 {
  val R = 6378137.0
  /** atan(sinh(π)) in degrees — the square map's latitude corner. */
  val MaxLat = 85.05112877980659

  def forward(lon: Double, lat: Double): (Double, Double) = {
    require(lat >= -MaxLat && lat <= MaxLat,
      s"latitude $lat outside the EPSG:3857 validity band ±$MaxLat")
    val phi = math.toRadians(lat)
    (R * math.toRadians(lon), R * math.log(math.tan(math.Pi / 4.0 + phi / 2.0)))
  }

  def inverse(x: Double, y: Double): (Double, Double) =
    (math.toDegrees(x / R),
      math.toDegrees(2.0 * math.atan(math.exp(y / R)) - math.Pi / 2.0))

  /** Re-project every vertex of a WKB geometry from 3857 metres to CRS84
    * degrees (vertex-exact, as [[Utm.wkbToCrs84]]).
    */
  def wkbToCrs84(wkb: Array[Byte]): Array[Byte] =
    Wkb.encode(Utm.mapShape(Wkb.toShape(wkb), (x, y) => inverse(x, y)))

  /** The forward twin — fixture staging writes PROJECTED files with it. */
  def wkbFromCrs84(wkb: Array[Byte]): Array[Byte] =
    Wkb.encode(Utm.mapShape(Wkb.toShape(wkb), (lon, lat) => forward(lon, lat)))
}

/** Codegen'd WKB re-projection: EPSG:3857 metres → CRS84 degrees. */
case class MercatorWkbToCrs84(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{BinaryType, DataType}

  override def dataType: DataType = BinaryType
  override def prettyName: String = "mercator_wkb_to_crs84"
  override protected def nullSafeEval(b: Any): Any =
    Mercator3857.wkbToCrs84(b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.spatial.Mercator3857.wkbToCrs84($c);")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): MercatorWkbToCrs84 =
    copy(child = newChild)
}

object MercatorWkbToCrs84 {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      MercatorWkbToCrs84(org.apache.spark.sql.GraftBridge.expression(c)))
}

/** Codegen'd WKB re-projection: `zone` UTM metres → CRS84 degrees, one
  * static call per row inside whole-stage codegen (the A42 decode
  * expressions then run on the result unchanged).
  */
case class UtmWkbToCrs84(child: org.apache.spark.sql.catalyst.expressions.Expression,
                         zone: Int, south: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{BinaryType, DataType}

  override def dataType: DataType = BinaryType
  override def prettyName: String = "utm_wkb_to_crs84"
  override protected def nullSafeEval(b: Any): Any =
    Utm.wkbToCrs84(b.asInstanceOf[Array[Byte]], zone, south)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.spatial.Utm.wkbToCrs84($c, $zone, $south);")
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): UtmWkbToCrs84 =
    copy(child = newChild)
}

object UtmWkbToCrs84 {
  def apply(c: org.apache.spark.sql.Column, zone: Int, south: Boolean): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftBridge.column(
      UtmWkbToCrs84(org.apache.spark.sql.GraftBridge.expression(c), zone, south))
}
