package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.spatial.Utm

/** A94: CRS-aware GeoParquet ingestion — the UTM WGS84 transform
  * (Karney/Krüger n⁴ series) and the projected-file ingest path built on
  * it. Anchors are INDEPENDENT of the implementation: published geodesy
  * constants (the WGS84 equator→pole meridian arc), the small-angle
  * equatorial easting limit, and exact central-meridian values — a
  * round-trip test alone would let a systematic error (wrong k0, swapped
  * series) cancel between forward and inverse.
  */
class UtmSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("independent anchors: central meridian, meridian arc, small-angle easting") {
    val cm = Utm.centralMeridian(33)
    assert(cm == 15.0)
    // equator on the central meridian IS the false origin
    val (e0, n0) = Utm.forward(cm, 0.0, 33, south = false)
    assert(math.abs(e0 - 500000.0) < 1e-6, e0)
    assert(math.abs(n0) < 1e-6, n0)
    // equator → pole along the central meridian = k0 × the WGS84
    // meridian quadrant (published: 10 001 965.729 m)
    val (_, nPole) = Utm.forward(cm, 90.0, 33, south = false)
    assert(math.abs(nPole - 0.9996 * 10001965.729) < 1.0, nPole)
    // small-angle equatorial easting: E − E0 → k0 · a · Δλ
    val dl = 0.01
    val (eS, _) = Utm.forward(cm + dl, 0.0, 33, south = false)
    assert(math.abs((eS - 500000.0) - 0.9996 * 6378137.0 * math.toRadians(dl)) < 0.01)
    // south false northing: the same parallel, 10 000 000 higher
    val (_, nN) = Utm.forward(cm, -30.0, 33, south = false)
    val (_, nS) = Utm.forward(cm, -30.0, 33, south = true)
    assert(math.abs((nS - nN) - 10000000.0) < 1e-6)
  }

  test("round-trip forward∘inverse is identity over the zone band, both hemispheres") {
    var worst = 0.0
    for (lat <- -84 to 84 by 4; dLon <- Seq(-2.9, -1.5, -0.3, 0.0, 0.7, 1.8, 2.9)) {
      val lon = Utm.centralMeridian(33) + dLon
      val south = lat < 0
      val (e, n) = Utm.forward(lon, lat.toDouble, 33, south)
      val (lon2, lat2) = Utm.inverse(e, n, 33, south)
      worst = math.max(worst,
        math.max(math.abs(lon2 - lon), math.abs(lat2 - lat.toDouble)))
    }
    assert(worst < 1e-9, s"worst round-trip error $worst deg")
  }

  test("mercator 3857: independent published anchors, round-trip identity, " +
      "band refusal") {
    import graft.spatial.Mercator3857
    // the square map corner: x(180°) = R·π = 20037508.342789244 m — the
    // constant printed in every web-mercator reference
    val (xmax, _) = Mercator3857.forward(180.0, 0.0)
    assert(math.abs(xmax - 20037508.342789244) < 1e-6, xmax)
    // equator: y(0) = 0 to double precision (tan(π/4) rounds to 1−ulp,
    // so ln contributes ~1e-16·R ≈ 1 nm); x(0) = 0 exactly
    val (x0, y0) = Mercator3857.forward(0.0, 0.0)
    assert(x0 == 0.0 && math.abs(y0) < 1e-8, s"($x0,$y0)")
    val (xq, _) = Mercator3857.forward(90.0, 0.0)
    assert(math.abs(xq - 20037508.342789244 / 2.0) < 1e-6, xq)
    // the published max latitude maps to y = R·π (the square corner)
    val (_, ytop) = Mercator3857.forward(0.0, Mercator3857.MaxLat)
    assert(math.abs(ytop - 20037508.342789244) < 1e-5, ytop)
    // a published reference pair: lat 45° → y = R·ln(tan(67.5°))
    val (_, y45) = Mercator3857.forward(0.0, 45.0)
    assert(math.abs(y45 - 5621521.486192) < 0.5, y45)
    // round-trip identity over the validity band
    for (lon <- -180 to 180 by 30; lat <- -85 to 85 by 5) {
      val (x, y) = Mercator3857.forward(lon, lat)
      val (lo, la) = Mercator3857.inverse(x, y)
      assert(math.abs(lo - lon) < 1e-12 && math.abs(la - lat) < 1e-12,
        s"($lon,$lat) → ($lo,$la)")
    }
    // beyond the band refuses (typed)
    intercept[IllegalArgumentException] { Mercator3857.forward(0.0, 86.0) }
  }

  test("SOUTH-hemisphere ingest: an EPSG:32733 file (false northing " +
      "10 000 000 m) lands back on CRS84 within 1e-7°") {
    val file = graft.core.GeoParquet.stageUtm(s, sf, zone = 33, south = true)
    val (df, meta) = graft.core.GeoParquet.ingestFile(s, file)
    assert(meta.crsAuthority == "EPSG" && meta.crsCode == "32733")
    val got = df.select(col("id"), col("g_xmin"), col("g_ymin"),
      col("g_xmax"), col("g_ymax")).collect()
    assert(got.nonEmpty)
    val want = graft.core.Tables.items(s, sf)
      .where(col("lon") >= 12.0 && col("lon") < 18.0 && col("lat") < -1.5)
      .select(col("id"), col("id_num"), col("user_id"), col("lon"), col("lat"))
      .collect().map { r =>
        val (_, (x0, y0, x1, y1)) = graft.core.GeoParquet.rowGeom(
          r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
        r.getString(0) -> (x0, y0, x1, y1)
      }.toMap
    assert(got.length == want.size)
    got.foreach { r =>
      val (x0, y0, x1, y1) = want(r.getString(0))
      assert(math.abs(r.getDouble(1) - x0) < 1e-7 &&
        math.abs(r.getDouble(2) - y0) < 1e-7 &&
        math.abs(r.getDouble(3) - x1) < 1e-7 &&
        math.abs(r.getDouble(4) - y1) < 1e-7, r)
    }
    // the raw file really is in the south convention: northings near
    // 10^7 for near-equator southern latitudes, never negative
    val rawN = s.read.parquet(file).agg(min(col("bbox.ymin"))).head().getDouble(0)
    assert(rawN > 0.0 && rawN < 10000000.0, rawN)
  }

  test("epsg parse: UTM codes in, everything else out") {
    assert(Utm.parseEpsg(32633).contains((33, false)))
    assert(Utm.parseEpsg(32701).contains((1, true)))
    assert(Utm.parseEpsg(32760).contains((60, true)))
    assert(Utm.parseEpsg(3857).isEmpty)   // web mercator
    assert(Utm.parseEpsg(4326).isEmpty)   // geographic
    assert(Utm.parseEpsg(32600).isEmpty)  // zone 0 does not exist
    assert(Utm.parseEpsg(32661).isEmpty)  // UPS north, not UTM
  }

  test("CRS-aware ingest: a projected EPSG:32633 file lands in CRS84 " +
      "within 1e-7°, metadata names the projected CRS, refusals stay typed") {
    val file = graft.core.GeoParquet.stageUtm(s, sf, zone = 33)
    val (df, meta) = graft.core.GeoParquet.ingestFile(s, file)
    assert(meta.crsAuthority == "EPSG" && meta.crsCode == "32633")
    assert(graft.core.GeoParquet.ingestCrs(meta) ==
      graft.core.GeoParquet.Crs.Utm(33, false))
    // every decoded envelope matches the CRS84 formulas the fixture was
    // authored from (forward ∘ inverse must land back on the source)
    val got = df.select(col("id"), col("gtype"),
      col("g_xmin"), col("g_ymin"), col("g_xmax"), col("g_ymax")).collect()
    assert(got.nonEmpty)
    val want = graft.core.Tables.items(s, sf)
      .where(col("lon") >= 12.0 && col("lon") < 18.0)
      .select(col("id"), col("id_num"), col("user_id"), col("lon"), col("lat"))
      .collect().map { r =>
        val (_, (x0, y0, x1, y1)) = graft.core.GeoParquet.rowGeom(
          r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
        r.getString(0) -> (x0, y0, x1, y1)
      }.toMap
    assert(got.length == want.size)
    got.foreach { r =>
      val (x0, y0, x1, y1) = want(r.getString(0))
      assert(math.abs(r.getDouble(2) - x0) < 1e-7, r)
      assert(math.abs(r.getDouble(3) - y0) < 1e-7, r)
      assert(math.abs(r.getDouble(4) - x1) < 1e-7, r)
      assert(math.abs(r.getDouble(5) - y1) < 1e-7, r)
      assert(r.getString(1) == "Point" || r.getString(1) == "Polygon")
    }
    // the covering columns stay in the FILE's CRS — metres, not degrees
    val cov = graft.core.GeoParquet.ingestFile(s, file)._1
      .agg(max(col("c_xmax"))).head().getDouble(0)
    assert(cov > 1000.0, s"covering should be metres-scale, got $cov")
    // unsupported CRS is a typed refusal naming the supported set
    // 3857 is now a SUPPORTED re-projection (a96), not a refusal
    assert(graft.core.GeoParquet.ingestCrs(meta.copy(crsCode = "3857")) ==
      graft.core.GeoParquet.Crs.PseudoMercator)
    val e = intercept[IllegalArgumentException] {
      graft.core.GeoParquet.ingestCrs(meta.copy(crsCode = "2154")) // Lambert-93
    }
    assert(e.getMessage.contains("EPSG:326xx/327xx") &&
      e.getMessage.contains("3857"), e.getMessage)
  }
}
