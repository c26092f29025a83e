package graft.spatial

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, BinaryExpression, Expression,
  GreaterThanOrEqual, LessThanOrEqual, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Geometry ops, Spark-first (SURVEY.md §3.2).
  *
  * The reference evaluates `ST_Intersects(geometry, …)` on WKB blobs via
  * DuckDB's spatial extension (database_logic.py:399-407, 418-448). At
  * 100 TB that touches every geometry. Here geometry is decomposed into
  * plain numeric columns (points: lon/lat), so:
  *
  *  - bbox intersects  → two range predicates that push down to parquet
  *    row-group min/max stats (cheap pruning before any row is read);
  *  - shape intersects → the same bbox prune on the shape's envelope
  *    ([[Geo.envelopePrune]]), then an exact post-filter as a codegen'd
  *    Catalyst expression — stays inside whole-stage codegen, no UDF
  *    boxing. Every relation, intersects included, compiles to one kernel
  *    per target: [[PointRelShape]], [[BoxRelShape]] or [[WkbRelShape]].
  */
object Geo {

  /** Static ray-cast kernel (even-odd rule). `poly` is a flat closed-or-open
    * ring [x0,y0,x1,y1,...]; the edge xn→x0 is implied. Called from
    * generated code — must stay a static-forwardable method.
    */
  def rayCast(x: Double, y: Double, poly: Array[Double]): Boolean = {
    var inside = false
    val n = poly.length / 2
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = poly(2 * i); val yi = poly(2 * i + 1)
      val xj = poly(2 * j); val yj = poly(2 * j + 1)
      if (((yi > y) != (yj > y)) &&
          (x < (xj - xi) * (y - yi) / (yj - yi) + xi)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Envelope (bbox) intersects for point geometry: pushdown-able ranges.
    * Matches ST_Intersects(point, bbox-polygon) boundary-inclusive
    * semantics.
    */
  def bboxContains(lon: Column, lat: Column,
                   west: Double, south: Double, east: Double, north: Double): Column =
    lon >= west && lon <= east && lat >= south && lat <= north

  /** Same predicate rendered as oracle SQL. */
  def bboxContainsSql(lonC: String, latC: String,
                      west: Double, south: Double, east: Double, north: Double): String =
    s"($lonC >= $west AND $lonC <= $east AND $latC >= $south AND $latC <= $north)"

  /** ANTIMERIDIAN-aware bbox: the STAC/GeoJSON bbox contract says
    * west > east means the box CROSSES the 180° meridian (RFC 7946
    * §5.2) — the longitude test becomes a disjunction of the two
    * half-ranges. Degenerates to [[bboxContains]] when west <= east, so
    * callers can route every bbox through this form.
    */
  def bboxContainsWrap(lon: Column, lat: Column,
                       west: Double, south: Double, east: Double, north: Double): Column = {
    val lonOk = if (west <= east) lon >= west && lon <= east
                else lon >= west || lon <= east
    lonOk && lat >= south && lat <= north
  }

  def bboxContainsWrapSql(lonC: String, latC: String,
                          west: Double, south: Double, east: Double, north: Double): String = {
    val lonOk = if (west <= east) s"($lonC >= $west AND $lonC <= $east)"
                else s"($lonC >= $west OR $lonC <= $east)"
    s"($lonOk AND $latC >= $south AND $latC <= $north)"
  }

  /** Polygon envelope. */
  def envelope(poly: Array[Double]): (Double, Double, Double, Double) = {
    val xs = poly.indices.collect { case i if i % 2 == 0 => poly(i) }
    val ys = poly.indices.collect { case i if i % 2 == 1 => poly(i) }
    (xs.min, ys.min, xs.max, ys.max)
  }

  /** Oracle SQL for a CONVEX CCW polygon: conjunction of half-plane tests
    * (cross product of each edge with the point ≥ 0). Equivalent to the
    * ray cast for non-boundary points; gate polygons are chosen off the
    * data's coordinate grid so no point is on a boundary.
    */
  def convexIntersectsSql(lonC: String, latC: String, poly: Array[Double]): String = {
    val n = poly.length / 2
    val planes = (0 until n).map { i =>
      val x1 = poly(2 * i); val y1 = poly(2 * i + 1)
      val x2 = poly(2 * ((i + 1) % n)); val y2 = poly(2 * ((i + 1) % n) + 1)
      s"(($x2 - $x1) * ($latC - $y1) - ($y2 - $y1) * ($lonC - $x1)) >= 0"
    }
    planes.mkString("(", " AND ", ")")
  }

  /** Point vs constant convex CCW ring, closed or STRICT (interior)
    * membership — the strict form the non-areal oracles need (a95).
    */
  def pointConvexSql(lonC: String, latC: String, poly: Array[Double],
                     strict: Boolean): String = {
    val cmp = if (strict) ">" else ">="
    val n = poly.length / 2
    (0 until n).map { i =>
      val x1 = poly(2 * i); val y1 = poly(2 * i + 1)
      val x2 = poly(2 * ((i + 1) % n)); val y2 = poly(2 * ((i + 1) % n) + 1)
      s"(($x2 - $x1) * ($latC - $y1) - ($y2 - $y1) * ($lonC - $x1)) $cmp 0"
    }.mkString("(", " AND ", ")")
  }

  /** SAT of a VARIABLE segment (endpoint column expressions) against a
    * constant convex CCW ring — closed (do they meet?) or strict (does
    * the segment reach the ring's open interior?). Axes = the ring's
    * edge normals (ring projection bounds fold to constants) plus the
    * segment's own normal (both endpoints project to the SAME value on
    * it, so the segment side is one expression). Completeness: two
    * convex sets are disjoint iff a line parallel to an edge of one
    * separates them; the segment's only edge direction is itself. The
    * strict form tests relint(segment) ∩ int(ring), which equals
    * closed-segment ∩ int(ring) for nondegenerate segments (an endpoint
    * inside an open set drags a neighborhood of the segment with it).
    */
  def segConvexSatSql(ax: String, ay: String, bx: String, by: String,
                      ring: Array[Double], strict: Boolean): String = {
    val lt = if (strict) "<" else "<="
    val gt = if (strict) ">" else ">="
    val n = ring.length / 2
    val ringAxes = (0 until n).map { i =>
      val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
      val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
      val nx = -(y2 - y1); val ny = x2 - x1
      val projs = (0 until n).map(k => nx * ring(2 * k) + ny * ring(2 * k + 1))
      val pa = s"($nx * $ax + $ny * $ay)"
      val pb = s"($nx * $bx + $ny * $by)"
      s"least($pa, $pb) $lt ${projs.max} AND greatest($pa, $pb) $gt ${projs.min}"
    }
    val snx = s"($ay - $by)"; val sny = s"($bx - $ax)"
    val p = s"($snx * $ax + $sny * $ay)"
    val rp = (0 until n).map(k => s"($snx * ${ring(2 * k)} + $sny * ${ring(2 * k + 1)})")
    val segAxis =
      s"least(${rp.mkString(", ")}) $lt $p AND greatest(${rp.mkString(", ")}) $gt $p"
    (ringAxes :+ segAxis).mkString("(", " AND ", ")")
  }

  /** Convex-polygon predicate as Columns (same half-plane form as the SQL
    * oracle — used in tests to cross-check the ray-cast expression).
    */
  def convexIntersectsColumn(lon: Column, lat: Column, poly: Array[Double]): Column = {
    val n = poly.length / 2
    (0 until n).map { i =>
      val x1 = poly(2 * i); val y1 = poly(2 * i + 1)
      val x2 = poly(2 * ((i + 1) % n)); val y2 = poly(2 * ((i + 1) % n) + 1)
      (lit(x2 - x1) * (lat - y1) - lit(y2 - y1) * (lon - x1)) >= 0
    }.reduce(_ && _)
  }

  // =================================================================
  // Arbitrary GeoJSON geometry (Polygon w/ holes, MultiPolygon) —
  // matches the reference's ST_Intersects over any geometry
  // (database_logic.py:418-448). Representation mirrors GeoJSON
  // MultiPolygon coordinates: geom(p) = polygon p's rings, ring 0 the
  // outer shell, rings 1.. holes; each ring a flat open [x0,y0,x1,y1,…].
  // =================================================================

  /** Point membership in an arbitrary geometry: inside some polygon's
    * outer shell and not inside any of its holes (even-odd per ring).
    * Static — called from generated code.
    */
  def containsGeom(x: Double, y: Double, geom: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < geom.length) {
      val rings = geom(p)
      if (rayCast(x, y, rings(0))) {
        var h = 1
        var inHole = false
        while (h < rings.length && !inHole) { inHole = rayCast(x, y, rings(h)); h += 1 }
        if (!inHole) return true
      }
      p += 1
    }
    false
  }

  /** Is a CCW ring convex? Used to pick the independent half-plane SQL
    * oracle form when possible.
    */
  def isConvexCcw(ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    (0 until n).forall { i =>
      val ax = ring(2 * i); val ay = ring(2 * i + 1)
      val bx = ring(2 * ((i + 1) % n)); val by = ring(2 * ((i + 1) % n) + 1)
      val cx = ring(2 * ((i + 2) % n)); val cy = ring(2 * ((i + 2) % n) + 1)
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) > 0
    }
  }

  /** Ray cast (even-odd parity) rendered as plain SQL — the general
    * oracle form for arbitrary rings; identical IEEE 754 arithmetic to
    * [[rayCast]] in both engines.
    */
  def rayCastSql(lonC: String, latC: String, ring: Array[Double]): String = {
    val n = ring.length / 2
    val terms = (0 until n).map { i =>
      val j = (i + n - 1) % n
      val xi = ring(2 * i); val yi = ring(2 * i + 1)
      val xj = ring(2 * j); val yj = ring(2 * j + 1)
      s"(CASE WHEN (($yi > $latC) <> ($yj > $latC)) AND " +
        s"$lonC < ($xj - $xi) * ($latC - $yi) / ($yj - $yi) + $xi THEN 1 ELSE 0 END)"
    }
    s"((${terms.mkString(" + ")}) % 2 = 1)"
  }

  /** General point-in-geometry SQL (outer-shell parity AND NOT hole
    * parity, OR'd over polygons).
    */
  def pointInGeomSql(lonC: String, latC: String, geom: Array[Array[Array[Double]]]): String =
    geom.map { rings =>
      val outer = rayCastSql(lonC, latC, rings(0))
      val holes = rings.drop(1).map(h => s"NOT ${rayCastSql(lonC, latC, h)}")
      (outer +: holes).mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")

  // ------------------------- box (footprint) vs geometry, exact -----

  /** Orientation sign of (a→b, a→c). */
  private def orient(ax: Double, ay: Double, bx: Double, by: Double,
                     cx: Double, cy: Double): Int = {
    val v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    if (v > 0) 1 else if (v < 0) -1 else 0
  }

  /** Is point (px, py) on segment a→b, GIVEN it is collinear with it? */
  private def onSegment(ax: Double, ay: Double, bx: Double, by: Double,
                        px: Double, py: Double): Boolean =
    px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)

  /** Segment intersection INCLUDING boundary touches (shared endpoints,
    * an endpoint interior to the other segment, collinear overlap) —
    * ST_Intersects counts touching geometries as intersecting, and the
    * kernel is reachable with arbitrary user geometry via the CQL2
    * footprint target and the `box_intersects_geom` SQL function, so the
    * off-grid-gate assumption can't be relied on.
    */
  def segmentsCross(ax: Double, ay: Double, bx: Double, by: Double,
                    cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) true
    else (o1 == 0 && onSegment(ax, ay, bx, by, cx, cy)) ||
      (o2 == 0 && onSegment(ax, ay, bx, by, dx, dy)) ||
      (o3 == 0 && onSegment(cx, cy, dx, dy, ax, ay)) ||
      (o4 == 0 && onSegment(cx, cy, dx, dy, bx, by))
  }

  /** Exact axis-aligned-box ∩ geometry test: (a) a box corner inside the
    * polygon, (b) a ring vertex inside the box, or (c) a ring edge
    * crossing a box edge. Static — called from generated code.
    */
  def boxIntersectsGeom(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                        geom: Array[Array[Array[Double]]]): Boolean = {
    if (containsGeom(xmin, ymin, geom) || containsGeom(xmax, ymin, geom) ||
        containsGeom(xmax, ymax, geom) || containsGeom(xmin, ymax, geom)) return true
    var p = 0
    while (p < geom.length) {
      val rings = geom(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        val n = ring.length / 2
        var i = 0
        while (i < n) {
          val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
          if (x1 >= xmin && x1 <= xmax && y1 >= ymin && y1 <= ymax) return true
          val j = (i + 1) % n
          val x2 = ring(2 * j); val y2 = ring(2 * j + 1)
          // ring edge vs the 4 box edges
          if (segmentsCross(x1, y1, x2, y2, xmin, ymin, xmax, ymin) ||
              segmentsCross(x1, y1, x2, y2, xmax, ymin, xmax, ymax) ||
              segmentsCross(x1, y1, x2, y2, xmax, ymax, xmin, ymax) ||
              segmentsCross(x1, y1, x2, y2, xmin, ymax, xmin, ymin)) return true
          i += 1
        }
        r += 1
      }
      p += 1
    }
    false
  }

  // =================================================================
  // Arbitrary GeoJSON geometry TYPES (Point, MultiPoint, LineString,
  // MultiLineString, GeometryCollection — beyond the polygon family):
  // the reference accepts ANY GeoJSON via ST_GeomFromGeoJSON
  // (database_logic.py:437-441). Same design as the polygon kernels:
  // envelope prune (pushdown-able ranges) + an exact codegen'd kernel.
  // =================================================================

  /** Is (px, py) exactly on segment a→b (collinear and within bounds)?
    * ST_Intersects(point, line) counts boundary contact. Static — called
    * from generated code via [[pointIntersectsShape]].
    */
  def pointOnSeg(px: Double, py: Double, ax: Double, ay: Double,
                 bx: Double, by: Double): Boolean =
    orient(ax, ay, bx, by, px, py) == 0 && onSegment(ax, ay, bx, by, px, py)

  /** Point ∩ arbitrary shape. Static — called from generated code. */
  def pointIntersectsShape(x: Double, y: Double, s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => x == px && y == py
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) { if (ps(i) == x && ps(i + 1) == y) return true; i += 2 }
      false
    case Shape.LinesS(paths) =>
      var p = 0
      while (p < paths.length) {
        val path = paths(p)
        var i = 0
        while (i + 3 < path.length) {
          if (pointOnSeg(x, y, path(i), path(i + 1), path(i + 2), path(i + 3)))
            return true
          i += 2
        }
        p += 1
      }
      false
    case Shape.PolyS(geom)  => containsGeom(x, y, geom)
    case Shape.CollS(parts) => parts.exists(pointIntersectsShape(x, y, _))
  }

  /** Segment ∩ axis-aligned box, boundary-inclusive: an endpoint inside
    * the box, or the segment crossing one of the four box edges. (The SQL
    * oracle uses the INDEPENDENT separating-axis form — see
    * [[segBoxSatSql]].) Static — called from generated code.
    */
  def segIntersectsBox(ax: Double, ay: Double, bx: Double, by: Double,
                       xmin: Double, ymin: Double, xmax: Double, ymax: Double): Boolean =
    (ax >= xmin && ax <= xmax && ay >= ymin && ay <= ymax) ||
      (bx >= xmin && bx <= xmax && by >= ymin && by <= ymax) ||
      segmentsCross(ax, ay, bx, by, xmin, ymin, xmax, ymin) ||
      segmentsCross(ax, ay, bx, by, xmax, ymin, xmax, ymax) ||
      segmentsCross(ax, ay, bx, by, xmax, ymax, xmin, ymax) ||
      segmentsCross(ax, ay, bx, by, xmin, ymax, xmin, ymin)

  /** Footprint box ∩ arbitrary shape. Static — called from generated code. */
  def boxIntersectsShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                         s: Shape): Boolean = s match {
    case Shape.PointS(px, py) =>
      px >= xmin && px <= xmax && py >= ymin && py <= ymax
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) {
        if (ps(i) >= xmin && ps(i) <= xmax && ps(i + 1) >= ymin && ps(i + 1) <= ymax)
          return true
        i += 2
      }
      false
    case Shape.LinesS(paths) =>
      var p = 0
      while (p < paths.length) {
        val path = paths(p)
        var i = 0
        while (i + 3 < path.length) {
          if (segIntersectsBox(path(i), path(i + 1), path(i + 2), path(i + 3),
              xmin, ymin, xmax, ymax)) return true
          i += 2
        }
        p += 1
      }
      false
    case Shape.PolyS(geom)  => boxIntersectsGeom(xmin, ymin, xmax, ymax, geom)
    case Shape.CollS(parts) => parts.exists(boxIntersectsShape(xmin, ymin, xmax, ymax, _))
  }

  /** Envelope of an arbitrary shape (polygons by their outer shells), or
    * None for an empty shape — the box [[envelopePrune]] is cut from.
    */
  def shapeEnvelope(s: Shape): Option[(Double, Double, Double, Double)] = {
    def coords(s: Shape): Array[Double] = s match {
      case Shape.PointS(x, y)    => Array(x, y)
      case Shape.MultiPointS(ps) => ps
      case Shape.LinesS(paths)   => paths.flatten
      case Shape.PolyS(geom)     => geom.flatMap(_.headOption).flatten
      case Shape.CollS(parts)    => parts.flatMap(coords)
    }
    Some(coords(s)).filter(_.nonEmpty).map(envelope)
  }

  // =================================================================
  // DE-9IM spatial relations beyond intersects/within-convex (r10):
  // s_contains / s_equals / s_touches / s_crosses / s_overlaps on both
  // targets, and EXACT s_within for concave/holed query rings. All
  // reduce to four exact primitives — closed membership (parity OR
  // on-boundary), open-box∩segment (Liang-Barsky clip + strict
  // midpoint), vertex-in-closed-box covers, and interior intersection —
  // composed per DE-9IM definitions. Every kernel is total on valid
  // geometry; no typed rejections remain on the spatial surface.
  // =================================================================

  /** Is (x, y) on the boundary of any ring of `geom` (closing edges
    * included)? Static — called from generated code.
    */
  def onGeomBoundary(x: Double, y: Double, geom: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < geom.length) {
      val rings = geom(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        val n = ring.length / 2
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          if (pointOnSeg(x, y, ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1)))
            return true
          i += 1
        }
        r += 1
      }
      p += 1
    }
    false
  }

  /** CLOSED point-in-region: even-odd parity (interior) OR on a ring
    * boundary. The parity cast alone is ambiguous exactly on the
    * boundary; the disjunction makes membership exact there too.
    */
  def inClosedGeom(x: Double, y: Double, geom: Array[Array[Array[Double]]]): Boolean =
    containsGeom(x, y, geom) || onGeomBoundary(x, y, geom)

  /** Does segment a→b intersect the OPEN box (strict interior)? Exact:
    * the closed Liang-Barsky clip of a line against a convex box is the
    * closure of the open clip, so the open intersection is nonempty iff
    * the clipped parameter interval is non-degenerate AND its midpoint
    * is strictly inside. Static — called from generated code.
    */
  def segIntersectsOpenBox(ax: Double, ay: Double, bx: Double, by: Double,
                           xmin: Double, ymin: Double, xmax: Double, ymax: Double): Boolean = {
    val dx = bx - ax; val dy = by - ay
    var t0 = 0.0; var t1 = 1.0
    if (dx != 0) {
      val ta = (xmin - ax) / dx; val tb = (xmax - ax) / dx
      t0 = math.max(t0, math.min(ta, tb)); t1 = math.min(t1, math.max(ta, tb))
    } else if (ax < xmin || ax > xmax) return false
    if (dy != 0) {
      val ta = (ymin - ay) / dy; val tb = (ymax - ay) / dy
      t0 = math.max(t0, math.min(ta, tb)); t1 = math.min(t1, math.max(ta, tb))
    } else if (ay < ymin || ay > ymax) return false
    if (t1 <= t0) return false
    val tm = (t0 + t1) / 2
    val mx = ax + tm * dx; val my = ay + tm * dy
    mx > xmin && mx < xmax && my > ymin && my < ymax
  }

  /** Does any ring edge of `geom` pass through the open box? */
  def geomEdgeMeetsOpenBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                           geom: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < geom.length) {
      val rings = geom(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        val n = ring.length / 2
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          if (segIntersectsOpenBox(ring(2 * i), ring(2 * i + 1),
              ring(2 * j), ring(2 * j + 1), xmin, ymin, xmax, ymax)) return true
          i += 1
        }
        r += 1
      }
      p += 1
    }
    false
  }

  /** EXACT box ⊆ closed polygon-region test, general rings (concave,
    * holed, multi): all four corners AND the center are in the closed
    * region, and no ring edge passes through the open box. Valid-polygon
    * argument: a boundary through the open box leaves exterior points
    * inside the box (boundary locally separates); with no boundary in
    * the open box, the open box lies in ONE face of the arrangement and
    * the center (then never on a boundary) decides which. Replaces the
    * r9 convex-only corner rule's typed rejection.
    */
  def boxWithinGeom(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                    geom: Array[Array[Array[Double]]]): Boolean =
    inClosedGeom(xmin, ymin, geom) && inClosedGeom(xmax, ymin, geom) &&
      inClosedGeom(xmax, ymax, geom) && inClosedGeom(xmin, ymax, geom) &&
      inClosedGeom((xmin + xmax) / 2, (ymin + ymax) / 2, geom) &&
      !geomEdgeMeetsOpenBox(xmin, ymin, xmax, ymax, geom)

  /** All polygonal parts of a shape, flattened (collections recursed).
    * The 2D relations (within / equals / overlaps on a box) are decided
    * by the polygonal parts alone: lower-dimensional parts can never
    * cover a 2D box, and a valid MultiPolygon's components have disjoint
    * interiors.
    */
  def mergedPolys(s: Shape): Array[Array[Array[Double]]] = s match {
    case Shape.PolyS(geom)  => geom
    case Shape.CollS(parts) => parts.flatMap(mergedPolys)
    case _                  => Array.empty
  }

  /** g ⊆ closed box (covers): every defining vertex in the closed box —
    * sufficient and necessary because the box is convex (a polygon
    * region lies inside the convex hull of its shell vertices; holes are
    * interior to the shell).
    */
  def shapeInClosedBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                       s: Shape): Boolean = {
    def in(px: Double, py: Double) =
      px >= xmin && px <= xmax && py >= ymin && py <= ymax
    s match {
      case Shape.PointS(px, py)  => in(px, py)
      case Shape.MultiPointS(ps) =>
        var i = 0
        while (i < ps.length) { if (!in(ps(i), ps(i + 1))) return false; i += 2 }
        true
      case Shape.LinesS(paths) =>
        paths.forall { path =>
          var i = 0
          var ok = true
          while (i < path.length && ok) { ok = in(path(i), path(i + 1)); i += 2 }
          ok
        }
      case Shape.PolyS(geom) =>
        geom.forall { rings =>
          val shell = rings(0)
          var i = 0
          var ok = true
          while (i < shell.length && ok) { ok = in(shell(i), shell(i + 1)); i += 2 }
          ok
        }
      case Shape.CollS(parts) => parts.forall(shapeInClosedBox(xmin, ymin, xmax, ymax, _))
    }
  }

  /** Does the shape meet the OPEN box (interior intersection on the box
    * side)? For polygons: a ring edge through the open box proves it
    * (both local sides of a valid boundary meet the open box, one of
    * them interior), else the boundary-free open box lies in one face
    * and the box center — then never on a boundary — decides.
    */
  def shapeMeetsOpenBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                        s: Shape): Boolean = {
    def strict(px: Double, py: Double) =
      px > xmin && px < xmax && py > ymin && py < ymax
    s match {
      case Shape.PointS(px, py)  => strict(px, py)
      case Shape.MultiPointS(ps) =>
        var i = 0
        while (i < ps.length) { if (strict(ps(i), ps(i + 1))) return true; i += 2 }
        false
      case Shape.LinesS(paths) =>
        paths.exists { path =>
          var i = 0
          var hit = false
          while (i + 3 < path.length && !hit) {
            hit = segIntersectsOpenBox(path(i), path(i + 1), path(i + 2), path(i + 3),
              xmin, ymin, xmax, ymax)
            i += 2
          }
          hit
        }
      case Shape.PolyS(geom) =>
        geomEdgeMeetsOpenBox(xmin, ymin, xmax, ymax, geom) ||
          containsGeom((xmin + xmax) / 2, (ymin + ymax) / 2, geom)
      case Shape.CollS(parts) => parts.exists(shapeMeetsOpenBox(xmin, ymin, xmax, ymax, _))
    }
  }

  /** Maximum dimension of a shape's parts (0 points, 1 lines, 2 polys). */
  def shapeDim(s: Shape): Int = s match {
    case _: Shape.PointS | _: Shape.MultiPointS => 0
    case _: Shape.LinesS                        => 1
    case _: Shape.PolyS                         => 2
    case Shape.CollS(parts)                     => parts.map(shapeDim).max
  }

  // ---- DE-9IM composites on the box footprint (all static, codegen) ----

  /** ST_Within(box, g): box ⊆ the closed polygonal region of g. */
  def boxWithinShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                     s: Shape): Boolean = {
    val polys = mergedPolys(s)
    polys.nonEmpty && boxWithinGeom(xmin, ymin, xmax, ymax, polys)
  }

  /** ST_Contains(box, g): g ⊆ closed box AND g meets the open box
    * (DE-9IM: containment plus interior-interior intersection — a shape
    * lying wholly on the box boundary is covered but not contained).
    */
  def boxContainsShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                       s: Shape): Boolean =
    shapeInClosedBox(xmin, ymin, xmax, ymax, s) &&
      shapeMeetsOpenBox(xmin, ymin, xmax, ymax, s)

  /** ST_Equals(box, g): identical point sets — mutual coverage. The
    * polygonal parts must cover the box; every part (any dimension) must
    * lie inside the closed box.
    */
  def boxEqualsShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                     s: Shape): Boolean =
    boxWithinShape(xmin, ymin, xmax, ymax, s) &&
      shapeInClosedBox(xmin, ymin, xmax, ymax, s)

  /** ST_Touches(box, g): they intersect, but only on boundaries. */
  def boxTouchesShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                      s: Shape): Boolean =
    boxIntersectsShape(xmin, ymin, xmax, ymax, s) &&
      !shapeMeetsOpenBox(xmin, ymin, xmax, ymax, s)

  /** ST_Crosses(box, g): defined for lower-dimensional g (points/lines)
    * vs the 2D box — part of g in the box interior AND part outside the
    * closed box. Any polygonal part makes the pair area/area → false.
    */
  def boxCrossesShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                      s: Shape): Boolean =
    shapeDim(s) < 2 &&
      shapeMeetsOpenBox(xmin, ymin, xmax, ymax, s) &&
      !shapeInClosedBox(xmin, ymin, xmax, ymax, s)

  /** ST_Overlaps(box, g): same dimension (areal), interiors intersect,
    * neither covers the other. Decided on the polygonal parts.
    */
  def boxOverlapsShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                       s: Shape): Boolean = {
    val polys = mergedPolys(s)
    polys.nonEmpty && {
      val ps = Shape.PolyS(polys)
      shapeMeetsOpenBox(xmin, ymin, xmax, ymax, ps) &&
        !boxWithinGeom(xmin, ymin, xmax, ymax, polys) &&
        !shapeInClosedBox(xmin, ymin, xmax, ymax, ps)
    }
  }

  // ---- DE-9IM composites on the point geometry (static, codegen) ----

  /** Endpoints of a line network with odd multiplicity — its SFS mod-2
    * boundary. Driver-side helper (constant shapes).
    */
  def oddEndpoints(paths: Array[Array[Double]]): Array[(Double, Double)] = {
    val counts = scala.collection.mutable.Map.empty[(Double, Double), Int]
    paths.foreach { p =>
      val a = (p(0), p(1)); val b = (p(p.length - 2), p(p.length - 1))
      counts(a) = counts.getOrElse(a, 0) + 1
      counts(b) = counts.getOrElse(b, 0) + 1
    }
    counts.collect { case (pt, c) if c % 2 == 1 => pt }.toArray
  }

  /** Is (x, y) in the INTERIOR of the shape (SFS: shape minus its mod-2
    * boundary)? Points are all interior; line interiors exclude odd
    * endpoints; polygon interiors are the open parity region.
    */
  def pointInShapeInterior(x: Double, y: Double, s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => x == px && y == py
    case _: Shape.MultiPointS  => pointIntersectsShape(x, y, s)
    case Shape.LinesS(paths) =>
      pointIntersectsShape(x, y, s) &&
        !oddEndpoints(paths).contains((x, y))
    // parity alone is arbitrary exactly ON an edge — mask with the
    // boundary test so interior membership is exact everywhere
    case Shape.PolyS(geom) =>
      !onGeomBoundary(x, y, geom) && containsGeom(x, y, geom)
    case Shape.CollS(parts) => parts.exists(pointInShapeInterior(x, y, _))
  }

  /** CLOSED point ∩ shape (boundary-inclusive for polygons — the parity
    * kernel alone is ambiguous exactly on ring edges).
    */
  def pointIntersectsClosedShape(x: Double, y: Double, s: Shape): Boolean = s match {
    case Shape.PolyS(geom)  => inClosedGeom(x, y, geom)
    case Shape.CollS(parts) => parts.exists(pointIntersectsClosedShape(x, y, _))
    case other              => pointIntersectsShape(x, y, other)
  }

  /** ST_Touches(point, g): on g but not in g's interior. */
  def pointTouchesShape(x: Double, y: Double, s: Shape): Boolean =
    pointIntersectsClosedShape(x, y, s) && !pointInShapeInterior(x, y, s)

  /** ST_Equals/ST_Contains(point, g): g's point set is exactly {p}
    * (contains(point, g) needs g ⊆ {p} with interior contact — the same
    * condition; a point can contain only itself).
    */
  def shapeEqualsPoint(x: Double, y: Double, s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => x == px && y == py
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) { if (ps(i) != x || ps(i + 1) != y) return false; i += 2 }
      ps.length >= 2
    case Shape.CollS(parts) => parts.nonEmpty && parts.forall(shapeEqualsPoint(x, y, _))
    case _ => false
  }

  /** Dispatch table for the relation kernels, intersects included — one
    * static entry point per target so the codegen'd expressions stay
    * single-call.
    */
  def pointRelShape(x: Double, y: Double, s: Shape, rel: Int): Boolean = rel match {
    case RelIntersects           => pointIntersectsShape(x, y, s)
    case RelContains | RelEquals => shapeEqualsPoint(x, y, s)
    case RelTouches              => pointTouchesShape(x, y, s)
    case RelCrosses | RelOverlaps => false // a single point has no exclusive part
    case other => throw new IllegalArgumentException(s"bad point rel: $other")
  }

  def boxRelShape(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                  s: Shape, rel: Int): Boolean = rel match {
    case RelIntersects => boxIntersectsShape(xmin, ymin, xmax, ymax, s)
    case RelContains => boxContainsShape(xmin, ymin, xmax, ymax, s)
    case RelEquals   => boxEqualsShape(xmin, ymin, xmax, ymax, s)
    case RelTouches  => boxTouchesShape(xmin, ymin, xmax, ymax, s)
    case RelCrosses  => boxCrossesShape(xmin, ymin, xmax, ymax, s)
    case RelOverlaps => boxOverlapsShape(xmin, ymin, xmax, ymax, s)
    case RelWithin   => boxWithinShape(xmin, ymin, xmax, ymax, s)
    case other => throw new IllegalArgumentException(s"bad box rel: $other")
  }

  final val RelIntersects = 0
  final val RelContains = 1
  final val RelEquals   = 2
  final val RelTouches  = 3
  final val RelCrosses  = 4
  final val RelOverlaps = 5
  final val RelWithin   = 6

  /** The one envelope rule: the pushdown-able range conjuncts a relation
    * kernel implies on its coordinate children — (lon, lat) for a point
    * target, (xmin, ymin, xmax, ymax) for a box. A related point lies in
    * the shape's envelope; a related box overlaps it, lies inside it
    * (within, equals) or covers it (contains — containment flips the
    * prune). An empty shape implies nothing. The column builders AND it
    * in front of their kernel and [[DeriveSpatialEnvelope]] derives it
    * for kernels that arrive without it, so the two cannot disagree.
    */
  def envelopePrune(coords: Seq[Expression], s: Shape, rel: Int): Seq[BinaryComparison] =
    shapeEnvelope(s).toSeq.flatMap { case (w, so, e, n) =>
      def ge(c: Expression, v: Double) = GreaterThanOrEqual(c, Literal(v))
      def le(c: Expression, v: Double) = LessThanOrEqual(c, Literal(v))
      (coords, rel) match {
        case (Seq(lon, lat), _) => Seq(ge(lon, w), le(lon, e), ge(lat, so), le(lat, n))
        case (Seq(x0, y0, x1, y1), RelWithin | RelEquals) =>
          Seq(ge(x0, w), le(x1, e), ge(y0, so), le(y1, n))
        case (Seq(x0, y0, x1, y1), RelContains) =>
          Seq(le(x0, w), ge(x1, e), le(y0, so), ge(y1, n))
        case (Seq(x0, y0, x1, y1), _) =>
          Seq(le(x0, e), ge(x1, w), le(y0, n), ge(y1, so))
      }
    }

  /** [[envelopePrune]] AND the codegen'd kernel, which reads the
    * coordinates cast to double.
    */
  private def pruned(coords: Seq[Column], s: Shape, rel: Int)(
      kernel: Seq[Expression] => Expression): Column =
    (envelopePrune(coords.map(GraftBridge.expression), s, rel) :+
      kernel(coords.map(c => GraftBridge.expression(c.cast("double")))))
      .map(GraftBridge.column).reduce(_ && _)

  /** Point-geometry relation (intersects included) as a Column: the
    * envelope prune (pushdown-able) AND the codegen'd kernel.
    * Constant-false relations (crosses/overlaps on a point) fold to
    * lit(false) — the SAME folds the SQL renderer applies, so the
    * backends agree even on rows with NULL coordinates.
    */
  def pointRelShapeCol(lon: Column, lat: Column, s: Shape, rel: Int): Column =
    rel match {
      case RelCrosses | RelOverlaps => lit(false)
      case _ => pruned(Seq(lon, lat), s, rel) { case Seq(x, y) => PointRelShape(x, y, s, rel) }
    }

  /** Box-footprint relation (intersects included) as a Column: the
    * envelope prune AND the codegen'd kernel; constant folds mirror
    * [[boxRelShapeSql]].
    */
  def boxRelShapeCol(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                     s: Shape, rel: Int): Column =
    rel match {
      case RelWithin | RelEquals if mergedPolys(s).isEmpty => lit(false)
      case RelOverlaps if mergedPolys(s).isEmpty => lit(false)
      case RelCrosses if shapeDim(s) >= 2 => lit(false)
      case _ =>
        pruned(Seq(xmin, ymin, xmax, ymax), s, rel) {
          case Seq(a, b, c, d) => BoxRelShape(a, b, c, d, s, rel)
        }
    }

  /** Point ∩ shape as oracle SQL. Point/line forms: exact cross-product
    * collinearity + coordinate bounds (constants folded here). Polygons
    * ALWAYS render the even-odd parity form ([[pointInGeomSql]]) — the
    * same IEEE 754 arithmetic as the Spark kernel's ray cast — so the
    * oracle and the kernel agree even for data points exactly on a
    * polygon edge, including polygon members inside GeometryCollections.
    * (The boundary-inclusive convex-half-plane form lives on only in the
    * deliberately-independent a9/a33/a34 gate oracles, whose fixture
    * polygons are chosen off the data grid.)
    */
  def pointShapeSql(lonC: String, latC: String, s: Shape): String = s match {
    case Shape.PointS(px, py) => s"($lonC = $px AND $latC = $py)"
    case Shape.MultiPointS(ps) =>
      ps.grouped(2).map { case Array(px, py) => s"($lonC = $px AND $latC = $py)" }
        .mkString("(", " OR ", ")")
    case Shape.LinesS(paths) =>
      paths.flatMap { path =>
        path.grouped(2).toSeq.sliding(2).map { case Seq(Array(ax, ay), Array(bx, by)) =>
          s"((($bx - $ax) * ($latC - $ay) - ($by - $ay) * ($lonC - $ax)) = 0" +
            s" AND $lonC >= ${math.min(ax, bx)} AND $lonC <= ${math.max(ax, bx)}" +
            s" AND $latC >= ${math.min(ay, by)} AND $latC <= ${math.max(ay, by)})"
        }
      }.mkString("(", " OR ", ")")
    case Shape.PolyS(geom) => pointInGeomSql(lonC, latC, geom)
    case Shape.CollS(parts) =>
      parts.map(pointShapeSql(lonC, latC, _)).mkString("(", " OR ", ")")
  }

  /** Segment ∩ box as SQL via the separating-axis theorem — INDEPENDENT of
    * the kernel's endpoint-in-box + edge-crossing decomposition: the two
    * convex shapes are disjoint iff separated along x, y (segment bbox vs
    * box, constants folded) or the segment's normal (all four box corners
    * strictly one side of the segment's supporting line).
    */
  def segBoxSatSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                   ax: Double, ay: Double, bx: Double, by: Double): String = {
    val bboxTest =
      s"$xminC <= ${math.max(ax, bx)} AND $xmaxC >= ${math.min(ax, bx)}" +
        s" AND $yminC <= ${math.max(ay, by)} AND $ymaxC >= ${math.min(ay, by)}"
    def sign(cx: String, cy: String) =
      s"(($bx - $ax) * ($cy - $ay) - ($by - $ay) * ($cx - $ax))"
    val signs = Seq(sign(xminC, yminC), sign(xmaxC, yminC),
      sign(xmaxC, ymaxC), sign(xminC, ymaxC))
    s"($bboxTest AND least(${signs.mkString(", ")}) <= 0" +
      s" AND greatest(${signs.mkString(", ")}) >= 0)"
  }

  /** Footprint box ∩ shape as oracle SQL. The polygon family keeps the
    * established convex-SAT form (convex single-ring polygons only, as
    * before — decompose concave query shapes first).
    */
  def boxShapeSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                  s: Shape): String = s match {
    case Shape.PointS(px, py) =>
      s"($px >= $xminC AND $px <= $xmaxC AND $py >= $yminC AND $py <= $ymaxC)"
    case Shape.MultiPointS(ps) =>
      ps.grouped(2).map { case Array(px, py) =>
        s"($px >= $xminC AND $px <= $xmaxC AND $py >= $yminC AND $py <= $ymaxC)"
      }.mkString("(", " OR ", ")")
    case Shape.LinesS(paths) =>
      paths.flatMap { path =>
        path.grouped(2).toSeq.sliding(2).map { case Seq(Array(ax, ay), Array(bx, by)) =>
          segBoxSatSql(xminC, yminC, xmaxC, ymaxC, ax, ay, bx, by)
        }
      }.mkString("(", " OR ", ")")
    case Shape.PolyS(geom) =>
      require(geom.forall(p => p.length == 1 && isConvexCcw(p(0))),
        "footprint-vs-polygon SQL oracle needs convex single-ring polygons " +
          "(decompose concave shapes)")
      geom.map(p => boxConvexSatSql(xminC, yminC, xmaxC, ymaxC, p(0)))
        .mkString("(", " OR ", ")")
    case Shape.CollS(parts) =>
      parts.map(boxShapeSql(xminC, yminC, xmaxC, ymaxC, _)).mkString("(", " OR ", ")")
  }

  // ---------------- DE-9IM relation SQL (oracle rendering, r10) ----------
  // Mirrors the kernels above term for term: same IEEE 754 arithmetic on
  // the same decimal constants, so DuckDB and the codegen'd expressions
  // agree bit-for-bit. The shape is constant, so vertex lists, odd
  // endpoints, and per-axis clip bounds fold driver-side.

  /** (x, y) on constant segment a→b: collinearity + bbox bounds. */
  private def onSegSql(pxC: String, pyC: String,
                       ax: Double, ay: Double, bx: Double, by: Double): String =
    s"((($bx - $ax) * ($pyC - $ay) - (($by - $ay) * ($pxC - $ax))) = 0" +
      s" AND $pxC >= ${math.min(ax, bx)} AND $pxC <= ${math.max(ax, bx)}" +
      s" AND $pyC >= ${math.min(ay, by)} AND $pyC <= ${math.max(ay, by)})"

  private def ringEdges(ring: Array[Double]): Seq[(Double, Double, Double, Double)] = {
    val n = ring.length / 2
    (0 until n).map { i =>
      val j = (i + 1) % n
      (ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1))
    }
  }

  private def allRingEdges(geom: Array[Array[Array[Double]]]): Seq[(Double, Double, Double, Double)] =
    geom.toSeq.flatMap(rings => rings.toSeq.flatMap(ringEdges))

  def onGeomBoundarySql(pxC: String, pyC: String, geom: Array[Array[Array[Double]]]): String =
    allRingEdges(geom).map { case (ax, ay, bx, by) => onSegSql(pxC, pyC, ax, ay, bx, by) }
      .mkString("(", " OR ", ")")

  def inClosedGeomSql(pxC: String, pyC: String, geom: Array[Array[Array[Double]]]): String =
    s"(${pointInGeomSql(pxC, pyC, geom)} OR ${onGeomBoundarySql(pxC, pyC, geom)})"

  /** Constant segment ∩ OPEN variable box — the Liang-Barsky clip with
    * the strict-midpoint decision, per-axis candidate bounds ordered
    * driver-side by the (constant) direction sign.
    */
  def segOpenBoxSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                    ax: Double, ay: Double, bx: Double, by: Double): String = {
    val dx = bx - ax; val dy = by - ay
    val los = Seq("0.0") ++
      (if (dx > 0) Seq(s"(($xminC - $ax) / $dx)")
       else if (dx < 0) Seq(s"(($xmaxC - $ax) / $dx)") else Nil) ++
      (if (dy > 0) Seq(s"(($yminC - $ay) / $dy)")
       else if (dy < 0) Seq(s"(($ymaxC - $ay) / $dy)") else Nil)
    val his = Seq("1.0") ++
      (if (dx > 0) Seq(s"(($xmaxC - $ax) / $dx)")
       else if (dx < 0) Seq(s"(($xminC - $ax) / $dx)") else Nil) ++
      (if (dy > 0) Seq(s"(($ymaxC - $ay) / $dy)")
       else if (dy < 0) Seq(s"(($yminC - $ay) / $dy)") else Nil)
    def fold(xs: Seq[String], f: String): String =
      if (xs.length == 1) xs.head else s"$f(${xs.mkString(", ")})"
    val t0 = fold(los, "greatest"); val t1 = fold(his, "least")
    val tm = s"(($t0 + $t1) / 2)"
    val mx = if (dx == 0) ax.toString else s"($ax + $tm * $dx)"
    val my = if (dy == 0) ay.toString else s"($ay + $tm * $dy)"
    s"($t1 > $t0 AND $mx > $xminC AND $mx < $xmaxC AND $my > $yminC AND $my < $ymaxC)"
  }

  def geomEdgeMeetsOpenBoxSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                              geom: Array[Array[Array[Double]]]): String =
    allRingEdges(geom).map { case (ax, ay, bx, by) =>
      segOpenBoxSql(xminC, yminC, xmaxC, ymaxC, ax, ay, bx, by)
    }.mkString("(", " OR ", ")")

  def boxWithinGeomSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                       geom: Array[Array[Array[Double]]]): String = {
    val cx = s"(($xminC + $xmaxC) / 2)"; val cy = s"(($yminC + $ymaxC) / 2)"
    val pts = Seq((xminC, yminC), (xmaxC, yminC), (xmaxC, ymaxC), (xminC, ymaxC), (cx, cy))
    val members = pts.map { case (px, py) => inClosedGeomSql(px, py, geom) }
    s"(${members.mkString(" AND ")} AND NOT ${geomEdgeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, geom)})"
  }

  /** Defining vertices per shape type, as used by the covers test (shell
    * only for polygons).
    */
  private def coverVertices(s: Shape): Seq[(Double, Double)] = s match {
    case Shape.PointS(px, py)  => Seq((px, py))
    case Shape.MultiPointS(ps) => ps.grouped(2).map { case Array(x, y) => (x, y) }.toSeq
    case Shape.LinesS(paths)   =>
      paths.toSeq.flatMap(_.grouped(2).map { case Array(x, y) => (x, y) }.toSeq)
    case Shape.PolyS(geom) =>
      geom.toSeq.flatMap(_.head.grouped(2).map { case Array(x, y) => (x, y) }.toSeq)
    case Shape.CollS(parts) => parts.toSeq.flatMap(coverVertices)
  }

  def shapeInClosedBoxSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                          s: Shape): String =
    coverVertices(s).map { case (px, py) =>
      s"($px >= $xminC AND $px <= $xmaxC AND $py >= $yminC AND $py <= $ymaxC)"
    }.mkString("(", " AND ", ")")

  def shapeMeetsOpenBoxSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                           s: Shape): String = {
    def strict(px: Double, py: Double) =
      s"($px > $xminC AND $px < $xmaxC AND $py > $yminC AND $py < $ymaxC)"
    s match {
      case Shape.PointS(px, py)  => strict(px, py)
      case Shape.MultiPointS(ps) =>
        ps.grouped(2).map { case Array(x, y) => strict(x, y) }.mkString("(", " OR ", ")")
      case Shape.LinesS(paths) =>
        paths.toSeq.flatMap { path =>
          path.grouped(2).toSeq.sliding(2).map { case Seq(Array(ax, ay), Array(bx, by)) =>
            segOpenBoxSql(xminC, yminC, xmaxC, ymaxC, ax, ay, bx, by)
          }
        }.mkString("(", " OR ", ")")
      case Shape.PolyS(geom) =>
        val cx = s"(($xminC + $xmaxC) / 2)"; val cy = s"(($yminC + $ymaxC) / 2)"
        s"(${geomEdgeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, geom)}" +
          s" OR ${pointInGeomSql(cx, cy, geom)})"
      case Shape.CollS(parts) =>
        parts.map(shapeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, _))
          .mkString("(", " OR ", ")")
    }
  }

  /** Box-footprint DE-9IM relation as oracle SQL — mirrors
    * [[boxRelShape]] composite for composite.
    */
  def boxRelShapeSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                     s: Shape, rel: Int): String = rel match {
    case RelContains =>
      s"(${shapeInClosedBoxSql(xminC, yminC, xmaxC, ymaxC, s)}" +
        s" AND ${shapeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, s)})"
    case RelEquals =>
      val polys = mergedPolys(s)
      if (polys.isEmpty) "FALSE"
      else s"(${boxWithinGeomSql(xminC, yminC, xmaxC, ymaxC, polys)}" +
        s" AND ${shapeInClosedBoxSql(xminC, yminC, xmaxC, ymaxC, s)})"
    case RelTouches =>
      s"(${boxShapeSqlGeneral(xminC, yminC, xmaxC, ymaxC, s)}" +
        s" AND NOT ${shapeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, s)})"
    case RelCrosses =>
      if (shapeDim(s) >= 2) "FALSE"
      else s"(${shapeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, s)}" +
        s" AND NOT ${shapeInClosedBoxSql(xminC, yminC, xmaxC, ymaxC, s)})"
    case RelOverlaps =>
      val polys = mergedPolys(s)
      if (polys.isEmpty) "FALSE"
      else {
        val ps = Shape.PolyS(polys)
        s"(${shapeMeetsOpenBoxSql(xminC, yminC, xmaxC, ymaxC, ps)}" +
          s" AND NOT ${boxWithinGeomSql(xminC, yminC, xmaxC, ymaxC, polys)}" +
          s" AND NOT ${shapeInClosedBoxSql(xminC, yminC, xmaxC, ymaxC, ps)})"
      }
    case RelWithin =>
      val polys = mergedPolys(s)
      if (polys.isEmpty) "FALSE"
      else boxWithinGeomSql(xminC, yminC, xmaxC, ymaxC, polys)
    case other => throw new IllegalArgumentException(s"bad box rel: $other")
  }

  /** Closed box ∩ shape SQL for ARBITRARY polygons (parity-form; the
    * convex-SAT [[boxShapeSql]] stays the independent oracle of the
    * legacy gates): corner-in-region, vertex-in-box, or edge-crossing —
    * the same decomposition as the [[boxIntersectsGeom]] kernel, with
    * the closed-clip variant of the open-box edge test (an edge meeting
    * the closed box in more than a point). Exactness note: an edge
    * meeting the closed box does so either across the interior (open
    * test fires), along the boundary, or at a single touch point; the
    * latter two imply a ring VERTEX or box corner contact that the
    * other disjuncts catch for valid rings, except an edge sliding
    * along a box edge without endpoints inside — covered by the
    * vertex-in-box bounds being boundary-inclusive.
    */
  def boxShapeSqlGeneral(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                         s: Shape): String = s match {
    case Shape.PointS(px, py) =>
      s"($px >= $xminC AND $px <= $xmaxC AND $py >= $yminC AND $py <= $ymaxC)"
    case Shape.MultiPointS(ps) =>
      ps.grouped(2).map { case Array(px, py) =>
        s"($px >= $xminC AND $px <= $xmaxC AND $py >= $yminC AND $py <= $ymaxC)"
      }.mkString("(", " OR ", ")")
    case Shape.LinesS(paths) =>
      paths.toSeq.flatMap { path =>
        path.grouped(2).toSeq.sliding(2).map { case Seq(Array(ax, ay), Array(bx, by)) =>
          segBoxSatSql(xminC, yminC, xmaxC, ymaxC, ax, ay, bx, by)
        }
      }.mkString("(", " OR ", ")")
    case Shape.PolyS(geom) =>
      val corners = Seq((xminC, yminC), (xmaxC, yminC), (xmaxC, ymaxC), (xminC, ymaxC))
      val cornerIn = corners.map { case (px, py) => inClosedGeomSql(px, py, geom) }
      val vertIn = allRingEdges(geom).map { case (ax, ay, _, _) =>
        s"($ax >= $xminC AND $ax <= $xmaxC AND $ay >= $yminC AND $ay <= $ymaxC)"
      }
      val edgeCross = allRingEdges(geom).map { case (ax, ay, bx, by) =>
        segBoxSatSql(xminC, yminC, xmaxC, ymaxC, ax, ay, bx, by)
      }
      (cornerIn ++ vertIn ++ edgeCross).mkString("(", " OR ", ")")
    case Shape.CollS(parts) =>
      parts.map(boxShapeSqlGeneral(xminC, yminC, xmaxC, ymaxC, _))
        .mkString("(", " OR ", ")")
  }

  /** Point-geometry DE-9IM relation as oracle SQL — mirrors
    * [[pointRelShape]].
    */
  def pointRelShapeSql(lonC: String, latC: String, s: Shape, rel: Int): String = rel match {
    case RelContains | RelEquals => shapeEqualsPointSql(lonC, latC, s)
    case RelTouches =>
      s"(${pointClosedShapeSql(lonC, latC, s)}" +
        s" AND NOT ${pointInteriorShapeSql(lonC, latC, s)})"
    case RelCrosses | RelOverlaps => "FALSE"
    case other => throw new IllegalArgumentException(s"bad point rel: $other")
  }

  private def shapeEqualsPointSql(lonC: String, latC: String, s: Shape): String = s match {
    case Shape.PointS(px, py) => s"($lonC = $px AND $latC = $py)"
    case Shape.MultiPointS(ps) =>
      ps.grouped(2).map { case Array(px, py) => s"($lonC = $px AND $latC = $py)" }
        .mkString("(", " AND ", ")")
    case Shape.CollS(parts) if parts.nonEmpty =>
      parts.map(shapeEqualsPointSql(lonC, latC, _)).mkString("(", " AND ", ")")
    case _ => "FALSE"
  }

  def pointClosedShapeSql(lonC: String, latC: String, s: Shape): String = s match {
    case Shape.PolyS(geom)  => inClosedGeomSql(lonC, latC, geom)
    case Shape.CollS(parts) =>
      parts.map(pointClosedShapeSql(lonC, latC, _)).mkString("(", " OR ", ")")
    case other => pointShapeSql(lonC, latC, other)
  }

  private def pointInteriorShapeSql(lonC: String, latC: String, s: Shape): String = s match {
    case _: Shape.PointS | _: Shape.MultiPointS => pointShapeSql(lonC, latC, s)
    case Shape.LinesS(paths) =>
      val odd = oddEndpoints(paths)
      val notBoundary =
        if (odd.isEmpty) "TRUE"
        else "NOT " + odd.map { case (px, py) => s"($lonC = $px AND $latC = $py)" }
          .mkString("(", " OR ", ")")
      s"(${pointShapeSql(lonC, latC, s)} AND $notBoundary)"
    case Shape.PolyS(geom) =>
      s"(NOT ${onGeomBoundarySql(lonC, latC, geom)} AND ${pointInGeomSql(lonC, latC, geom)})"
    case Shape.CollS(parts) =>
      parts.map(pointInteriorShapeSql(lonC, latC, _)).mkString("(", " OR ", ")")
  }

  /** STRICT variant of [[boxConvexSatSql]]: open-interior intersection
    * of the box with a CONVEX CCW ring — projections must overlap
    * STRICTLY on every candidate axis (touching projections = boundary
    * contact only). Used by independent within-oracles of the form
    * `within(hull \\ notch) ⇔ corners ∈ hull ∧ ¬strictSAT(box, notch)`.
    */
  def boxConvexSatStrictSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                            ring: Array[Double]): String = {
    val n = ring.length / 2
    val xs = (0 until n).map(i => ring(2 * i))
    val ys = (0 until n).map(i => ring(2 * i + 1))
    val envTest =
      s"$xminC < ${xs.max} AND $xmaxC > ${xs.min} AND $yminC < ${ys.max} AND $ymaxC > ${ys.min}"
    val edgeTests = (0 until n).map { i =>
      val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
      val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
      val nx = -(y2 - y1); val ny = x2 - x1
      val projs = (0 until n).map(k => nx * ring(2 * k) + ny * ring(2 * k + 1))
      val pmin = projs.min; val pmax = projs.max
      val bmin = s"(least($nx * $xminC, $nx * $xmaxC) + least($ny * $yminC, $ny * $ymaxC))"
      val bmax = s"(greatest($nx * $xminC, $nx * $xmaxC) + greatest($ny * $yminC, $ny * $ymaxC))"
      s"$bmin < $pmax AND $bmax > $pmin"
    }
    (envTest +: edgeTests).mkString("(", " AND ", ")")
  }

  // =================================================================
  // TRUE-POLYGON row-side relations (r11): the item's footprint as the
  // DECODED ring set, not its envelope box. The reference evaluates
  // ST_Intersects on whatever WKB the file carries — rotated
  // quadrilaterals and concave scene outlines included
  // (database_logic.py:418-448; utilities.py:139-147 round-trips them).
  // The box kernels above are exact only for axis-aligned footprints;
  // these generalize every relation to an arbitrary polygon row side
  // (the envelope stays the pushdown-able prune). Same primitive set:
  // closed membership (parity OR boundary), open-region segment tests
  // (exact Cyrus-Beck clip for a convex row ring; an exact
  // crossing-parameter partition sampler for the general case),
  // vertex-coverage, and interior witnesses.
  // =================================================================

  /** Single convex ring of a polygon set, normalized CCW — the fast-path
    * key for the open-segment tests (item footprints are typically
    * convex quads).
    */
  def convexRingOf(geom: Array[Array[Array[Double]]]): Array[Double] = {
    if (geom.length != 1 || geom(0).length != 1) return null
    val r = geom(0)(0)
    if (isConvexCcw(r)) r
    else {
      val n = r.length / 2
      val rev = new Array[Double](r.length)
      var i = 0
      while (i < n) {
        rev(2 * i) = r(2 * (n - 1 - i)); rev(2 * i + 1) = r(2 * (n - 1 - i) + 1)
        i += 1
      }
      if (isConvexCcw(rev)) rev else null
    }
  }

  /** Strictly-interior membership (parity AND not-on-boundary) — exact
    * everywhere, including points exactly on ring edges.
    */
  def strictInGeom(x: Double, y: Double, geom: Array[Array[Array[Double]]]): Boolean =
    !onGeomBoundary(x, y, geom) && containsGeom(x, y, geom)

  /** Does segment a→b meet the OPEN interior of a CONVEX CCW ring?
    * Exact Cyrus-Beck: clip [0,1] by each edge half-plane (f_i(p) ≥ 0
    * inside, f affine along the segment); the open intersection is
    * nonempty iff the clipped interval is non-degenerate AND its
    * midpoint is STRICTLY inside every half-plane (a segment sliding
    * along an edge clips to an interval whose points all have f_i = 0 —
    * boundary only). Parallel-outside edges need no special case: the
    * midpoint test rejects them. Static — called from generated code
    * via the general dispatcher.
    */
  def segIntersectsOpenConvex(ax: Double, ay: Double, bx: Double, by: Double,
                              ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    val dx = bx - ax; val dy = by - ay
    var t0 = 0.0; var t1 = 1.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val ex = ring(2 * j) - ring(2 * i); val ey = ring(2 * j + 1) - ring(2 * i + 1)
      val fa = ex * (ay - ring(2 * i + 1)) - ey * (ax - ring(2 * i))
      val fd = ex * dy - ey * dx
      if (fd > 0) { val t = -fa / fd; if (t > t0) t0 = t }
      else if (fd < 0) { val t = -fa / fd; if (t < t1) t1 = t }
      i += 1
    }
    if (t1 <= t0) return false
    val tm = (t0 + t1) / 2
    i = 0
    while (i < n) {
      val j = (i + 1) % n
      val ex = ring(2 * j) - ring(2 * i); val ey = ring(2 * j + 1) - ring(2 * i + 1)
      val fa = ex * (ay - ring(2 * i + 1)) - ey * (ax - ring(2 * i))
      val fd = ex * dy - ey * dx
      if (fa + tm * fd <= 0) return false
      i += 1
    }
    true
  }

  /** Crossing parameters of segment a→b against every ring edge of
    * `geom` (plus 0 and 1), sorted — the partition of the segment into
    * subintervals that each lie in ONE face of the arrangement. Midpoint
    * membership per subinterval then decides open/closed coverage
    * exactly (the candidate set is a superset of the true boundary
    * crossings; extra candidates only refine the partition).
    */
  private def segCrossParams(ax: Double, ay: Double, bx: Double, by: Double,
                             geom: Array[Array[Array[Double]]]): Array[Double] = {
    val dx = bx - ax; val dy = by - ay
    val buf = scala.collection.mutable.ArrayBuffer(0.0, 1.0)
    var p = 0
    while (p < geom.length) {
      val rings = geom(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        val n = ring.length / 2
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          val cx = ring(2 * i); val cy = ring(2 * i + 1)
          val ex = ring(2 * j) - cx; val ey = ring(2 * j + 1) - cy
          val denom = dx * ey - dy * ex
          if (denom != 0) {
            // seg param where the two supporting lines meet; keep it if
            // it also lies within the EDGE's span (u in [0,1])
            val t = ((cx - ax) * ey - (cy - ay) * ex) / denom
            val u = if (ex != 0) (ax + t * dx - cx) / ex
                    else if (ey != 0) (ay + t * dy - cy) / ey else -1.0
            if (t > 0 && t < 1 && u >= 0 && u <= 1) buf += t
          } else if (orient(ax, ay, bx, by, cx, cy) == 0) {
            // collinear edge: its endpoints partition the segment
            val tc = if (dx != 0) (cx - ax) / dx else if (dy != 0) (cy - ay) / dy else 0.0
            val td = if (dx != 0) (ring(2 * j) - ax) / dx
                     else if (dy != 0) (ring(2 * j + 1) - ay) / dy else 0.0
            if (tc > 0 && tc < 1) buf += tc
            if (td > 0 && td < 1) buf += td
          }
          i += 1
        }
        r += 1
      }
      p += 1
    }
    buf.distinct.sorted.toArray
  }

  /** Does segment a→b meet the OPEN region of an arbitrary polygon set?
    * Convex fast path = Cyrus-Beck; general path = crossing-parameter
    * partition + strict midpoint membership per subinterval.
    */
  def segMeetsOpenGeom(ax: Double, ay: Double, bx: Double, by: Double,
                       geom: Array[Array[Array[Double]]]): Boolean = {
    val cr = convexRingOf(geom)
    if (cr != null) return segIntersectsOpenConvex(ax, ay, bx, by, cr)
    val ts = segCrossParams(ax, ay, bx, by, geom)
    var i = 0
    while (i + 1 < ts.length) {
      val tm = (ts(i) + ts(i + 1)) / 2
      if (strictInGeom(ax + tm * (bx - ax), ay + tm * (by - ay), geom)) return true
      i += 1
    }
    false
  }

  /** Is segment a→b entirely within the CLOSED region? Convex fast path:
    * endpoints in the closed convex region suffice; general path: both
    * endpoints and every subinterval midpoint in the closed region.
    */
  def segInClosedGeom(ax: Double, ay: Double, bx: Double, by: Double,
                      geom: Array[Array[Array[Double]]]): Boolean = {
    if (!inClosedGeom(ax, ay, geom) || !inClosedGeom(bx, by, geom)) return false
    if (convexRingOf(geom) != null) return true
    val ts = segCrossParams(ax, ay, bx, by, geom)
    var i = 0
    while (i + 1 < ts.length) {
      val tm = (ts(i) + ts(i + 1)) / 2
      if (!inClosedGeom(ax + tm * (bx - ax), ay + tm * (by - ay), geom)) return false
      i += 1
    }
    true
  }

  /** A strictly-interior witness point of polygon `rings` (shell +
    * holes). Centroid first (the convex/typical case), then midpoints of
    * shell-vertex pairs, then shell-vertex triangle centroids — any
    * valid polygon with nonempty interior yields one.
    */
  def interiorPointOf(rings: Array[Array[Double]]): (Double, Double) = {
    val geom = Array(rings)
    val shell = rings(0)
    val n = shell.length / 2
    var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < n) { cx += shell(2 * i); cy += shell(2 * i + 1); i += 1 }
    cx /= n; cy /= n
    if (strictInGeom(cx, cy, geom)) return (cx, cy)
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val mx = (shell(2 * i) + shell(2 * j)) / 2
        val my = (shell(2 * i + 1) + shell(2 * j + 1)) / 2
        if (strictInGeom(mx, my, geom)) return (mx, my)
        var k = j + 1
        while (k < n) {
          val tx = (shell(2 * i) + shell(2 * j) + shell(2 * k)) / 3
          val ty = (shell(2 * i + 1) + shell(2 * j + 1) + shell(2 * k + 1)) / 3
          if (strictInGeom(tx, ty, geom)) return (tx, ty)
          k += 1
        }
        j += 1
      }
      i += 1
    }
    // DEGENERATE polygon (zero area — all vertices collinear, or a ring
    // that retraces itself): it HAS no interior, so there is no witness
    // to return. NaN is the typed "empty interior" answer the callers
    // branch on — a relation that needs an interior meet is FALSE for
    // such a part, never a crash (r11 review finding: the DSv2 write
    // path accepts arbitrary WKB bytes, so a degenerate stored footprint
    // must not fail the whole scan).
    (Double.NaN, Double.NaN)
  }

  /** Every vertex of every ring of A in the closed region of B. */
  private def geomVertsInClosedGeom(a: Array[Array[Array[Double]]],
                                    b: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < a.length) {
      val rings = a(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        var i = 0
        while (i < ring.length) {
          if (!inClosedGeom(ring(i), ring(i + 1), b)) return false
          i += 2
        }
        r += 1
      }
      p += 1
    }
    true
  }

  /** Does any ring edge of B meet the OPEN region of A? */
  def geomEdgesMeetOpenGeom(b: Array[Array[Array[Double]]],
                            a: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < b.length) {
      val rings = b(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        val n = ring.length / 2
        var i = 0
        while (i < n) {
          val j = (i + 1) % n
          if (segMeetsOpenGeom(ring(2 * i), ring(2 * i + 1),
              ring(2 * j), ring(2 * j + 1), a)) return true
          i += 1
        }
        r += 1
      }
      p += 1
    }
    false
  }

  /** EXACT A ⊆ closed(B) for arbitrary polygon sets: every A vertex in
    * closed B, a strictly-interior witness of every A part in closed B
    * (rules out the face-ambiguous all-boundary case), and no B edge
    * meets the open region of A (a boundary through Å leaves exterior
    * points inside A — the [[boxWithinGeom]] argument, row side
    * generalized).
    */
  def polyWithinGeom(a: Array[Array[Array[Double]]],
                     b: Array[Array[Array[Double]]]): Boolean =
    geomVertsInClosedGeom(a, b) &&
      a.forall { rings =>
        val (wx, wy) = interiorPointOf(rings)
        // a zero-area part has no interior: interior(A) ∩ interior(B)
        // is empty, so within (which requires the interior meet) is
        // false — decided, not thrown
        !wx.isNaN && inClosedGeom(wx, wy, b)
      } &&
      !geomEdgesMeetOpenGeom(b, a)

  /** EXACT closed A ∩ closed B ≠ ∅ for arbitrary polygon sets: a vertex
    * of one in the closed region of the other, or an edge pair crossing
    * (boundary-inclusive). Complete: overlap without boundary crossing
    * implies containment, whose vertices the first two disjuncts catch.
    */
  def polyIntersectsGeom(a: Array[Array[Array[Double]]],
                         b: Array[Array[Array[Double]]]): Boolean = {
    var p = 0
    while (p < a.length) {
      val rings = a(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        var i = 0
        while (i < ring.length) {
          if (inClosedGeom(ring(i), ring(i + 1), b)) return true
          i += 2
        }
        r += 1
      }
      p += 1
    }
    p = 0
    while (p < b.length) {
      val rings = b(p)
      var r = 0
      while (r < rings.length) {
        val ring = rings(r)
        var i = 0
        while (i < ring.length) {
          if (inClosedGeom(ring(i), ring(i + 1), a)) return true
          i += 2
        }
        r += 1
      }
      p += 1
    }
    val ea = allRingEdges(a); val eb = allRingEdges(b)
    ea.exists { case (ax, ay, bx, by) =>
      eb.exists { case (cx, cy, dx, dy) =>
        segmentsCross(ax, ay, bx, by, cx, cy, dx, dy)
      }
    }
  }

  /** Strict separating-axis test between two convex CCW rings: open
    * interiors intersect iff projections overlap STRICTLY on every edge
    * normal of either ring. DIVISION-FREE — a tangency staged at
    * shared-double coordinates (a vertex exactly on the other's edge
    * line) decides exactly, where a clip-parameter division would round.
    */
  def convexInteriorsMeet(qa: Array[Double], qb: Array[Double]): Boolean = {
    def axes(r: Array[Double]): Seq[(Double, Double)] = {
      val n = r.length / 2
      (0 until n).map { i =>
        val j = (i + 1) % n
        (-(r(2 * j + 1) - r(2 * i + 1)), r(2 * j) - r(2 * i))
      }
    }
    (axes(qa) ++ axes(qb)).forall { case (nx, ny) =>
      def proj(r: Array[Double]): (Double, Double) = {
        var lo = Double.PositiveInfinity; var hi = Double.NegativeInfinity
        var i = 0
        while (i < r.length) {
          val p = nx * r(i) + ny * r(i + 1)
          if (p < lo) lo = p; if (p > hi) hi = p
          i += 2
        }
        (lo, hi)
      }
      val (alo, ahi) = proj(qa); val (blo, bhi) = proj(qb)
      alo < bhi && ahi > blo
    }
  }

  /** Open(A) ∩ open(B) ≠ ∅ for arbitrary polygon sets. Convex-convex
    * pairs decide by [[convexInteriorsMeet]] (exact at staged
    * tangencies); the general case composes an edge of one through the
    * open region of the other (the transversal case) with a
    * strictly-interior witness of one inside the open region of the
    * other (nesting without boundary contact; A = B included — the
    * witness of A is in Å = B̊).
    */
  def geomInteriorsMeet(a: Array[Array[Array[Double]]],
                        b: Array[Array[Array[Double]]]): Boolean = {
    val ca = convexRingOf(a); val cb = convexRingOf(b)
    if (ca != null && cb != null) return convexInteriorsMeet(ca, cb)
    geomEdgesMeetOpenGeom(b, a) || geomEdgesMeetOpenGeom(a, b) ||
      a.exists { rings =>
        val (wx, wy) = interiorPointOf(rings)
        !wx.isNaN && strictInGeom(wx, wy, b) // empty interior meets nothing
      } ||
      b.exists { rings =>
        val (wx, wy) = interiorPointOf(rings)
        !wx.isNaN && strictInGeom(wx, wy, a)
      }
  }

  // ---- shape-target helpers on the polygon row side ----

  /** Closed A ∩ shape (boundary-inclusive), any target type. */
  def polyIntersectsShape(a: Array[Array[Array[Double]]], s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => inClosedGeom(px, py, a)
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) { if (inClosedGeom(ps(i), ps(i + 1), a)) return true; i += 2 }
      false
    case Shape.LinesS(paths) =>
      val edges = allRingEdges(a)
      paths.exists { path =>
        var i = 0
        var hit = false
        while (i + 3 < path.length && !hit) {
          val (ax, ay, bx, by) = (path(i), path(i + 1), path(i + 2), path(i + 3))
          hit = inClosedGeom(ax, ay, a) || inClosedGeom(bx, by, a) ||
            edges.exists { case (cx, cy, dx, dy) =>
              segmentsCross(ax, ay, bx, by, cx, cy, dx, dy)
            }
          i += 2
        }
        hit
      }
    case Shape.PolyS(geom)  => polyIntersectsGeom(a, geom)
    case Shape.CollS(parts) => parts.exists(polyIntersectsShape(a, _))
  }

  /** shape ⊆ closed A, any target type (polygon targets via the general
    * within kernel with the sides swapped).
    */
  def shapeInClosedGeomA(a: Array[Array[Array[Double]]], s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => inClosedGeom(px, py, a)
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) { if (!inClosedGeom(ps(i), ps(i + 1), a)) return false; i += 2 }
      true
    case Shape.LinesS(paths) =>
      paths.forall { path =>
        var i = 0
        var ok = true
        while (i + 3 < path.length && ok) {
          ok = segInClosedGeom(path(i), path(i + 1), path(i + 2), path(i + 3), a)
          i += 2
        }
        ok
      }
    case Shape.PolyS(geom)  => polyWithinGeom(geom, a)
    case Shape.CollS(parts) => parts.forall(shapeInClosedGeomA(a, _))
  }

  /** shape meets the OPEN region of A (interior-contact entry of the
    * DE-9IM matrix): strict membership for points, open-segment tests
    * for lines, symmetric open-open for polygon targets.
    */
  def shapeMeetsOpenGeomA(a: Array[Array[Array[Double]]], s: Shape): Boolean = s match {
    case Shape.PointS(px, py)  => strictInGeom(px, py, a)
    case Shape.MultiPointS(ps) =>
      var i = 0
      while (i < ps.length) { if (strictInGeom(ps(i), ps(i + 1), a)) return true; i += 2 }
      false
    case Shape.LinesS(paths) =>
      paths.exists { path =>
        var i = 0
        var hit = false
        while (i + 3 < path.length && !hit) {
          hit = segMeetsOpenGeom(path(i), path(i + 1), path(i + 2), path(i + 3), a)
          i += 2
        }
        hit
      }
    case Shape.PolyS(geom)  => geomInteriorsMeet(a, geom)
    case Shape.CollS(parts) => parts.exists(shapeMeetsOpenGeomA(a, _))
  }

  // ---- DE-9IM composites on the TRUE polygon footprint ----

  def polyWithinShape(a: Array[Array[Array[Double]]], s: Shape): Boolean = {
    val polys = mergedPolys(s)
    polys.nonEmpty && polyWithinGeom(a, polys)
  }

  def polyContainsShape(a: Array[Array[Array[Double]]], s: Shape): Boolean =
    shapeInClosedGeomA(a, s) && shapeMeetsOpenGeomA(a, s)

  def polyEqualsShape(a: Array[Array[Array[Double]]], s: Shape): Boolean =
    polyWithinShape(a, s) && shapeInClosedGeomA(a, s)

  def polyTouchesShape(a: Array[Array[Array[Double]]], s: Shape): Boolean =
    polyIntersectsShape(a, s) && !shapeMeetsOpenGeomA(a, s)

  def polyCrossesShape(a: Array[Array[Array[Double]]], s: Shape): Boolean =
    shapeDim(s) < 2 &&
      shapeMeetsOpenGeomA(a, s) && !shapeInClosedGeomA(a, s)

  def polyOverlapsShape(a: Array[Array[Array[Double]]], s: Shape): Boolean = {
    val polys = mergedPolys(s)
    polys.nonEmpty && geomInteriorsMeet(a, polys) &&
      !polyWithinGeom(a, polys) && !polyWithinGeom(polys, a)
  }

  /** Dispatch for the polygon-footprint relation kernel — one static
    * entry point so the codegen'd expression stays single-call.
    */
  def polyRelShape(geom: Array[Array[Array[Double]]], s: Shape, rel: Int): Boolean =
    rel match {
      case RelIntersects => polyIntersectsShape(geom, s)
      case RelContains   => polyContainsShape(geom, s)
      case RelEquals     => polyEqualsShape(geom, s)
      case RelTouches    => polyTouchesShape(geom, s)
      case RelCrosses    => polyCrossesShape(geom, s)
      case RelOverlaps   => polyOverlapsShape(geom, s)
      case RelWithin     => polyWithinShape(geom, s)
      case other => throw new IllegalArgumentException(s"bad poly rel: $other")
    }

  /** Relation kernel for a NON-AREAL stored footprint (LineString /
    * MultiLineString / MultiPoint / GeometryCollection of dim < 2)
    * against an areal query shape — the reference's `ST_Intersects
    * (geometry, …)` path is type-agnostic over whatever WKB the row
    * carries (database_logic.py:418-448, utilities.py:13-22), so these
    * footprints must flow through the same relation set. The DE-9IM
    * composites reduce to three primitives the poly-side kernels
    * already provide (meets-closed, meets-open, within-closure), with
    * the QUERY polygon set as the containing geometry:
    *
    *  - intersects: any part meets the closed region
    *  - within:     all parts inside the closure AND some part reaches
    *                the interior (a footprint lying wholly ON the
    *                boundary is NOT within — OGC I(A)∩I(B) ≠ ∅)
    *  - touches:    contact without interior contact
    *  - crosses:    interior contact without containment (the
    *                in-and-out form; defined only for dim(f) < 2)
    *
    * contains / equals / overlaps against an areal target are
    * dimensionally impossible for these footprints → typed refuse, not
    * a silent false.
    */
  def nonArealRelShape(f: Shape, s: Shape, rel: Int): Boolean = {
    val polys = mergedPolys(s)
    if (polys.isEmpty) throw new IllegalArgumentException(
      s"non-areal footprint relations need an areal query shape, got $s")
    rel match {
      case RelIntersects => polyIntersectsShape(polys, f)
      case RelWithin =>
        shapeInClosedGeomA(polys, f) && shapeMeetsOpenGeomA(polys, f)
      case RelTouches =>
        polyIntersectsShape(polys, f) && !shapeMeetsOpenGeomA(polys, f)
      case RelCrosses =>
        if (shapeDim(f) >= 2) throw new IllegalArgumentException(
          "crosses is undefined for area/area operands")
        shapeMeetsOpenGeomA(polys, f) && !shapeInClosedGeomA(polys, f)
      case other => throw new IllegalArgumentException(
        s"relation $other is undefined for a non-areal footprint vs an areal shape")
    }
  }

  /** WKB footprint → relation kernel: decode the stored geometry (the
    * reference's storage format, utilities.py:139-147) and evaluate the
    * relation on the TRUE decoded shape — not its envelope. Type-
    * agnostic like the reference's serializer: polygon footprints take
    * the ring kernels, point footprints the point kernels, and line /
    * multi-point / collection footprints the [[nonArealRelShape]]
    * composites. Static — called from generated code via [[WkbRelShape]].
    */
  def wkbRelShape(b: Array[Byte], s: Shape, rel: Int): Boolean =
    Wkb.toShape(b) match {
      case Shape.PolyS(geom)   => polyRelShape(geom, s, rel)
      case Shape.PointS(x, y)  => pointRelShape(x, y, s, rel)
      case f                   => nonArealRelShape(f, s, rel)
    }

  /** Column builder: WKB footprint column vs constant shape, exact on
    * the decoded rings. Callers keep the envelope columns as the
    * pushdown-able prune in front; this kernel is the exact post-filter.
    */
  def wkbRelShapeCol(wkb: Column, s: Shape, rel: Int): Column =
    GraftBridge.column(WkbRelShape(GraftBridge.expression(wkb), s, rel))

  /** Independent SQL oracle for box ∩ CONVEX CCW ring: separating-axis
    * test. Box axes = envelope interval overlap; each ring edge normal =
    * projection interval overlap, with the ring's projection bounds
    * precomputed driver-side and the box's projection derived from its
    * corner extremes (min/max of n·corner decomposes per axis because
    * the box is axis-aligned).
    */
  def boxConvexSatSql(xminC: String, yminC: String, xmaxC: String, ymaxC: String,
                      ring: Array[Double]): String = {
    val n = ring.length / 2
    val xs = (0 until n).map(i => ring(2 * i))
    val ys = (0 until n).map(i => ring(2 * i + 1))
    val envTest =
      s"$xminC <= ${xs.max} AND $xmaxC >= ${xs.min} AND $yminC <= ${ys.max} AND $ymaxC >= ${ys.min}"
    val edgeTests = (0 until n).map { i =>
      val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
      val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
      val nx = -(y2 - y1); val ny = x2 - x1
      val projs = (0 until n).map(k => nx * ring(2 * k) + ny * ring(2 * k + 1))
      val pmin = projs.min; val pmax = projs.max
      val bmin = s"(least($nx * $xminC, $nx * $xmaxC) + least($ny * $yminC, $ny * $ymaxC))"
      val bmax = s"(greatest($nx * $xminC, $nx * $xmaxC) + greatest($ny * $yminC, $ny * $ymaxC))"
      s"$bmin <= $pmax AND $bmax >= $pmin"
    }
    (envTest +: edgeTests).mkString("(", " AND ", ")")
  }

  // ------------- row-side QUAD oracle SQL (r11, the a88 battery) -------
  // The row geometry is a convex CCW QUADRILATERAL given as column
  // expressions (the rotated footprints), the query shape a constant.
  // These renderers are deliberately a DIFFERENT algorithm from the
  // Scala kernels (separating-axis / half-plane forms vs the kernels'
  // vertex-containment + edge-crossing + clip decompositions), so a
  // kernel bug cannot hide behind a mirrored oracle. SAT completeness:
  // closed convex sets are disjoint iff separated on some edge normal of
  // either polygon; open interiors are disjoint iff some edge-normal
  // axis fails to overlap STRICTLY (the separating line at a touching
  // contact can always be rotated onto an edge of one polygon).

  /** Corner expressions of the row quad (CCW) plus its edge-direction
    * expressions (cos, sin of the rotation) — the two quad SAT axes are
    * (c, s) and (-s, c).
    */
  final case class QuadSql(qx: IndexedSeq[String], qy: IndexedSeq[String],
                           c: String, s: String)

  /** SAT overlap of the quad with a constant convex CCW ring — closed
    * (intersection test) or strict (open-interior intersection test).
    */
  def quadConvexSatSql(q: QuadSql, ring: Array[Double], strict: Boolean): String = {
    val lt = if (strict) "<" else "<="
    val gt = if (strict) ">" else ">="
    val n = ring.length / 2
    def quadProj(nxE: String, nyE: String): (String, String) = {
      val ps = (0 until 4).map(i => s"($nxE * ${q.qx(i)} + $nyE * ${q.qy(i)})")
      (s"least(${ps.mkString(", ")})", s"greatest(${ps.mkString(", ")})")
    }
    // constant axes: the ring's edge normals (ring projection folds here)
    val ringAxes = (0 until n).map { i =>
      val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
      val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
      val nx = -(y2 - y1); val ny = x2 - x1
      val projs = (0 until n).map(k => nx * ring(2 * k) + ny * ring(2 * k + 1))
      val (qmin, qmax) = quadProj(s"($nx)", s"($ny)")
      s"($qmin $lt ${projs.max} AND $qmax $gt ${projs.min})"
    }
    // expression axes: the quad's two edge normals (c, s) and (-s, c)
    val quadAxes = Seq((q.c, q.s), (s"(0.0 - ${q.s})", q.c)).map { case (nxE, nyE) =>
      val (qmin, qmax) = quadProj(nxE, nyE)
      val rs = (0 until n).map(k => s"($nxE * ${ring(2 * k)} + $nyE * ${ring(2 * k + 1)})")
      val rmin = s"least(${rs.mkString(", ")})"
      val rmax = s"greatest(${rs.mkString(", ")})"
      s"($qmin $lt $rmax AND $qmax $gt $rmin)"
    }
    (ringAxes ++ quadAxes).mkString("(", " AND ", ")")
  }

  /** Constant point in the quad: conjunction of the four CCW half-plane
    * cross products (closed: ≥ 0; strict interior: > 0).
    */
  def pointInQuadSql(q: QuadSql, px: Double, py: Double, strict: Boolean): String = {
    val ge = if (strict) ">" else ">="
    (0 until 4).map { i =>
      val j = (i + 1) % 4
      s"(((${q.qx(j)} - ${q.qx(i)}) * ($py - ${q.qy(i)}) - " +
        s"(${q.qy(j)} - ${q.qy(i)}) * ($px - ${q.qx(i)})) $ge 0)"
    }.mkString("(", " AND ", ")")
  }

  /** Every constant vertex in the (closed or open) quad. */
  def constVertsInQuadSql(q: QuadSql, verts: Seq[(Double, Double)],
                          strict: Boolean): String =
    verts.map { case (px, py) => pointInQuadSql(q, px, py, strict) }
      .mkString("(", " AND ", ")")

  /** Constant segment a→b meets the OPEN quad — the Cyrus-Beck clip with
    * sign-agnostic CASE bounds (the quad's edge directions are column
    * expressions, so the per-axis ordering cannot fold driver-side) and
    * the strict affine midpoint test as the final authority.
    */
  def segOpenQuadSql(q: QuadSql, ax: Double, ay: Double,
                     bx: Double, by: Double): String = {
    val dx = bx - ax; val dy = by - ay
    val fas = (0 until 4).map { i =>
      val j = (i + 1) % 4
      val ex = s"(${q.qx(j)} - ${q.qx(i)})"
      val ey = s"(${q.qy(j)} - ${q.qy(i)})"
      (s"($ex * ($ay - ${q.qy(i)}) - $ey * ($ax - ${q.qx(i)}))",
        s"($ex * ($dy) - $ey * ($dx))")
    }
    val los = "0.0" +: fas.map { case (fa, fd) =>
      s"(CASE WHEN $fd > 0 THEN (0.0 - $fa) / $fd ELSE 0.0 END)"
    }
    val his = "1.0" +: fas.map { case (fa, fd) =>
      s"(CASE WHEN $fd < 0 THEN (0.0 - $fa) / $fd ELSE 1.0 END)"
    }
    val t0 = s"greatest(${los.mkString(", ")})"
    val t1 = s"least(${his.mkString(", ")})"
    val tm = s"(($t0 + $t1) / 2)"
    val mids = fas.map { case (fa, fd) => s"($fa + $tm * $fd) > 0" }
    s"($t1 > $t0 AND ${mids.mkString(" AND ")})"
  }
}

/** Arbitrary GeoJSON geometry beyond the polygon family — the internal
  * form [[graft.cql.Cql.SIntersects]] carries (the reference accepts any
  * GeoJSON type via ST_GeomFromGeoJSON, database_logic.py:437-441).
  * Coordinates are flat [x0,y0,x1,y1,…] like the polygon-ring form.
  */
sealed trait Shape extends Serializable

object Shape {
  final case class PointS(x: Double, y: Double) extends Shape
  /** MultiPoint, flat pairs. */
  final case class MultiPointS(pts: Array[Double]) extends Shape
  /** LineString (one path) / MultiLineString (several) — open polylines. */
  final case class LinesS(paths: Array[Array[Double]]) extends Shape
  /** Polygon / MultiPolygon in the established rings form
    * (polygon → rings, ring 0 outer shell, 1.. holes).
    */
  final case class PolyS(geom: Array[Array[Array[Double]]]) extends Shape
  /** GeometryCollection. */
  final case class CollS(parts: Array[Shape]) extends Shape

  /** OGC 21-065 BBOX spatial literal → the polygon-family form every
    * kernel already handles. 4 numbers [W,S,E,N] or 6 (z-interval is
    * DROPPED per spec: [W,S,zmin,E,N,zmax]). W > E means the box crosses
    * the antimeridian and is the UNION of two boxes ([W,180] ∪ [-180,E])
    * — same split rule as the search `bbox` param (A61), so the two bbox
    * surfaces cannot disagree.
    */
  def fromBbox(nums: Array[Double]): Shape = {
    val (w, s, e, n) = nums.length match {
      case 4 => (nums(0), nums(1), nums(2), nums(3))
      case 6 => (nums(0), nums(1), nums(3), nums(4))
      case k => throw new IllegalArgumentException(
        s"bbox literal needs 4 or 6 numbers, got $k")
    }
    def rect(x0: Double, x1: Double): Array[Array[Double]] =
      Array(Array(x0, s, x1, s, x1, n, x0, n))
    if (w <= e) PolyS(Array(rect(w, e)))
    else PolyS(Array(rect(w, 180.0), rect(-180.0, e)))
  }

  /** ANTIMERIDIAN + POLE normalization for QUERY polygon rings (r11 —
    * the polygon analogue of [[fromBbox]]'s W > E split, which covers
    * BBOX literals only). The PINNED semantics, never a silent guess:
    *  - every lon already in [-180, 180] → the ring is PLANAR exactly
    *    as written (reference parity: ST_GeomFromGeoJSON is planar, so
    *    a wide ring is a wide planar polygon, NOT an implied
    *    antimeridian crossing);
    *  - any |lon| > 180 (RFC 7946 §3.1.9's "unwrapped" authoring form,
    *    e.g. a ring running 170 → 190) → the polygon FOLDS into the
    *    union of its in-range pieces: each ±360° translate is clipped
    *    to the [-180, 180] strip (Sutherland–Hodgman against the two
    *    vertical halfplanes — exact for the strip since it is convex),
    *    holes clipped with their shell so parity semantics carry over;
    *  - any |lat| > 90 → TYPED refusal: latitude does not wrap, a
    *    planar ring beyond the poles has no defined meaning (a polar
    *    cap is a ring touching ±90 — already planar and in-domain);
    *  - |lon| > 540 → typed refusal (more than one wrap is authoring
    *    error, not antimeridian form).
    */
  def normalizePoly(geom: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
    geom.foreach(_.foreach { r =>
      var i = 1
      while (i < r.length) {
        val lat = r(i)
        if (lat > 90.0 || lat < -90.0) throw new IllegalArgumentException(
          f"polygon latitude $lat%.6g is outside [-90, 90]: latitude does not " +
            "wrap — express a polar cap as a ring touching the pole line")
        val lon = r(i - 1)
        if (lon > 540.0 || lon < -540.0) throw new IllegalArgumentException(
          f"polygon longitude $lon%.6g is outside [-540, 540] — not the RFC " +
            "7946 unwrapped antimeridian form")
        i += 2
      }
    })
    def inRange(rings: Array[Array[Double]]): Boolean =
      rings.forall { r =>
        var i = 0; var ok = true
        while (ok && i < r.length) { ok = r(i) >= -180.0 && r(i) <= 180.0; i += 2 }
        ok
      }
    // Sutherland–Hodgman against the vertical halfplane x≤c / x≥c
    def clipHalf(ring: Array[Double], c: Double, keepLe: Boolean): Array[Double] = {
      val n = ring.length / 2
      if (n == 0) return ring
      val out = Array.newBuilder[Double]
      def inside(x: Double) = if (keepLe) x <= c else x >= c
      var px = ring(2 * (n - 1)); var py = ring(2 * n - 1)
      var i = 0
      while (i < n) {
        val x = ring(2 * i); val y = ring(2 * i + 1)
        if (inside(x)) {
          if (!inside(px)) {
            val t = (c - px) / (x - px); out += c; out += py + t * (y - py)
          }
          out += x; out += y
        } else if (inside(px)) {
          val t = (c - px) / (x - px); out += c; out += py + t * (y - py)
        }
        px = x; py = y
        i += 1
      }
      out.result()
    }
    if (geom.forall(inRange)) geom
    else geom.flatMap { rings =>
      if (inRange(rings)) Seq(rings)
      else Seq(-360.0, 0.0, 360.0).flatMap { k =>
        val shifted = rings.map { r =>
          val s = new Array[Double](r.length)
          var i = 0
          while (i < r.length) { s(i) = r(i) + k; s(i + 1) = r(i + 1); i += 2 }
          s
        }
        val clipped = shifted
          .map(r => clipHalf(clipHalf(r, 180.0, keepLe = true), -180.0, keepLe = false))
        if (clipped.isEmpty || clipped.head.length < 6) None
        else Some(clipped.filter(_.length >= 6))
      }
    }
  }
}

/** Codegen'd DE-9IM relation of the item POINT geometry vs a constant
  * shape — the one point kernel: intersects (ray-cast parity for
  * polygons, equality and on-segment for the rest) and
  * contains/equals/touches/crosses/overlaps, by [[Geo.RelIntersects]]
  * code. The shape is a per-query reference object; one static call per
  * row inside whole-stage codegen, no UDF boxing (SURVEY.md §5).
  */
case class PointRelShape(left: Expression, right: Expression,
                         shape: Shape, rel: Int)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_rel_shape"

  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    Geo.pointRelShape(lon.asInstanceOf[Double], lat.asInstanceOf[Double], shape, rel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val shapeRef = ctx.addReferenceObj("shape", shape, "graft.spatial.Shape")
    nullSafeCodeGen(ctx, ev, (lonCode, latCode) =>
      s"${ev.value} = graft.spatial.Geo.pointRelShape($lonCode, $latCode, $shapeRef, $rel);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PointRelShape =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd DE-9IM relation of the item's footprint BOX vs a constant
  * shape — the one box kernel: intersects (corner containment,
  * vertex-in-box, edge crossings) and within/contains/equals/touches/
  * crosses/overlaps.
  */
case class BoxRelShape(first: Expression, second: Expression,
                       third: Expression, fourth: Expression,
                       shape: Shape, rel: Int)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "box_rel_shape"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Geo.boxRelShape(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], shape, rel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val shapeRef = ctx.addReferenceObj("shape", shape, "graft.spatial.Shape")
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.spatial.Geo.boxRelShape($a, $b, $c, $d, $shapeRef, $rel);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): BoxRelShape =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Codegen'd DE-9IM relation of the item's TRUE footprint geometry (the
  * stored WKB ring set, decoded per row — reference exactness on rotated
  * and concave scene outlines, database_logic.py:418-448) vs a constant
  * shape. rel ∈ {[[Geo.RelIntersects]], contains…within}; one static
  * call per row inside whole-stage codegen, envelope prune AND'd by
  * callers.
  */
case class WkbRelShape(child: Expression, shape: Shape, rel: Int)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "wkb_rel_shape"

  override protected def nullSafeEval(b: Any): Any =
    Geo.wkbRelShape(b.asInstanceOf[Array[Byte]], shape, rel)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val shapeRef = ctx.addReferenceObj("shape", shape, "graft.spatial.Shape")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.spatial.Geo.wkbRelShape($c, $shapeRef, $rel);")
  }

  override protected def withNewChildInternal(newChild: Expression): WkbRelShape =
    copy(child = newChild)
}
