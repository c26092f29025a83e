package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.spatial.{Geo, Shape}

class GeoSpec extends AnyFunSuite {

  test("rayCast unit: square membership") {
    val sq = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0)
    assert(Geo.rayCast(5.0, 5.0, sq))
    assert(!Geo.rayCast(15.0, 5.0, sq))
    assert(!Geo.rayCast(-1.0, -1.0, sq))
  }

  test("envelope") {
    val tri = Array(0.0, 1.0, 4.0, -2.0, 2.0, 5.0)
    assert(Geo.envelope(tri) == ((0.0, -2.0, 4.0, 5.0)))
  }

  test("codegen'd PointRelShape intersects agrees with half-plane convex form on data") {
    val s = TestSpark.spark
    val items = Tables.items(s, TestSpark.sf)
    val hex = Array(80.137, 10.223, 50.139, 55.177, -9.861, 55.177,
      -39.859, 10.223, -9.861, -34.731, 50.139, -34.731)
    val viaRayCast = items
      .where(Geo.pointRelShapeCol(col("lon"), col("lat"),
        Shape.PolyS(Array(Array(hex))), Geo.RelIntersects))
      .select("id").collect().map(_.getString(0)).toSet
    val viaHalfPlanes = items
      .where(Geo.convexIntersectsColumn(col("lon"), col("lat"), hex))
      .select("id").collect().map(_.getString(0)).toSet
    assert(viaRayCast == viaHalfPlanes)
    assert(viaRayCast.nonEmpty)
  }

  test("non-convex polygon: ray cast handles concavity") {
    // L-shape: point in the notch is OUTSIDE
    val l = Array(0.0, 0.0, 10.0, 0.0, 10.0, 4.0, 4.0, 4.0, 4.0, 10.0, 0.0, 10.0)
    assert(Geo.rayCast(2.0, 8.0, l))   // in the vertical arm
    assert(Geo.rayCast(8.0, 2.0, l))   // in the horizontal arm
    assert(!Geo.rayCast(8.0, 8.0, l))  // in the notch
  }

  // ---- arbitrary geometry kernels (A33-A36) ----

  private val concaveRing = Array(
    -60.137, -40.223, 30.139, -40.223, 30.139, 10.177,
    -10.861, 20.223, -10.861, 45.223, -60.137, 45.223)
  private val piece1 = Array(-60.137, -40.223, 30.139, -40.223, 30.139, 10.177, -10.861, 20.223)
  private val piece2 = Array(-60.137, -40.223, -10.861, 20.223, -10.861, 45.223, -60.137, 45.223)

  private def inConvex(x: Double, y: Double, ring: Array[Double]): Boolean = {
    val n = ring.length / 2
    (0 until n).forall { i =>
      val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
      val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
      (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) >= 0
    }
  }

  test("containsGeom == union of convex pieces on a 100k random sample") {
    val geom = Array(Array(concaveRing))
    val rnd = new scala.util.Random(7)
    var i = 0
    while (i < 100000) {
      val x = rnd.nextDouble() * 130 - 80
      val y = rnd.nextDouble() * 120 - 60
      val a = Geo.containsGeom(x, y, geom)
      val b = inConvex(x, y, piece1) || inConvex(x, y, piece2)
      assert(a == b, s"mismatch at ($x,$y)")
      i += 1
    }
  }

  test("containsGeom: hole and multipolygon semantics") {
    val outer = Array(0.0, 0.0, 20.0, 0.0, 20.0, 20.0, 0.0, 20.0)
    val hole  = Array(5.0, 5.0, 15.0, 5.0, 15.0, 15.0, 5.0, 15.0)
    val far   = Array(100.0, 0.0, 110.0, 0.0, 110.0, 10.0, 100.0, 10.0)
    val geom = Array(Array(outer, hole), Array(far))
    assert(Geo.containsGeom(2.0, 2.0, geom))    // in shell, not in hole
    assert(!Geo.containsGeom(10.0, 10.0, geom)) // in hole
    assert(Geo.containsGeom(105.0, 5.0, geom))  // in second polygon
    assert(!Geo.containsGeom(50.0, 5.0, geom))  // between polygons
  }

  test("boxIntersectsGeom == separating-axis decomposition on random boxes") {
    val geom = Array(Array(concaveRing))
    def satBox(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
               ring: Array[Double]): Boolean = {
      val n = ring.length / 2
      val xs = (0 until n).map(i => ring(2 * i))
      val ys = (0 until n).map(i => ring(2 * i + 1))
      if (!(xmin <= xs.max && xmax >= xs.min && ymin <= ys.max && ymax >= ys.min)) return false
      (0 until n).forall { i =>
        val x1 = ring(2 * i); val y1 = ring(2 * i + 1)
        val x2 = ring(2 * ((i + 1) % n)); val y2 = ring(2 * ((i + 1) % n) + 1)
        val nx = -(y2 - y1); val ny = x2 - x1
        val projs = (0 until n).map(k => nx * ring(2 * k) + ny * ring(2 * k + 1))
        val bmin = math.min(nx * xmin, nx * xmax) + math.min(ny * ymin, ny * ymax)
        val bmax = math.max(nx * xmin, nx * xmax) + math.max(ny * ymin, ny * ymax)
        bmin <= projs.max && bmax >= projs.min
      }
    }
    val rnd = new scala.util.Random(11)
    var i = 0
    while (i < 50000) {
      val cx = rnd.nextDouble() * 130 - 80
      val cy = rnd.nextDouble() * 120 - 60
      val w = rnd.nextDouble() * 1.1 + 0.1
      val h = rnd.nextDouble() * 0.7 + 0.1
      val a = Geo.boxIntersectsGeom(cx - w, cy - h, cx + w, cy + h, geom)
      val b = satBox(cx - w, cy - h, cx + w, cy + h, piece1) ||
              satBox(cx - w, cy - h, cx + w, cy + h, piece2)
      assert(a == b, s"mismatch box center ($cx,$cy) half ($w,$h)")
      i += 1
    }
  }

  test("boxIntersectsGeom: box fully containing the polygon intersects") {
    val tri = Array(1.0, 1.0, 3.0, 1.0, 2.0, 3.0)
    assert(Geo.boxIntersectsGeom(0.0, 0.0, 10.0, 10.0, Array(Array(tri))))
    // box strictly inside a hole does NOT intersect
    val outer = Array(0.0, 0.0, 20.0, 0.0, 20.0, 20.0, 0.0, 20.0)
    val hole  = Array(5.0, 5.0, 15.0, 5.0, 15.0, 15.0, 5.0, 15.0)
    assert(!Geo.boxIntersectsGeom(8.0, 8.0, 12.0, 12.0, Array(Array(outer, hole))))
    // box inside the shell ring (no hole) intersects
    assert(Geo.boxIntersectsGeom(8.0, 8.0, 12.0, 12.0, Array(Array(outer))))
  }

  test("boxIntersectsGeom: boundary TOUCHES count as intersecting (ST_Intersects semantics)") {
    val tri = Array(10.0, 0.0, 20.0, 0.0, 15.0, 10.0)
    val geom = Array(Array(tri))
    // box corner exactly ON a polygon edge (no vertex containment either way)
    assert(Geo.boxIntersectsGeom(5.0, -5.0, 12.5, 5.0, geom))
    // box edge sharing exactly one point with a polygon vertex
    assert(Geo.boxIntersectsGeom(15.0, 10.0, 25.0, 20.0, geom))
    // collinear edge overlap along the base
    assert(Geo.boxIntersectsGeom(12.0, -3.0, 18.0, 0.0, geom))
    // clearly separated stays false
    assert(!Geo.boxIntersectsGeom(30.0, 30.0, 40.0, 40.0, geom))
  }

  test("codegen'd PointRelShape intersects agrees with interpreted containsGeom on data") {
    val s = TestSpark.spark
    val items = Tables.items(s, TestSpark.sf)
    val geom = Array(Array(concaveRing))
    val viaExpr = items
      .where(Geo.pointRelShapeCol(col("lon"), col("lat"), Shape.PolyS(geom),
        Geo.RelIntersects))
      .select("id").collect().map(_.getString(0)).toSet
    val viaDriver = items.select("id", "lon", "lat").collect()
      .filter(r => Geo.containsGeom(r.getDouble(1), r.getDouble(2), geom))
      .map(_.getString(0)).toSet
    assert(viaExpr == viaDriver)
    assert(viaExpr.nonEmpty)
  }

  // ---------------------------------------- non-polygon Shape kernels

  test("pointIntersectsShape: Point/MultiPoint equality, on-segment, collection") {
    assert(Geo.pointIntersectsShape(1.5, 2.5, Shape.PointS(1.5, 2.5)))
    assert(!Geo.pointIntersectsShape(1.5, 2.5001, Shape.PointS(1.5, 2.5)))
    assert(Geo.pointIntersectsShape(3.0, 4.0, Shape.MultiPointS(Array(9.0, 9.0, 3.0, 4.0))))
    // midpoint and endpoint of a segment are ON it; off-line point is not
    val line = Shape.LinesS(Array(Array(0.0, 0.0, 10.0, 10.0, 20.0, 10.0)))
    assert(Geo.pointIntersectsShape(5.0, 5.0, line))
    assert(Geo.pointIntersectsShape(10.0, 10.0, line))
    assert(Geo.pointIntersectsShape(15.0, 10.0, line))
    assert(!Geo.pointIntersectsShape(5.0, 5.1, line))
    assert(!Geo.pointIntersectsShape(25.0, 10.0, line)) // past the last vertex
    val coll = Shape.CollS(Array(Shape.PointS(-1.0, -1.0), line))
    assert(Geo.pointIntersectsShape(5.0, 5.0, coll))
    assert(Geo.pointIntersectsShape(-1.0, -1.0, coll))
    assert(!Geo.pointIntersectsShape(-1.0, 1.0, coll))
  }

  test("segIntersectsBox == independent SAT formulation on random segment/box pairs") {
    // SAT reference: disjoint iff separated along x, y, or the segment's
    // normal — the same maths the SQL oracle renders (segBoxSatSql), so
    // the kernel's endpoint+edge-crossing decomposition is cross-checked
    // against an independent formulation.
    def sat(ax: Double, ay: Double, bx: Double, by: Double,
            xmin: Double, ymin: Double, xmax: Double, ymax: Double): Boolean = {
      val bboxOk = xmin <= math.max(ax, bx) && xmax >= math.min(ax, bx) &&
        ymin <= math.max(ay, by) && ymax >= math.min(ay, by)
      val signs = Seq((xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax))
        .map { case (cx, cy) => (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) }
      bboxOk && signs.min <= 0 && signs.max >= 0
    }
    val rnd = new scala.util.Random(4242)
    var disagreements = 0
    var hits = 0
    (1 to 4000).foreach { _ =>
      val (ax, ay, bx, by) = (rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10,
        rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10)
      val (cx, cy) = (rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 20 - 10)
      val (w, h) = (rnd.nextDouble() * 5, rnd.nextDouble() * 5)
      val got = Geo.segIntersectsBox(ax, ay, bx, by, cx - w, cy - h, cx + w, cy + h)
      if (got) hits += 1
      if (got != sat(ax, ay, bx, by, cx - w, cy - h, cx + w, cy + h)) disagreements += 1
    }
    assert(disagreements == 0)
    assert(hits > 100) // the sample actually exercises both outcomes
  }

  test("boxIntersectsShape: line crossing a box with no endpoint inside") {
    val diag = Shape.LinesS(Array(Array(-10.0, -10.0, 10.0, 10.0)))
    assert(Geo.boxIntersectsShape(-1.0, -1.0, 1.0, 1.0, diag))
    assert(!Geo.boxIntersectsShape(5.0, -5.0, 8.0, -2.0, diag))
    assert(Geo.boxIntersectsShape(0.5, 0.5, 3.0, 1.5, Shape.PointS(1.0, 1.0)))
    assert(!Geo.boxIntersectsShape(0.5, 0.5, 3.0, 1.5, Shape.PointS(0.0, 1.0)))
  }

  test("codegen'd PointRelShape / BoxRelShape intersects agree with driver kernels on data") {
    val s = TestSpark.spark
    val items = Tables.items(s, TestSpark.sf)
    // vertical strip polyline + the concave polygon in one collection
    val shape = Shape.CollS(Array(
      Shape.LinesS(Array(Array(-150.0, -80.0, -100.0, 80.0, -60.0, -50.0))),
      Shape.PolyS(Array(Array(concaveRing)))))
    val viaExpr = items
      .where(Geo.pointRelShapeCol(col("lon"), col("lat"), shape, Geo.RelIntersects))
      .select("id").collect().map(_.getString(0)).toSet
    val viaDriver = items.select("id", "lon", "lat").collect()
      .filter(r => Geo.pointIntersectsShape(r.getDouble(1), r.getDouble(2), shape))
      .map(_.getString(0)).toSet
    assert(viaExpr == viaDriver)
    assert(viaExpr.nonEmpty)

    val boxes = items
      .withColumn("xmin", col("lon") - 1.5).withColumn("xmax", col("lon") + 1.5)
      .withColumn("ymin", col("lat") - 0.8).withColumn("ymax", col("lat") + 0.8)
    val viaBoxExpr = boxes
      .where(Geo.boxRelShapeCol(
        col("xmin"), col("ymin"), col("xmax"), col("ymax"), shape, Geo.RelIntersects))
      .select("id").collect().map(_.getString(0)).toSet
    val viaBoxDriver = boxes.select("id", "xmin", "ymin", "xmax", "ymax").collect()
      .filter(r => Geo.boxIntersectsShape(
        r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), shape))
      .map(_.getString(0)).toSet
    assert(viaBoxExpr == viaBoxDriver)
    assert(viaBoxExpr.nonEmpty)
  }

  // ================= r10 DE-9IM relation kernels =================

  private val shellHole: Array[Array[Array[Double]]] = Array(Array(
    Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0),   // shell [0,10]^2
    Array(4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0)))      // hole [4,6]^2

  private val lShape: Array[Array[Array[Double]]] = Array(Array(
    Array(0.0, 0.0, 10.0, 0.0, 10.0, 4.0, 6.0, 4.0, 6.0, 10.0, 0.0, 10.0)))

  test("segIntersectsOpenBox: through/inside/edge/corner/disjoint") {
    // through the box
    assert(Geo.segIntersectsOpenBox(-1, 5, 11, 5, 0, 0, 10, 10))
    // entirely inside
    assert(Geo.segIntersectsOpenBox(2, 2, 8, 8, 0, 0, 10, 10))
    // endpoint inside, rest outside
    assert(Geo.segIntersectsOpenBox(5, 5, 15, 5, 0, 0, 10, 10))
    // lying exactly along a box edge: closed contact only
    assert(!Geo.segIntersectsOpenBox(0, 0, 10, 0, 0, 0, 10, 10))
    assert(!Geo.segIntersectsOpenBox(3, 10, 7, 10, 0, 0, 10, 10))
    // touching a corner transversally
    assert(!Geo.segIntersectsOpenBox(-5, 5, 5, -5, 0, 0, 10, 10))
    // disjoint
    assert(!Geo.segIntersectsOpenBox(20, 20, 30, 30, 0, 0, 10, 10))
    // open ⊆ closed on every case above
    for ((a, b, c, d) <- Seq((-1.0, 5.0, 11.0, 5.0), (2.0, 2.0, 8.0, 8.0),
        (0.0, 0.0, 10.0, 0.0)))
      assert(!Geo.segIntersectsOpenBox(a, b, c, d, 0, 0, 10, 10) ||
        Geo.segIntersectsBox(a, b, c, d, 0, 0, 10, 10))
  }

  test("boxWithinGeom: exact on holed and concave regions (r9 rejection gone)") {
    // clear of the hole → within
    assert(Geo.boxWithinGeom(1, 1, 3, 3, shellHole))
    // straddles the hole boundary → not within
    assert(!Geo.boxWithinGeom(3, 3, 7, 7, shellHole))
    // entirely inside the hole → not within
    assert(!Geo.boxWithinGeom(4.5, 4.5, 5.5, 5.5, shellHole))
    // equals the shell (hole edges pass through the open box) → not within
    assert(!Geo.boxWithinGeom(0, 0, 10, 10, shellHole))
    // flush against the shell boundary, avoiding the hole → within (closed)
    assert(Geo.boxWithinGeom(0, 0, 2, 10, shellHole))
    // L-shape: inside the vertical arm
    assert(Geo.boxWithinGeom(1, 1, 5, 9, lShape))
    // inside the bottom arm
    assert(Geo.boxWithinGeom(4, 1, 8, 3, lShape))
    // in the notch (outside the L)
    assert(!Geo.boxWithinGeom(7, 6, 9, 8, lShape))
    // straddling the notch corner
    assert(!Geo.boxWithinGeom(5, 3, 7, 5, lShape))
  }

  test("box relations: contains / equals / touches / crosses / overlaps") {
    import graft.spatial.Shape._
    val box = (0.0, 0.0, 10.0, 10.0)
    def rel(r: Int, s: graft.spatial.Shape) =
      Geo.boxRelShape(box._1, box._2, box._3, box._4, s, r)
    // contains: strict-interior contact required
    assert(rel(Geo.RelContains, PointS(5, 5)))
    assert(!rel(Geo.RelContains, PointS(0, 5)))           // on boundary: covered, not contained
    assert(rel(Geo.RelContains, MultiPointS(Array(0.0, 5.0, 5.0, 5.0)))) // one inside
    assert(!rel(Geo.RelContains, MultiPointS(Array(0.0, 5.0, 10.0, 5.0)))) // all boundary
    assert(rel(Geo.RelContains, LinesS(Array(Array(1.0, 1.0, 9.0, 9.0)))))
    assert(!rel(Geo.RelContains, LinesS(Array(Array(0.0, 0.0, 10.0, 0.0))))) // along edge
    assert(!rel(Geo.RelContains, LinesS(Array(Array(1.0, 1.0, 11.0, 1.0))))) // pokes out
    assert(rel(Geo.RelContains, PolyS(Array(Array(Array(2.0, 2.0, 8.0, 2.0, 8.0, 8.0, 2.0, 8.0))))))
    // equals: the box itself, incl. a redundant collinear vertex
    val boxPoly = PolyS(Array(Array(Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0))))
    val boxPolyRedundant = PolyS(Array(Array(
      Array(0.0, 0.0, 5.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0))))
    assert(rel(Geo.RelEquals, boxPoly))
    assert(rel(Geo.RelEquals, boxPolyRedundant))
    assert(!rel(Geo.RelEquals, PolyS(Array(Array(Array(0.0, 0.0, 9.0, 0.0, 9.0, 10.0, 0.0, 10.0))))))
    assert(!rel(Geo.RelEquals, PointS(5, 5)))
    // touches: edge-sharing / corner-sharing neighbors, no interior overlap
    assert(rel(Geo.RelTouches, PolyS(Array(Array(Array(10.0, 0.0, 20.0, 0.0, 20.0, 10.0, 10.0, 10.0))))))
    assert(rel(Geo.RelTouches, PolyS(Array(Array(Array(10.0, 10.0, 20.0, 10.0, 20.0, 20.0, 10.0, 20.0))))))
    assert(!rel(Geo.RelTouches, PolyS(Array(Array(Array(5.0, 5.0, 15.0, 5.0, 15.0, 15.0, 5.0, 15.0))))))
    assert(!rel(Geo.RelTouches, PolyS(Array(Array(Array(20.0, 0.0, 30.0, 0.0, 30.0, 10.0, 20.0, 10.0))))))
    assert(rel(Geo.RelTouches, PointS(10, 5)))
    assert(rel(Geo.RelTouches, LinesS(Array(Array(0.0, 10.0, 10.0, 10.0))))) // along top edge
    // crosses: line in-and-out; multipoint split in/out
    assert(rel(Geo.RelCrosses, LinesS(Array(Array(-5.0, 5.0, 15.0, 5.0)))))
    assert(!rel(Geo.RelCrosses, LinesS(Array(Array(1.0, 1.0, 9.0, 9.0)))))  // within, not crosses
    assert(!rel(Geo.RelCrosses, LinesS(Array(Array(20.0, 20.0, 30.0, 30.0)))))
    assert(rel(Geo.RelCrosses, MultiPointS(Array(5.0, 5.0, 50.0, 50.0))))
    assert(!rel(Geo.RelCrosses, MultiPointS(Array(5.0, 5.0, 6.0, 6.0))))
    assert(!rel(Geo.RelCrosses, boxPoly)) // area/area → never crosses
    // overlaps: partial overlap only
    assert(rel(Geo.RelOverlaps, PolyS(Array(Array(Array(5.0, 5.0, 15.0, 5.0, 15.0, 15.0, 5.0, 15.0))))))
    assert(!rel(Geo.RelOverlaps, PolyS(Array(Array(Array(2.0, 2.0, 8.0, 2.0, 8.0, 8.0, 2.0, 8.0)))))) // nested
    assert(!rel(Geo.RelOverlaps, boxPoly))   // identical → equals, not overlaps
    assert(!rel(Geo.RelOverlaps, PolyS(Array(Array(Array(10.0, 0.0, 20.0, 0.0, 20.0, 10.0, 10.0, 10.0)))))) // touches
    assert(!rel(Geo.RelOverlaps, PointS(5, 5))) // dimension mismatch
    // within: general kernel == convex corner rule on a convex query
    val hexRing = Array(30.0, -20.0, 60.0, 10.0, 30.0, 40.0, -10.0, 40.0, -40.0, 10.0, -10.0, -20.0)
    val hex = PolyS(Array(Array(hexRing)))
    for (bx <- Seq((0.0, 0.0, 10.0, 10.0), (-35.0, 5.0, -30.0, 12.0), (25.0, 30.0, 35.0, 39.0))) {
      val corner = Seq((bx._1, bx._2), (bx._3, bx._2), (bx._3, bx._4), (bx._1, bx._4))
        .forall { case (x, y) => Geo.rayCast(x, y, hexRing) }
      assert(Geo.boxRelShape(bx._1, bx._2, bx._3, bx._4, hex, Geo.RelWithin) == corner,
        s"corner-rule equivalence failed for $bx")
    }
  }

  test("point relations: touches = boundary membership; equals/contains = point identity") {
    import graft.spatial.Shape._
    val poly = PolyS(shellHole)
    assert(Geo.pointRelShape(0.0, 5.0, poly, Geo.RelTouches))   // on shell edge
    assert(Geo.pointRelShape(4.0, 5.0, poly, Geo.RelTouches))   // on hole edge
    assert(!Geo.pointRelShape(2.0, 2.0, poly, Geo.RelTouches))  // interior
    assert(!Geo.pointRelShape(5.0, 5.0, poly, Geo.RelTouches))  // inside the hole
    assert(!Geo.pointRelShape(20.0, 20.0, poly, Geo.RelTouches))
    // line boundary = odd-multiplicity endpoints (mod-2 rule)
    val path = LinesS(Array(Array(0.0, 0.0, 10.0, 0.0), Array(10.0, 0.0, 10.0, 10.0)))
    assert(Geo.pointRelShape(0.0, 0.0, path, Geo.RelTouches))    // free end
    assert(!Geo.pointRelShape(10.0, 0.0, path, Geo.RelTouches))  // shared joint: interior
    assert(!Geo.pointRelShape(5.0, 0.0, path, Geo.RelTouches))   // mid-segment: interior
    // equals / contains on a point target = identical point set
    assert(Geo.pointRelShape(3.0, 4.0, PointS(3, 4), Geo.RelEquals))
    assert(Geo.pointRelShape(3.0, 4.0, MultiPointS(Array(3.0, 4.0, 3.0, 4.0)), Geo.RelContains))
    assert(!Geo.pointRelShape(3.0, 4.0, MultiPointS(Array(3.0, 4.0, 5.0, 6.0)), Geo.RelEquals))
    assert(!Geo.pointRelShape(3.0, 4.0, poly, Geo.RelEquals))
    // crosses / overlaps are identically false on a point
    assert(!Geo.pointRelShape(3.0, 4.0, PointS(3, 4), Geo.RelCrosses))
    assert(!Geo.pointRelShape(3.0, 4.0, PointS(3, 4), Geo.RelOverlaps))
  }

  // =============== r11: TRUE-polygon row-side kernels (a88) ===============

  /** The a88 notched region and its convex decomposition (duplicated
    * constants — the gate's are private; drift breaks the numeric checks
    * below, not silently).
    */
  private val a88Region: Array[Array[Array[Double]]] = Array(Array(Array(
    -147.1758, -49.6606, -79.1774, 1.3382, -91.1774, 17.3382,
    -117.4174, 10.6582, -103.4174, 33.6582, -118.4174, 53.6582,
    -186.4158, 2.6594)))
  private val a88Pieces: Seq[Array[Double]] = Seq(
    Array(-147.1758, -49.6606, -79.1774, 1.3382, -91.1774, 17.3382,
      -159.1758, -33.6606),
    Array(-159.1758, -33.6606, -91.1774, 17.3382, -117.4174, 10.6582,
      -165.4158, -25.3406),
    Array(-165.4158, -25.3406, -117.4174, 10.6582, -103.4174, 33.6582,
      -171.4158, -17.3406),
    Array(-171.4158, -17.3406, -103.4174, 33.6582, -118.4174, 53.6582,
      -186.4158, 2.6594))
  private val a88Notch =
    Array(-91.1774, 17.3382, -103.4174, 33.6582, -117.4174, 10.6582)
  private val a88R = Array(
    -147.1758, -49.6606, -79.1774, 1.3382, -118.4174, 53.6582,
    -186.4158, 2.6594)

  private def randQuad(rnd: scala.util.Random): Array[Array[Array[Double]]] = {
    val cx = rnd.between(-200.0, -70.0); val cy = rnd.between(-60.0, 60.0)
    val hw = rnd.between(0.1, 9.0); val hh = rnd.between(0.1, 9.0)
    val a = rnd.between(0.0, 2 * math.Pi)
    val (c, s) = (math.cos(a), math.sin(a))
    Array(Array(Array(
      cx - c * hw + s * hh, cy - s * hw - c * hh,
      cx + c * hw + s * hh, cy + s * hw - c * hh,
      cx + c * hw - s * hh, cy + s * hw + c * hh,
      cx - c * hw - s * hh, cy - s * hw + c * hh)))
  }

  /** Driver-side SAT over both polygons' edge normals — the oracle's
    * algorithm, reimplemented independently of the SQL renderer.
    */
  private def sat(quad: Array[Double], ring: Array[Double], strict: Boolean): Boolean = {
    def verts(r: Array[Double]) = r.grouped(2).map { case Array(x, y) => (x, y) }.toSeq
    def axes(r: Array[Double]) = {
      val v = verts(r)
      v.indices.map { i =>
        val (x1, y1) = v(i); val (x2, y2) = v((i + 1) % v.length)
        (-(y2 - y1), x2 - x1)
      }
    }
    (axes(quad) ++ axes(ring)).forall { case (nx, ny) =>
      def proj(r: Array[Double]) = {
        val ps = verts(r).map { case (x, y) => nx * x + ny * y }
        (ps.min, ps.max)
      }
      val (qlo, qhi) = proj(quad); val (rlo, rhi) = proj(ring)
      if (strict) qlo < rhi && qhi > rlo else qlo <= rhi && qhi >= rlo
    }
  }

  test("a88 region decomposition: pieces tile the region; region = R minus open notch (500k samples)") {
    val rnd = new scala.util.Random(88101L)
    (1 to 500000).foreach { _ =>
      val x = rnd.between(-195.0, -70.0); val y = rnd.between(-60.0, 60.0)
      val inRegion = Geo.containsGeom(x, y, a88Region)
      val inPieces = a88Pieces.exists(p => Geo.rayCast(x, y, p))
      assert(inRegion == inPieces, s"decomposition drift at ($x, $y)")
      val inR = inConvex(x, y, a88R)
      val inNotch = Geo.rayCast(x, y, a88Notch)
      assert(inRegion == (inR && !inNotch), s"R-minus-notch drift at ($x, $y)")
    }
  }

  test("polyIntersectsGeom == SAT over the convex decomposition on 20k random rotated quads") {
    val rnd = new scala.util.Random(88102L)
    (1 to 20000).foreach { _ =>
      val quad = randQuad(rnd)
      val kernel = Geo.polyIntersectsGeom(quad, a88Region)
      val oracle = a88Pieces.exists(p => sat(quad(0)(0), p, strict = false))
      assert(kernel == oracle, s"intersects drift on ${quad(0)(0).mkString(",")}")
    }
  }

  test("polyWithinGeom == corners-in-R AND NOT strict-SAT(notch) on 20k random quads") {
    val rnd = new scala.util.Random(88103L)
    var winCount = 0
    (1 to 20000).foreach { _ =>
      val quad = randQuad(rnd)
      val kernel = Geo.polyWithinGeom(quad, a88Region)
      val ring = quad(0)(0)
      val cornersInR = ring.grouped(2).forall { case Array(x, y) =>
        inConvex(x, y, a88R)
      }
      val oracle = cornersInR && !sat(ring, a88Notch, strict = true)
      assert(kernel == oracle, s"within drift on ${ring.mkString(",")}")
      if (kernel) winCount += 1
    }
    assert(winCount > 0, "no within-true samples — the check proves nothing")
  }

  test("geomInteriorsMeet == strict SAT over pieces on 20k random quads") {
    val rnd = new scala.util.Random(88104L)
    (1 to 20000).foreach { _ =>
      val quad = randQuad(rnd)
      val kernel = Geo.geomInteriorsMeet(quad, a88Region)
      val oracle = a88Pieces.exists(p => sat(quad(0)(0), p, strict = true))
      assert(kernel == oracle, s"interiors drift on ${quad(0)(0).mkString(",")}")
    }
  }

  test("segIntersectsOpenConvex == segIntersectsOpenBox on 50k random segment/box pairs") {
    val rnd = new scala.util.Random(88105L)
    (1 to 50000).foreach { _ =>
      val x0 = rnd.between(-10.0, 10.0); val y0 = rnd.between(-10.0, 10.0)
      val x1 = x0 + rnd.between(0.1, 8.0); val y1 = y0 + rnd.between(0.1, 8.0)
      val ring = Array(x0, y0, x1, y0, x1, y1, x0, y1)
      val (ax, ay) = (rnd.between(-15.0, 15.0), rnd.between(-15.0, 15.0))
      val (bx, by) = (rnd.between(-15.0, 15.0), rnd.between(-15.0, 15.0))
      assert(Geo.segIntersectsOpenConvex(ax, ay, bx, by, ring) ==
        Geo.segIntersectsOpenBox(ax, ay, bx, by, x0, y0, x1, y1),
        s"open-seg drift seg=($ax,$ay)->($bx,$by) box=($x0,$y0,$x1,$y1)")
    }
  }

  test("segMeetsOpenGeom general path == convex fast path on convex rings") {
    val rnd = new scala.util.Random(88106L)
    // a concave region forces the general sampler; cross-check it on the
    // same queries against the convex fast path applied to each piece:
    // open-region membership in a union of edge-adjacent convex pieces
    // is piecewise (interior seams are interior to the union)
    (1 to 20000).foreach { _ =>
      val (ax, ay) = (rnd.between(-200.0, -70.0), rnd.between(-60.0, 60.0))
      val (bx, by) = (rnd.between(-200.0, -70.0), rnd.between(-60.0, 60.0))
      val general = Geo.segMeetsOpenGeom(ax, ay, bx, by, a88Region)
      val viaPieces = a88Pieces.exists(p =>
        Geo.segIntersectsOpenConvex(ax, ay, bx, by, p)) ||
        // seam-only passes: sample the midpoint directly
        Geo.strictInGeom((ax + bx) / 2, (ay + by) / 2, a88Region)
      // general ⇒ viaPieces can differ only on seam-tangent segments —
      // vanishing probability under continuous sampling; assert equality
      assert(general == (a88Pieces.exists(p =>
        Geo.segIntersectsOpenConvex(ax, ay, bx, by, p))),
        s"open-seg general drift ($ax,$ay)->($bx,$by)")
      assert(viaPieces || !general)
    }
  }

  test("polyRelShape composites: hand-built touch/overlap/equal/cross cases") {
    import graft.spatial.Shape._
    val quad = Array(Array(Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0)))
    // equals with itself (different vertex start to prove set semantics)
    val same = PolyS(Array(Array(Array(4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0))))
    assert(Geo.polyRelShape(quad, same, Geo.RelEquals))
    assert(Geo.polyRelShape(quad, same, Geo.RelWithin))
    assert(!Geo.polyRelShape(quad, same, Geo.RelOverlaps))
    // edge-sharing neighbor: touches, not overlaps
    val neighbor = PolyS(Array(Array(Array(4.0, 0.0, 8.0, 0.0, 8.0, 4.0, 4.0, 4.0))))
    assert(Geo.polyRelShape(quad, neighbor, Geo.RelTouches))
    assert(Geo.polyRelShape(quad, neighbor, Geo.RelIntersects))
    assert(!Geo.polyRelShape(quad, neighbor, Geo.RelOverlaps))
    // proper overlap
    val over = PolyS(Array(Array(Array(2.0, 2.0, 6.0, 2.0, 6.0, 6.0, 2.0, 6.0))))
    assert(Geo.polyRelShape(quad, over, Geo.RelOverlaps))
    assert(!Geo.polyRelShape(quad, over, Geo.RelTouches))
    // line crossing vs line inside
    val crossLine = LinesS(Array(Array(-1.0, 2.0, 5.0, 2.0)))
    assert(Geo.polyRelShape(quad, crossLine, Geo.RelCrosses))
    val inLine = LinesS(Array(Array(1.0, 2.0, 3.0, 2.0)))
    assert(!Geo.polyRelShape(quad, inLine, Geo.RelCrosses)) // contained, no exit
    assert(Geo.polyRelShape(quad, inLine, Geo.RelContains))
    // point containment is interior-strict
    assert(Geo.polyRelShape(quad, PointS(2, 2), Geo.RelContains))
    assert(!Geo.polyRelShape(quad, PointS(0, 2), Geo.RelContains)) // on boundary
    assert(Geo.polyRelShape(quad, PointS(0, 2), Geo.RelTouches))
    // concave row side through the general paths: the L-shape contains
    // its own notch-free parts and rejects notch points
    val ell = Array(Array(Array(0.0, 0.0, 10.0, 0.0, 10.0, 4.0, 4.0, 4.0, 4.0, 10.0, 0.0, 10.0)))
    assert(Geo.polyRelShape(ell, PointS(2, 8), Geo.RelContains))
    assert(!Geo.polyRelShape(ell, PointS(8, 8), Geo.RelIntersects)) // in the notch
    val notchBox = PolyS(Array(Array(Array(5.0, 5.0, 9.0, 5.0, 9.0, 9.0, 5.0, 9.0))))
    assert(!Geo.polyRelShape(ell, notchBox, Geo.RelIntersects))
    val straddle = PolyS(Array(Array(Array(2.0, 2.0, 8.0, 2.0, 8.0, 8.0, 2.0, 8.0))))
    assert(Geo.polyRelShape(ell, straddle, Geo.RelOverlaps))
    assert(!Geo.polyRelShape(ell, straddle, Geo.RelWithin))
    // holed row side: the shell-with-hole is within its shell but does
    // not CONTAIN a box sitting inside the hole
    val holed = shellHole
    val inHole = PolyS(Array(Array(Array(4.5, 4.5, 5.5, 4.5, 5.5, 5.5, 4.5, 5.5))))
    assert(!Geo.polyRelShape(holed, inHole, Geo.RelIntersects))
    assert(Geo.polyRelShape(holed, PolyS(Array(Array(holed(0)(0)))), Geo.RelWithin))
  }

  test("wkbRelShape decodes the stored footprint and matches the ring kernel") {
    import graft.spatial.{Shape, Wkb}
    val ring = Array(1.0, 1.0, 5.0, 2.0, 4.0, 6.0, 0.0, 5.0)
    val wkb = Wkb.ringBytes(ring)
    val probe = Shape.PolyS(Array(Array(Array(3.0, 3.0, 9.0, 3.0, 9.0, 9.0, 3.0, 9.0))))
    assert(Geo.wkbRelShape(wkb, probe, Geo.RelIntersects) ==
      Geo.polyRelShape(Array(Array(ring)), probe, Geo.RelIntersects))
    // point-footprint WKB routes to the point kernels
    val pt = Wkb.pointBytes(2.0, 2.0)
    assert(Geo.wkbRelShape(pt, probe, Geo.RelIntersects) ==
      Geo.pointIntersectsShape(2.0, 2.0, probe))
  }

  test("a88 gate: envelope over-claims exist and the exact kernel rejects them") {
    val s = TestSpark.spark
    val rows = graft.search.StacSearch.a88PolygonFootprint(s, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    def b(r: org.apache.spark.sql.Row, f: String) = r.getBoolean(r.fieldIndex(f))
    val overClaims = rows.count(r => b(r, "env_int") && !b(r, "p_int"))
    assert(overClaims > 0,
      "no envelope over-claims — the rotated fixture is not load-bearing")
    // the exact kernel can never claim MORE than the envelope
    assert(rows.forall(r => !b(r, "p_int") || b(r, "env_int")))
    // battery sanity: every relation has both outcomes somewhere except
    // the deliberately false-dominant equals
    Seq("p_int", "p_win", "p_win_cvx", "p_cnt", "p_tch", "p_ovl", "p_crs")
      .foreach { f =>
        assert(rows.exists(r => b(r, f)), s"$f never true")
        assert(rows.exists(r => !b(r, f)), s"$f never false")
      }
    assert(rows.forall(r => b(r, "p_int") != b(r, "p_dis")))
    // within ⇒ intersects; overlaps ⇒ intersects AND NOT within
    assert(rows.forall(r => !b(r, "p_win") || b(r, "p_int")))
    assert(rows.forall(r => !b(r, "p_ovl") || (b(r, "p_int") && !b(r, "p_win"))))
  }

  test("normalizePoly: the pinned antimeridian + pole semantics (r11)") {
    import graft.spatial.{Geo, Shape}
    def box(x0: Double, y0: Double, x1: Double, y1: Double): Array[Double] =
      Array(x0, y0, x1, y0, x1, y1, x0, y1)
    // UNWRAPPED crossing ring [170, 190] folds into its two in-range
    // pieces: membership on both sides of the antimeridian, not beyond
    val folded = Shape.normalizePoly(Array(Array(box(170, -10, 190, 10))))
    assert(folded.length == 2)
    val s = Shape.PolyS(folded)
    assert(Geo.pointIntersectsShape(175.0, 0.0, s))
    assert(Geo.pointIntersectsShape(-175.0, 0.0, s))
    assert(!Geo.pointIntersectsShape(0.0, 0.0, s))
    assert(!Geo.pointIntersectsShape(-165.0, 0.0, s))
    // every folded coordinate is in range
    assert(folded.forall(_.forall { r =>
      r.grouped(2).forall(p => p(0) >= -180 && p(0) <= 180) }))
    // negative-side authoring folds the same way
    val neg = Shape.PolyS(Shape.normalizePoly(Array(Array(box(-190, -10, -170, 10)))))
    assert(Geo.pointIntersectsShape(175.0, 0.0, neg))
    assert(Geo.pointIntersectsShape(-175.0, 0.0, neg))
    // a WIDE in-range ring is PLANAR as written (reference parity):
    // NO implied crossing, the middle is inside
    val wide = Shape.normalizePoly(Array(Array(box(-150, -10, 150, 10))))
    assert(wide.length == 1)
    assert(Geo.pointIntersectsShape(0.0, 0.0, Shape.PolyS(wide)))
    // a hole crossing with its shell survives the fold (parity carries)
    val holed = Shape.normalizePoly(Array(Array(
      box(170, -10, 190, 10), box(175, -5, 185, 5))))
    val hs = Shape.PolyS(holed)
    assert(!Geo.pointIntersectsShape(178.0, 0.0, hs))  // in the hole
    assert(!Geo.pointIntersectsShape(-178.0, 0.0, hs)) // in the hole, east piece
    assert(Geo.pointIntersectsShape(172.0, 0.0, hs))
    assert(Geo.pointIntersectsShape(-172.0, 0.0, hs))
    // refusals are TYPED, never silent: latitude does not wrap…
    val e1 = intercept[IllegalArgumentException] {
      Shape.normalizePoly(Array(Array(box(0, 80, 10, 95))))
    }
    assert(e1.getMessage.contains("latitude does not wrap"))
    // …and more than one wrap is authoring error
    val e2 = intercept[IllegalArgumentException] {
      Shape.normalizePoly(Array(Array(box(500, 0, 560, 10))))
    }
    assert(e2.getMessage.contains("[-540, 540]"))
    // both grammars land on the same folded shape
    val viaJson = graft.cql.Cql.parseGeoJsonShape(
      """{"type":"Polygon","coordinates":[[[170,-10],[190,-10],[190,10],[170,10],[170,-10]]]}""")
    val viaWkt = graft.cql.Cql2Text
      .parse("S_INTERSECTS(geometry, POLYGON((170 -10, 190 -10, 190 10, 170 10, 170 -10)))") match {
        case graft.cql.Cql.SIntersects(sh, _) => sh
        case other => fail(s"unexpected AST: $other")
      }
    (viaJson, viaWkt) match {
      case (Shape.PolyS(a), Shape.PolyS(b)) =>
        assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq)
      case other => fail(s"expected folded polygons, got $other")
    }
    // a polar cap is the in-domain form: ring touching the pole line
    val cap = Shape.PolyS(Shape.normalizePoly(Array(Array(box(-180, 60, 180, 90)))))
    assert(Geo.pointIntersectsShape(0.0, 75.0, cap))
    assert(!Geo.pointIntersectsShape(0.0, 30.0, cap))
  }

  test("degenerate (zero-area) polygons DECIDE interior relations as " +
      "false instead of throwing (r11: DSv2-written WKB is arbitrary)") {
    import graft.spatial.{Geo, Shape}
    // all vertices collinear — a ring with no interior
    val flat: Array[Array[Array[Double]]] =
      Array(Array(Array(0.0, 0.0, 2.0, 0.0, 4.0, 0.0)))
    val region: Array[Array[Array[Double]]] =
      Array(Array(Array(-10.0, -10.0, 10.0, -10.0, 10.0, 10.0, -10.0, 10.0)))
    // within requires an interior meet → false, not a crash
    assert(!Geo.polyWithinGeom(flat, region))
    // an empty interior meets nothing
    assert(!Geo.geomInteriorsMeet(flat, flat))
    // …but closed intersection (boundary-inclusive) still sees the points
    assert(Geo.polyIntersectsGeom(flat, region))
  }
}
