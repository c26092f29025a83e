package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.spatial.{Geo, Wkb}
import graft.spatial.Shape._

/** Property-based checks of the custom kernels — the codegen'd
  * expressions call these exact scala functions, so laws proven here
  * hold for the query path. Each property pits the kernel against an
  * ALGORITHMICALLY INDEPENDENT formulation (half-plane vs ray-cast,
  * enumerate+merge vs quadtree recursion, byte-stability vs structural
  * equality) over randomized inputs.
  */
object KernelProps extends Properties("kernels") {

  private val lonG = Gen.chooseNum(-179.0, 179.0)
  private val latG = Gen.chooseNum(-89.0, 89.0)

  // random convex polygon: distinct angles on a circle, sorted → CCW ring
  private val convexPoly: Gen[Array[Double]] = for {
    n <- Gen.choose(3, 9)
    cx <- Gen.chooseNum(-100.0, 100.0)
    cy <- Gen.chooseNum(-50.0, 50.0)
    r <- Gen.chooseNum(5.0, 40.0)
    angles <- Gen.listOfN(n, Gen.chooseNum(0.001, 2 * math.Pi - 0.001))
      .map(_.distinct.sorted) suchThat (_.length >= 3)
  } yield angles.flatMap(a => Seq(cx + r * math.cos(a), cy + r * math.sin(a))).toArray

  property("rayCast == independent half-plane test on random convex polygons") =
    forAll(convexPoly, lonG, latG) { (poly, x, y) =>
      val n = poly.length / 2
      val crosses = (0 until n).map { i =>
        val j = (i + 1) % n
        (poly(2 * j) - poly(2 * i)) * (y - poly(2 * i + 1)) -
          (poly(2 * j + 1) - poly(2 * i + 1)) * (x - poly(2 * i))
      }
      // a CCW-convex interior point has every edge cross-product > 0;
      // skip near-boundary points where the two algorithms may
      // legitimately differ on tie-breaking
      if (crosses.exists(c => math.abs(c) < 1e-6)) true
      else Geo.rayCast(x, y, poly) == crosses.forall(_ > 0)
    }

  private val shapeGen: Gen[graft.spatial.Shape] = {
    val point = for { x <- lonG; y <- latG } yield PointS(x, y)
    val multiPoint = for {
      k <- Gen.choose(1, 6)
      cs <- Gen.listOfN(k, Gen.zip(lonG, latG))
    } yield MultiPointS(cs.flatMap(p => Seq(p._1, p._2)).toArray)
    val lines = for {
      np <- Gen.choose(1, 3)
      paths <- Gen.listOfN(np, for {
        k <- Gen.choose(2, 5)
        cs <- Gen.listOfN(k, Gen.zip(lonG, latG))
      } yield cs.flatMap(p => Seq(p._1, p._2)).toArray)
    } yield LinesS(paths.toArray)
    val poly = convexPoly.map(ring => PolyS(Array(Array(ring))))
    val coll = for {
      k <- Gen.choose(1, 3)
      parts <- Gen.listOfN(k, Gen.oneOf(point, multiPoint, lines, poly))
    } yield CollS(parts.toArray)
    Gen.oneOf(point, multiPoint, lines, poly, coll)
  }

  private def coords(s: graft.spatial.Shape): Seq[(Double, Double)] = s match {
    case PointS(x, y)     => Seq((x, y))
    case MultiPointS(pts) => pts.grouped(2).map(a => (a(0), a(1))).toSeq
    case LinesS(paths)    => paths.toSeq.flatMap(_.grouped(2).map(a => (a(0), a(1))))
    case PolyS(geom)      => geom.toSeq.flatMap(_.toSeq.flatMap(_.grouped(2).map(a => (a(0), a(1)))))
    case CollS(parts)     => parts.toSeq.flatMap(coords)
  }

  property("WKB envelope == coordinate extremes of the encoded shape") =
    forAll(shapeGen) { s =>
      val env = Wkb.envelope(Wkb.encode(s))
      val cs = coords(s)
      env(0) == cs.map(_._1).min && env(1) == cs.map(_._2).min &&
        env(2) == cs.map(_._1).max && env(3) == cs.map(_._2).max
    }

  property("WKB decode∘encode is byte-stable (one round trip reaches a fixed point)") =
    forAll(shapeGen) { s =>
      val once = Wkb.encode(s)
      java.util.Arrays.equals(Wkb.encode(Wkb.toShape(once)), once)
    }

  property("pointIntersectsShape(encode→decode) == pointIntersectsShape(original)") =
    forAll(shapeGen, lonG, latG) { (s, x, y) =>
      Geo.pointIntersectsShape(x, y, Wkb.toShape(Wkb.encode(s))) ==
        Geo.pointIntersectsShape(x, y, s)
    }

  private val bboxG: Gen[(Double, Double, Double, Double)] = for {
    x1 <- lonG; x2 <- lonG; y1 <- latG; y2 <- latG
  } yield (math.min(x1, x2), math.min(y1, y2), math.max(x1, x2), math.max(y1, y2))

  property("zRangesSplit (quadtree recursion) == zRanges (enumerate+merge)") =
    forAll(bboxG) { case (w, s, e, n) =>
      graft.search.StacSearch.zRangesSplit(w, s, e, n) ==
        graft.search.StacSearch.zRanges(w, s, e, n)
    }

  property("every point inside a bbox lands in the bbox's z-range cover") =
    forAll(bboxG, Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)) {
      case ((w, s, e, n), fx, fy) =>
        val (x, y) = (w + fx * (e - w), s + fy * (n - s))
        // the level-6 cell formula, restated locally (independent copy)
        val size = 1 << 6
        def clamp(i: Int) = math.min(math.max(i, 0), size - 1)
        val ix = clamp(math.floor((x + 180.0) / 360.0 * size).toInt)
        val iy = clamp(math.floor((y + 90.0) / 180.0 * size).toInt)
        val cell = (0 until 6).map(k =>
          (((ix >> k) & 1) << (2 * k + 1)) | (((iy >> k) & 1) << (2 * k))).sum
        graft.search.StacSearch.zRanges(w, s, e, n)
          .exists { case (a, b) => cell >= a && cell <= b }
    }

  // non-degenerate footprint box (w, h > 0 — the relation laws below
  // assume the box has an interior, which every item footprint does)
  private val footBoxG: Gen[(Double, Double, Double, Double)] = for {
    x0 <- Gen.chooseNum(-170.0, 120.0)
    y0 <- Gen.chooseNum(-80.0, 40.0)
    w <- Gen.chooseNum(0.5, 60.0)
    h <- Gen.chooseNum(0.5, 40.0)
  } yield (x0, y0, x0 + w, y0 + h)

  property("DE-9IM box-relation algebra: implication and exclusivity " +
      "laws hold on random box × shape pairs") =
    forAll(footBoxG, shapeGen) { case ((x0, y0, x1, y1), s) =>
      def r(rel: Int) = Geo.boxRelShape(x0, y0, x1, y1, s, rel)
      val inter = Geo.boxIntersectsShape(x0, y0, x1, y1, s)
      val within = r(Geo.RelWithin); val contains = r(Geo.RelContains)
      val equalsR = r(Geo.RelEquals); val touches = r(Geo.RelTouches)
      val crosses = r(Geo.RelCrosses); val overlaps = r(Geo.RelOverlaps)
      // every positive relation implies intersection …
      (!within || inter) && (!contains || inter) && (!equalsR || inter) &&
        (!touches || inter) && (!crosses || inter) && (!overlaps || inter) &&
        // … equals is mutual coverage …
        (!equalsR || (within && contains)) &&
        // … touches means boundary-only, excluding every interior relation …
        (!touches || (!contains && !within && !overlaps && !crosses && !equalsR)) &&
        // … crosses leaves the closed box, contains stays inside it …
        (!crosses || (!contains && !within && !overlaps)) &&
        // … and overlaps demands an exclusive part on BOTH sides
        (!overlaps || (!within && !contains && !equalsR))
    }

  property("box vs point-target relations == plain coordinate arithmetic " +
      "(independent restatement)") =
    forAll(footBoxG, lonG, latG) { case ((x0, y0, x1, y1), x, y) =>
      val p = PointS(x, y)
      val strictlyIn = x > x0 && x < x1 && y > y0 && y < y1
      val closedIn = x >= x0 && x <= x1 && y >= y0 && y <= y1
      Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelContains) == strictlyIn &&
        Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelTouches) == (closedIn && !strictlyIn) &&
        !Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelCrosses) &&
        !Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelOverlaps) &&
        !Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelWithin) &&
        !Geo.boxRelShape(x0, y0, x1, y1, p, Geo.RelEquals) &&
        Geo.boxIntersectsShape(x0, y0, x1, y1, p) == closedIn
    }

  // the intersects relation of the unified kernels is, by construction,
  // the intersects kernel it replaced — same IEEE arithmetic, same rows
  property("pointRelShape(PolyS([[ring]]), intersects) == rayCast(ring)") =
    forAll(convexPoly, Gen.chooseNum(0.0, 1.0), Gen.chooseNum(0.0, 1.0)) { (ring, fx, fy) =>
      // points drawn from the ring's envelope, so both outcomes occur
      val (w, s, e, n) = Geo.envelope(ring)
      val (x, y) = (w + fx * (e - w), s + fy * (n - s))
      Geo.pointRelShape(x, y, PolyS(Array(Array(ring))), Geo.RelIntersects) ==
        Geo.rayCast(x, y, ring)
    }

  property("boxRelShape(PolyS(g), intersects) == boxIntersectsGeom(g)") =
    forAll(footBoxG, Gen.listOfN(2, convexPoly)) { case ((x0, y0, x1, y1), rings) =>
      val g = rings.map(r => Array(r)).toArray
      Geo.boxRelShape(x0, y0, x1, y1, PolyS(g), Geo.RelIntersects) ==
        Geo.boxIntersectsGeom(x0, y0, x1, y1, g)
    }

  property("wkbRelShape(point WKB, intersects) == pointIntersectsShape") =
    forAll(shapeGen, lonG, latG) { (s, x, y) =>
      Geo.wkbRelShape(Wkb.encode(PointS(x, y)), s, Geo.RelIntersects) ==
        Geo.pointIntersectsShape(x, y, s)
    }

  property("boxWithinGeom == all-corners-in-every-half-plane on convex " +
      "rings (independent convex formulation)") =
    forAll(footBoxG, convexPoly) { case ((x0, y0, x1, y1), ring) =>
      val n = ring.length / 2
      def cross(i: Int, px: Double, py: Double): Double = {
        val j = (i + 1) % n
        (ring(2 * j) - ring(2 * i)) * (py - ring(2 * i + 1)) -
          (ring(2 * j + 1) - ring(2 * i + 1)) * (px - ring(2 * i))
      }
      val corners = Seq((x0, y0), (x1, y0), (x1, y1), (x0, y1))
      val ties = corners.exists { case (px, py) =>
        (0 until n).exists(i => math.abs(cross(i, px, py)) < 1e-6)
      }
      if (ties) true // near-boundary tie-breaks may legitimately differ
      else {
        // CCW convex ring: closed-region membership == every edge
        // cross-product >= 0 — a formulation sharing no code with the
        // parity + edge-clip kernel
        val want = corners.forall { case (px, py) =>
          (0 until n).forall(i => cross(i, px, py) > 0)
        }
        Geo.boxWithinGeom(x0, y0, x1, y1, Array(Array(ring))) == want
      }
    }
}
