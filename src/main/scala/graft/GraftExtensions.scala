package graft

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.{DotProduct, RollingHash}
import graft.spatial.{BoxRelShape, Geo, PointRelShape, Shape,
  WkbEnvelope, WkbGeoJson, WkbNumPoints, WkbPoint, WkbType}

/** SQL-surface registration for graft's custom Catalyst expressions, so
  * `spark.sql("SELECT dot_product(a, b) ...")` works:
  *
  *  - as a session extension:
  *    `--conf spark.sql.extensions=graft.GraftExtensions`
  *  - or on a live session: `GraftFunctions.register(spark)`
  *
  * Functions:
  *  - `dot_product(array<double>, array<double>) -> double`
  *  - `rolling_hash(string) -> bigint` — polynomial char hash (c11 kernel)
  *  - `point_in_polygon(lon, lat, array<double> ring) -> boolean` — the
  *    ring must be a foldable literal (a per-query constant, like the
  *    reference's search polygon)
  *  - `point_in_geom(lon, lat, array<array<array<double>>>) -> boolean` —
  *    arbitrary geometry (polygons w/ holes, MultiPolygon), literal
  *  - `box_intersects_geom(xmin, ymin, xmax, ymax, geom) -> boolean` —
  *    exact footprint-box ∩ geometry, literal geometry
  *  - `wkb_envelope(binary) -> array<double>` — [xmin, ymin, xmax, ymax]
  *  - `wkb_type(binary) -> string`, `wkb_num_points(binary) -> int`
  *  - `wkb_geojson(binary) -> string` — WKB → GeoJSON text
  *  - `wkb_point(x, y) -> binary` — Point WKB encoder
  *
  * The three spatial functions build the intersects relation of the one
  * point kernel ([[PointRelShape]]) or the one box kernel
  * ([[BoxRelShape]]), so plans print `point_rel_shape` / `box_rel_shape`,
  * and [[graft.spatial.DeriveSpatialEnvelope]] adds their envelope prune.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name),
        b))
    }
    ext.injectOptimizerRule(_ => graft.spatial.DeriveSpatialEnvelope)
  }
}

object GraftFunctions {

  private def polyOf(e: Expression): Array[Double] = {
    require(e.foldable, "point_in_polygon ring must be a literal")
    e.eval().asInstanceOf[ArrayData].toDoubleArray()
  }

  /** Literal GeoJSON-shaped geometry: array(polys → rings → flat coords). */
  private def geomOf(e: Expression, fn: String): Array[Array[Array[Double]]] = {
    require(e.foldable, s"$fn geometry must be a literal")
    val polys = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(polys.numElements()) { p =>
      val rings = polys.getArray(p)
      Array.tabulate(rings.numElements())(r => rings.getArray(r).toDoubleArray())
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> { args =>
      require(args.length == 2, "dot_product(a, b)")
      DotProduct(args(0), args(1))
    },
    "rolling_hash" -> { args =>
      require(args.length == 1, "rolling_hash(text)")
      RollingHash(args(0))
    },
    "point_in_polygon" -> { args =>
      require(args.length == 3, "point_in_polygon(lon, lat, ring)")
      PointRelShape(args(0), args(1), Shape.PolyS(Array(Array(polyOf(args(2))))),
        Geo.RelIntersects)
    },
    "point_in_geom" -> { args =>
      require(args.length == 3, "point_in_geom(lon, lat, geom)")
      PointRelShape(args(0), args(1), Shape.PolyS(geomOf(args(2), "point_in_geom")),
        Geo.RelIntersects)
    },
    "box_intersects_geom" -> { args =>
      require(args.length == 5, "box_intersects_geom(xmin, ymin, xmax, ymax, geom)")
      BoxRelShape(args(0), args(1), args(2), args(3),
        Shape.PolyS(geomOf(args(4), "box_intersects_geom")), Geo.RelIntersects)
    },
    "wkb_envelope" -> { args =>
      require(args.length == 1, "wkb_envelope(wkb)")
      WkbEnvelope(args(0))
    },
    "wkb_type" -> { args =>
      require(args.length == 1, "wkb_type(wkb)")
      WkbType(args(0))
    },
    "wkb_num_points" -> { args =>
      require(args.length == 1, "wkb_num_points(wkb)")
      WkbNumPoints(args(0))
    },
    "wkb_geojson" -> { args =>
      require(args.length == 1, "wkb_geojson(wkb)")
      WkbGeoJson(args(0))
    },
    "wkb_point" -> { args =>
      require(args.length == 2, "wkb_point(x, y)")
      WkbPoint(args(0), args(1))
    }
  )

  /** Register into an existing session: the SQL functions plus the
    * envelope-derivation optimizer rule (idempotent — the rule object is
    * added once).
    */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, b) =>
      GraftBridge.registerFunction(spark, name, b)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.spatial.DeriveSpatialEnvelope))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.spatial.DeriveSpatialEnvelope
  }
}
