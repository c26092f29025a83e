package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.spatial.{BoxRelShape, Geo, PointRelShape, Shape}

/** DeriveSpatialEnvelope — the optimizer rule that promotes the manual
  * envelope-prefilter trick to the SQL surface: a literal-geometry kernel
  * in a top-level conjunct gains the pushable range predicates its
  * envelope implies, and nothing else changes.
  */
class SpatialEnvelopeRuleSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val ring = "array(10.0d,-20.0d, 60.0d,-20.0d, 60.0d,30.0d, 10.0d,30.0d)"
  private val square =
    Shape.PolyS(Array(Array(Array(10.0, -20.0, 60.0, -20.0, 60.0, 30.0, 10.0, 30.0))))

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def physical(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** A parquet with PHYSICAL lon/lat columns (the items view derives them
    * in a projection, which no source can push into).
    */
  private lazy val pts: String = {
    val dir = java.nio.file.Files.createTempDirectory("envrule").toString
    graft.core.Tables.items(s, TestSpark.sf)
      .select(col("id"), col("lon"), col("lat")).limit(2000)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("SQL point_in_polygon gains envelope ranges that PUSH to the scan; " +
      "rows are unchanged") {
    GraftFunctions.register(s)
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val df = s.sql(s"SELECT id FROM pts WHERE point_in_polygon(lon, lat, $ring)")
    val opt = optimized(df)
    assert(opt.contains("lon") && opt.contains(">= 10.0") && opt.contains("<= 60.0"), opt)
    assert(opt.contains(">= -20.0") && opt.contains("<= 30.0"), opt)
    val phys = physical(df)
    val pushed = phys.split('\n').filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(lon,10.0") &&
      pushed.contains("LessThanOrEqual(lat,30.0"), phys)
    // exact semantics untouched: equals the hand-built envelope+kernel path
    val want = s.read.parquet(pts)
      .where(Geo.pointRelShapeCol(col("lon"), col("lat"), square, Geo.RelIntersects))
      .select(col("id")).collect().map(_.getString(0)).sorted.toSeq
    val got = df.collect().map(_.getString(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("idempotent: the hand-tuned path (envelope already present) is not " +
      "re-derived, and repeated optimization reaches a fixed point") {
    GraftFunctions.register(s)
    val df = s.read.parquet(pts)
      .where(Geo.pointRelShapeCol(col("lon"), col("lat"), square, Geo.RelIntersects))
    val opt = optimized(df)
    // exactly one copy of each envelope bound — no duplicate conjuncts
    assert("""\(lon#\d+ >= 10\.0\)""".r.findAllIn(opt).size == 1, opt)
    assert("""\(lat#\d+ <= 30\.0\)""".r.findAllIn(opt).size == 1, opt)
  }

  test("generative: seeded-random star polygons — the derived-envelope plan " +
      "returns exactly the local ray-cast's rows") {
    GraftFunctions.register(s)
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val rows = s.read.parquet(pts).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val rnd = new java.util.Random(42)
    (1 to 12).foreach { _ =>
      val n = 3 + rnd.nextInt(7)
      val cx = rnd.nextDouble() * 200 - 100
      val cy = rnd.nextDouble() * 100 - 50
      val poly = (0 until n).flatMap { i =>
        val a = 2 * math.Pi * i / n
        val r = 5.0 + rnd.nextDouble() * 35.0 // per-vertex radius → concave
        Seq(cx + r * math.cos(a), cy + r * math.sin(a))
      }.toArray
      val ringSql = poly.map(v => s"${v}d").mkString("array(", ", ", ")")
      val got = s.sql(s"SELECT id FROM pts WHERE point_in_polygon(lon, lat, $ringSql)")
        .collect().map(_.getString(0)).toSet
      val want = rows.collect {
        case (id, lon, lat) if graft.spatial.Geo.rayCast(lon, lat, poly) => id
      }.toSet
      assert(got == want, s"poly ${poly.toSeq}")
    }
  }

  test("conservative: non-deterministic coordinates derive nothing (the " +
      "range predicate would re-evaluate them)") {
    GraftFunctions.register(s)
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val df = s.sql(
      s"SELECT id FROM pts WHERE point_in_polygon(lon + rand() * 0.0d, lat, $ring)")
    val opt = optimized(df)
    assert(!opt.contains(">= 10.0"), opt)
  }

  test("conservative: a kernel under OR derives nothing") {
    GraftFunctions.register(s)
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val df = s.sql(
      s"SELECT id FROM pts WHERE point_in_polygon(lon, lat, $ring) OR lon > 170.0d")
    val opt = optimized(df)
    assert(!opt.contains(">= 10.0"), opt)
  }

  test("box_intersects_geom derives the overlap ranges on its four bounds") {
    GraftFunctions.register(s)
    val geom = s"array($ring)"
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val df = s.sql("SELECT id FROM pts WHERE box_intersects_geom(" +
      s"lon, lat, lon, lat, array($geom))")
    val opt = optimized(df)
    // xmin <= E, xmax >= W, ymin <= N, ymax >= S
    assert(opt.contains("<= 60.0") && opt.contains(">= 10.0") &&
      opt.contains("<= 30.0") && opt.contains(">= -20.0"), opt)
  }

  /** Box footprints with PHYSICAL bound columns: each point's 2 × 2 box. */
  private lazy val boxes: String = {
    val dir = java.nio.file.Files.createTempDirectory("envrule_box").toString
    s.read.parquet(pts).select(col("id"),
      (col("lon") - 1.0).as("xmin"), (col("lat") - 1.0).as("ymin"),
      (col("lon") + 1.0).as("xmax"), (col("lat") + 1.0).as("ymax"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def ids(df: DataFrame): Set[String] =
    df.select("id").collect().map(_.getString(0)).toSet

  test("a bare BoxRelShape within kernel gains the containment ranges; rows are unchanged") {
    GraftFunctions.register(s)
    val Seq(x0, y0, x1, y1) = Seq("xmin", "ymin", "xmax", "ymax")
      .map(c => GraftBridge.expression(col(c)))
    val df = s.read.parquet(boxes).where(GraftBridge.column(
      BoxRelShape(x0, y0, x1, y1, square, Geo.RelWithin)))
    val opt = optimized(df)
    // within: xmin >= W, xmax <= E, ymin >= S, ymax <= N
    Seq("""\(xmin#\d+ >= 10\.0\)""", """\(xmax#\d+ <= 60\.0\)""",
      """\(ymin#\d+ >= -20\.0\)""", """\(ymax#\d+ <= 30\.0\)""")
      .foreach(p => assert(p.r.findAllIn(opt).size == 1, s"$p in $opt"))
    val want = s.read.parquet(boxes).collect().collect {
      case r if Geo.boxRelShape(r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), square, Geo.RelWithin) => r.getString(0)
    }.toSet
    assert(ids(df) == want && want.nonEmpty)
  }

  test("a bare PointRelShape touches kernel gains the envelope ranges; rows are unchanged") {
    GraftFunctions.register(s)
    val df = s.read.parquet(pts).where(GraftBridge.column(PointRelShape(
      GraftBridge.expression(col("lon")), GraftBridge.expression(col("lat")),
      square, Geo.RelTouches)))
    val opt = optimized(df)
    Seq("""\(lon#\d+ >= 10\.0\)""", """\(lon#\d+ <= 60\.0\)""",
      """\(lat#\d+ >= -20\.0\)""", """\(lat#\d+ <= 30\.0\)""")
      .foreach(p => assert(p.r.findAllIn(opt).size == 1, s"$p in $opt"))
    val want = s.read.parquet(pts).collect().collect {
      case r if Geo.pointTouchesShape(r.getDouble(1), r.getDouble(2), square) => r.getString(0)
    }.toSet
    assert(ids(df) == want)
  }

  test("an empty literal geometry derives nothing and runs") {
    GraftFunctions.register(s)
    s.read.parquet(pts).createOrReplaceTempView("pts")
    val df = s.sql("SELECT id FROM pts WHERE point_in_geom(lon, lat, array())")
    val opt = optimized(df)
    assert(!opt.contains(">=") && !opt.contains("<="), opt)
    assert(df.collect().isEmpty)
  }
}
