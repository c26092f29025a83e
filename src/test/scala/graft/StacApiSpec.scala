package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.search.{SearchParams, SortBy, StacApi, StacSearch, TxnStore}

class StacApiSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("full search: collections + bbox + datetime + cql2 filter agree with a direct plan") {
    val p = SearchParams(
      collections = Seq("click", "view"),
      bbox = Some((-120.5, -60.5, 120.5, 60.5)),
      datetime = Some("2024-01-05 00:00:00/2024-01-28 00:00:00"),
      filter = Some("""{">=":[{"property":"value"},50.0]}"""),
      limit = 1000)
    val got = StacApi.search(s, sf, p)
    val expected = Tables.items(s, sf)
      .where(col("collection").isin("click", "view"))
      .where(StacApi.datetimePredicate("2024-01-05 00:00:00/2024-01-28 00:00:00"))
      .where(col("lon") >= -120.5 && col("lon") <= 120.5 &&
        col("lat") >= -60.5 && col("lat") <= 60.5)
      .where(col("value") >= 50.0)
      .count()
    assert(got.numMatched == expected)
    assert(got.items.length == expected.min(1000).toInt)
    assert(got.nextToken.isEmpty)
  }

  test("keyset pagination walks the whole result exactly once, in order") {
    val p0 = SearchParams(collections = Seq("click"),
      sortBy = Seq(SortBy("properties.value", desc = true)), limit = 7)
    var token: Option[String] = None
    var seen = Vector.empty[String]
    var pages = 0
    var matched = -1L
    var done = false
    while (!done) {
      val r = StacApi.search(s, sf, p0.copy(token = token))
      matched = r.numMatched
      seen = seen ++ r.items.map(row => row.getString(row.fieldIndex("id")))
      pages += 1
      token = r.nextToken
      done = token.isEmpty
      assert(pages < 200) // safety
    }
    assert(token.isEmpty)
    assert(seen.length == matched)
    assert(seen.distinct.length == seen.length, "no row visited twice")
    // order check: value desc, id asc — recompute expected
    val expected = Tables.items(s, sf).where(col("collection") === "click")
      .orderBy(col("value").desc, col("id"))
      .select("id").collect().map(_.getString(0)).toVector
    assert(seen == expected)
  }

  test("keyset walk under a NULLABLE desc sort visits every row exactly once (null datetimes included)") {
    // the ADVICE scenario: datetime is null for 1/7 of items; under desc
    // sort Spark orders nulls LAST — the null-aware keyset must walk
    // through the null run without dropping or re-reading rows
    val p0 = SearchParams(sortBy = Seq(SortBy("datetime", desc = true)), limit = 13)
    var token: Option[String] = None
    var seen = Vector.empty[String]
    var matched = -1L
    var done = false
    var pages = 0
    while (!done) {
      val r = StacApi.search(s, sf, p0.copy(token = token))
      matched = r.numMatched
      seen = seen ++ r.items.map(row => row.getString(row.fieldIndex("id")))
      token = r.nextToken
      pages += 1
      done = token.isEmpty
      assert(pages < 2000)
    }
    assert(seen.length == matched, s"walked ${seen.length} of $matched rows")
    assert(seen.distinct.length == seen.length, "no row visited twice")
    val expected = Tables.items(s, sf)
      .orderBy(col("datetime").desc, col("id"))
      .select("id").collect().map(_.getString(0)).toVector
    assert(seen == expected)
    // sanity: the walk actually crossed null sort keys
    val nNull = Tables.items(s, sf).where(col("datetime").isNull).count()
    assert(nNull > 0)
  }

  test("keyset walk under a nullable ASC multi-field sort (nulls last)") {
    val p0 = SearchParams(collections = Seq("click", "error"),
      sortBy = Seq(SortBy("datetime"), SortBy("value", desc = true)), limit = 17)
    var token: Option[String] = None
    var seen = Vector.empty[String]
    var matched = -1L
    var done = false
    while (!done) {
      val r = StacApi.search(s, sf, p0.copy(token = token))
      matched = r.numMatched
      seen = seen ++ r.items.map(row => row.getString(row.fieldIndex("id")))
      token = r.nextToken
      done = token.isEmpty
    }
    assert(seen.length == matched)
    val expected = Tables.items(s, sf).where(col("collection").isin("click", "error"))
      .orderBy(col("datetime").asc_nulls_last, col("value").desc, col("id"))
      .select("id").collect().map(_.getString(0)).toVector
    assert(seen == expected)
  }

  test("sortby=datetime ascending walk ≡ ORDER BY datetime ASC NULLS LAST, id") {
    val p0 = SearchParams(collections = Seq("view"), sortBy = Seq(SortBy("datetime")),
      limit = 11)
    var token: Option[String] = None
    var seen = Vector.empty[String]
    var done = false
    while (!done) {
      val r = StacApi.search(s, sf, p0.copy(token = token))
      seen = seen ++ r.items.map(row => row.getString(row.fieldIndex("id")))
      token = r.nextToken
      done = token.isEmpty
    }
    Tables.items(s, sf).createOrReplaceTempView("nulls_last_items")
    val expected = s.sql("SELECT id FROM nulls_last_items WHERE collection = 'view' " +
      "ORDER BY datetime ASC NULLS LAST, id").collect().map(_.getString(0)).toVector
    assert(seen == expected)
    // the walk ends in the null run: interval-only items come last
    val nulls = Tables.items(s, sf).where(col("collection") === "view" &&
      col("datetime").isNull).select("id").collect().map(_.getString(0)).toSet
    assert(nulls.nonEmpty && seen.takeRight(nulls.size).toSet == nulls)
  }

  test("fields extension: include/exclude project at plan level, id always kept") {
    val inc = StacApi.search(s, sf, SearchParams(collections = Seq("view"),
      include = Seq("properties.value"), limit = 5))
    assert(inc.items.nonEmpty)
    assert(inc.items.head.schema.fieldNames.toSet == Set("id", "collection", "value"))
    val exc = StacApi.search(s, sf, SearchParams(collections = Seq("view"),
      exclude = Seq("props", "properties__user_id"), limit = 5))
    val fields = exc.items.head.schema.fieldNames.toSet
    assert(!fields.contains("props") && !fields.contains("user_id"))
    assert(fields.contains("id") && fields.contains("datetime"))
    // excluding a sort field keeps it (tokens must stay well-defined)
    val keep = StacApi.search(s, sf, SearchParams(collections = Seq("view"),
      sortBy = Seq(SortBy("value")), exclude = Seq("value"), limit = 5))
    assert(keep.items.head.schema.fieldNames.contains("value"))
    // include WINS over exclude on conflict (STAC Fields extension)
    val conflict = StacApi.search(s, sf, SearchParams(collections = Seq("view"),
      include = Seq("value"), exclude = Seq("value"), limit = 5))
    assert(conflict.items.head.schema.fieldNames.contains("value"))
    // collection is never excludable (STAC minimum)
    val minimum = StacApi.search(s, sf, SearchParams(collections = Seq("view"),
      exclude = Seq("collection"), limit = 5))
    assert(minimum.items.head.schema.fieldNames.contains("collection"))
  }

  test("cql2 filters resolve properties.x name variants like the reference") {
    val r = StacApi.search(s, sf, SearchParams(
      filter = Some("""{">":[{"property":"properties.value"},300.5]}"""), limit = 5))
    val direct = Tables.items(s, sf).where(col("value") > 300.5).count()
    assert(r.numMatched == direct && direct > 0)
  }

  test("withCount=false skips the numMatched aggregate but pages identically") {
    val base = SearchParams(collections = Seq("click"), limit = 9)
    val withC = StacApi.search(s, sf, base)
    val noC = StacApi.search(s, sf, base.copy(withCount = false))
    assert(noC.numMatched == -1L)
    assert(withC.numMatched > 0)
    assert(noC.items.map(_.toString).toSeq == withC.items.map(_.toString).toSeq)
    assert(noC.nextToken == withC.nextToken)
  }

  test("offset tokens paginate identically to keyset") {
    val base = SearchParams(collections = Seq("view"), limit = 11)
    val viaOffset = Iterator.iterate(Option("off:0"): Option[String]) { tk =>
      StacApi.search(s, sf, base.copy(token = tk)).nextToken
    }.takeWhile(_.isDefined).flatMap { tk =>
      StacApi.search(s, sf, base.copy(token = tk)).items.map(r => r.getString(r.fieldIndex("id")))
    }.toVector
    val viaKeyset = {
      var token: Option[String] = None
      var out = Vector.empty[String]
      var first = true
      while (first || token.isDefined) {
        first = false
        val r = StacApi.search(s, sf, base.copy(token = token))
        out ++= r.items.map(row => row.getString(row.fieldIndex("id")))
        token = r.nextToken
      }
      out
    }
    assert(viaOffset == viaKeyset)
  }

  test("DEPTH: keyset walk to corpus exhaustion at sf0.01 — nullable " +
      "multi-field sort, every item exactly once, dozens of pages") {
    // keyset is THE 100 TB pagination story; the shallow walks above run
    // on sf0.001 — this one drains the 10× corpus through a desc sort
    // with a null-key run plus a tiebreak field, at a page size small
    // enough to force a deep walk (no count aggregate per page)
    val sf01 = "/root/testdata/sf0.01"
    val p0 = SearchParams(
      sortBy = Seq(SortBy("datetime", desc = true), SortBy("value")),
      limit = 97, withCount = false)
    var token: Option[String] = None
    var seen = Vector.empty[String]
    var pages = 0
    var done = false
    while (!done) {
      val r = StacApi.search(s, sf01, p0.copy(token = token))
      seen = seen ++ r.items.map(row => row.getString(row.fieldIndex("id")))
      token = r.nextToken
      pages += 1
      done = token.isEmpty
      assert(pages < 5000) // safety
    }
    val expected = Tables.items(s, sf01)
      .orderBy(col("datetime").desc, col("value").asc, col("id"))
      .select("id").collect().map(_.getString(0)).toVector
    assert(pages > 20, s"walk too shallow to exercise depth: $pages pages")
    assert(seen.length == expected.length,
      s"walked ${seen.length} of ${expected.length} rows in $pages pages")
    assert(seen.distinct.length == seen.length, "no row visited twice")
    assert(seen == expected, "keyset order must equal the full-sort order")
    // the walk crossed a null sort-key run
    assert(Tables.items(s, sf01).where(col("datetime").isNull).count() > 0)
  }

  test("datetime single-instant and open ranges parse to reference semantics") {
    val exact = StacApi.search(s, sf, SearchParams(datetime = Some("2024-01-15 12:00:00"), limit = 5))
    assert(exact.numMatched >= 0)
    val open = StacApi.search(s, sf, SearchParams(datetime = Some("2024-01-25 00:00:00/.."), limit = 5))
    val openEnd = StacApi.search(s, sf, SearchParams(datetime = Some("../2024-01-05 00:00:00"), limit = 5))
    assert(open.numMatched > 0 && openEnd.numMatched > 0)
    assertThrows[IllegalArgumentException] {
      StacApi.search(s, sf, SearchParams(datetime = Some("a/b/c")))
    }
  }

  test("RFC 3339 datetime forms — Z suffix, UTC offset, fractional " +
      "seconds — resolve to the same instants as the naive-UTC form") {
    // the reference accepts full RFC 3339 (stac-pydantic validates it);
    // the UTC session zone makes Spark's timestamp cast the one parser
    def matched(dt: String): Long =
      StacApi.search(s, sf, SearchParams(datetime = Some(dt), limit = 1)).numMatched
    val base = matched("2024-01-10 06:00:00/2024-01-20 18:00:00")
    assert(base > 0)
    // Z-suffixed T-separated ≡ naive (session zone is UTC)
    assert(matched("2024-01-10T06:00:00Z/2024-01-20T18:00:00Z") == base)
    // explicit +02:00 offset = the same instants shifted on the wall
    assert(matched("2024-01-10T08:00:00+02:00/2024-01-20T20:00:00+02:00") == base)
    // fractional seconds: .000 is the same instant
    assert(matched("2024-01-10T06:00:00.000Z/2024-01-20T18:00:00.000Z") == base)
    // and in the open-ended forms
    val openBase = matched("2024-01-25 00:00:00/..")
    assert(openBase > 0 && matched("2024-01-25T00:00:00Z/..") == openBase)
  }

  test("malformed bbox (3 coords) rejects with a typed error, like the " +
      "reference's 400/422 (test_api.py:206-212)") {
    val ex = intercept[IllegalArgumentException] {
      SearchParams.fromSearchBody("""{"bbox": [-66, -16, -60]}""")
    }
    assert(ex.getMessage.contains("bbox"))
  }

  test("bbox with west > east crosses the antimeridian: numMatched ≡ a61 at sf0.01") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val (w, so, e, n) = (150.141, -60.223, -150.139, 60.177)
    val r = StacApi.search(s, sf01, SearchParams(bbox = Some((w, so, e, n))))
    val a61 = StacSearch.queries("a61_bbox_antimeridian")(s, sf01).count()
    // the two half-ranges, written out by hand
    val direct = Tables.items(s, sf01)
      .where((col("lon") >= w || col("lon") <= e) && col("lat") >= so && col("lat") <= n)
      .count()
    assert(a61 > 0)
    assert(r.numMatched == a61)
    assert(direct == a61)
  }

  test("ids + intersects + sort-field resolution") {
    val hex = Array(80.137, 10.223, 50.139, 55.177, -9.861, 55.177,
      -39.859, 10.223, -9.861, -34.731, 50.139, -34.731)
    val r = StacApi.search(s, sf, SearchParams(intersects = SearchParams.ring(hex), limit = 10_000))
    assert(r.numMatched > 0)
    val ids = StacApi.search(s, sf, SearchParams(ids = Seq("1", "2", "3")))
    assert(ids.numMatched <= 3 && ids.numMatched > 0)
  }

  test("a67 collections changelog: update re-describes, delete removes, " +
      "delete + re-create resurrects") {
    val dir = graft.search.StacSearch.queries("a67_collections_changelog")(s, sf)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!dir.contains("view"), "deleted collection must vanish from the directory")
    assert(dir("click") == "Click events v2", "update must serve the latest metadata")
    assert(dir("error") == "Error events (restored)", "re-create after delete must resurrect")
    assert(dir.contains("purchase") && dir.contains("signup"), "untouched collections remain")
  }

  test("a68 merge patch: a field survives later revisions that don't carry " +
      "it, and a carried null deletes it (RFC 7396)") {
    import org.apache.spark.sql.functions._
    val merged = graft.search.StacSearch.queries("a68_merge_patch")(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    val revs = graft.core.Tables.items(s, sf)
      .where(col("collection").isin("click", "view"))
      .select(col("collection"), expr("id_num DIV 3").as("grp"), col("id_num"),
        col("value"),
        expr("CAST(get_json_object(props, '$.k') AS INT)").as("k"))
      .collect()
      .groupBy(r => (r.getString(0), r.getLong(1)))
    assert(merged.keySet == revs.keySet)
    var lwwBites = 0; var deleteBites = 0
    revs.foreach { case (key, g) =>
      val m = merged(key)
      // per-field LWW: value from the latest id_num%2==0 revision
      val vCarriers = g.filter(_.getLong(2) % 2 == 0)
      if (vCarriers.isEmpty) assert(m.isNullAt(3), s"$key: no carrier → null")
      else {
        val want = vCarriers.maxBy(_.getLong(2))
        assert(m.getDouble(3) == want.getDouble(3), s"$key value")
        // the PATCH-vs-PUT distinction actually bites when the globally
        // latest revision is NOT a value-carrier
        if (g.maxBy(_.getLong(2)).getLong(2) != want.getLong(2)) lwwBites += 1
      }
      // k: latest %3!=1 carrier; carried-as-null iff its id_num%9==8
      val kCarriers = g.filter(_.getLong(2) % 3 != 1)
      if (kCarriers.nonEmpty) {
        val last = kCarriers.maxBy(_.getLong(2))
        if (last.getLong(2) % 9 == 8) {
          assert(m.isNullAt(4), s"$key: carried null must DELETE k")
          if (kCarriers.exists(r => r.getLong(2) % 9 != 8 && !r.isNullAt(4))) deleteBites += 1
        } else assert(m.getInt(4) == last.getInt(4), s"$key k")
      }
    }
    assert(lwwBites > 0, "fixture must exercise LWW-per-field vs whole-doc")
    assert(deleteBites > 0, "fixture must exercise the null-delete path")
  }

  test("a68 merge law: the per-field LWW monoid equals a sequential RFC 7396 " +
      "fold over randomized patch logs, any batch split") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7396)
    // random revision logs: (scene, version, carriesA?, aValue-or-null-delete)
    case class Rev(scene: Long, version: Long, carries: Boolean, del: Boolean, v: Double)
    val revs = (0L until 120L).flatMap { sc =>
      (0 until 1 + rng.nextInt(6)).map { i =>
        Rev(sc, i.toLong, rng.nextBoolean(), rng.nextBoolean(), rng.nextDouble())
      }
    }
    // reference semantics: fold patches in version order — a carrying
    // revision overwrites the field (null if delete), others leave it
    val expected: Map[Long, Option[Double]] = revs.groupBy(_.scene).map {
      case (sc, g) =>
        sc -> g.sortBy(_.version).foldLeft(Option.empty[Double]) { (acc, r) =>
          if (!r.carries) acc else if (r.del) None else Some(r.v)
        }
    }
    // the monoid form (A68's aggregate shape) over the same rows
    val got = revs.map(r => (r.scene, r.version, r.carries, r.del, r.v))
      .toDF("scene", "version", "carries", "del", "v")
      .groupBy(col("scene"))
      .agg(max(when(col("carries"),
        struct(col("version"), when(!col("del"), col("v")).as("v")))).as("m"))
      .select(col("scene"), col("m.v").as("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == expected)
    // both outcomes non-vacuous under the random log
    assert(expected.values.exists(_.isEmpty) && expected.values.exists(_.nonEmpty))
  }

  test("collections directory: static metadata broadcast-joined onto derived extents") {
    val dir = StacApi.collections(s, sf)
    val rows = dir.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getAs[String]("title") != null, s"missing title for ${r.getAs[String]("collection")}")
      assert(r.getAs[String]("license") != null)
      assert(r.getAs[Long]("n_items") > 0)
      assert(r.getAs[String]("self_href").endsWith(r.getAs[String]("collection")))
      assert(r.getAs[Double]("west") <= r.getAs[Double]("east"))
    }
    // the catalog side must broadcast, never shuffle
    val plan = dir.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  // -------- round 6: arbitrary GeoJSON through the typed search param path
  // (reference parity: REST intersects accepts any GeoJSON geometry,
  // database_logic.py:419-448). Equality vs the oracle-verified CQL2 gates
  // proves the param path routes through the identical Shape kernel.

  private def gateIds(key: String): Seq[String] =
    SparkEntry.queries(key)(s, sf).select("id").collect().map(_.getString(0)).toSeq

  private def paramIds(geoJson: String, valueFilter: String): Seq[String] = {
    val r = StacApi.search(s, sf, SearchParams(
      intersects = SearchParams.geoJson(geoJson),
      filter = Some(valueFilter), limit = 1_000_000, withCount = false))
    r.items.map(_.getAs[String]("id")).toSeq.sorted
  }

  test("intersects param: MultiPolygon with hole ≡ a36 CQL2 gate") {
    val mp =
      """{"type":"MultiPolygon","coordinates":[
        |  [[[-80.137,-20.223],[-20.139,-50.177],[40.141,-20.223],[20.139,40.177],[-60.137,40.177],[-80.137,-20.223]],
        |   [[-30.139,-10.223],[0.141,-10.223],[0.141,15.177],[-30.139,15.177],[-30.139,-10.223]]],
        |  [[[80.137,-60.223],[140.139,-60.223],[140.139,0.177],[80.137,0.177],[80.137,-60.223]]]]}""".stripMargin
    val got = paramIds(mp, """{">":[{"property":"value"},30.5]}""")
    assert(got.nonEmpty && got == gateIds("a36_cql2_s_intersects_multi").sorted)
  }

  test("intersects param: Polygon with hole ≡ CQL2 s_intersects on the same geometry") {
    val poly =
      """{"type":"Polygon","coordinates":[
        |  [[-80.137,-20.223],[-20.139,-50.177],[40.141,-20.223],[20.139,40.177],[-60.137,40.177],[-80.137,-20.223]],
        |  [[-30.139,-10.223],[0.141,-10.223],[0.141,15.177],[-30.139,15.177],[-30.139,-10.223]]]}""".stripMargin
    val viaParam = paramIds(poly, """{">":[{"property":"value"},30.5]}""")
    val it = Tables.items(s, sf)
    val viaCql = it.where(graft.cql.Cql.resolve(graft.cql.Cql.parseJson(
      s"""{"and":[{"s_intersects":[{"property":"geometry"},$poly]},
         |{">":[{"property":"value"},30.5]}]}""".stripMargin), it.columns.toSeq).toColumn)
      .select("id").collect().map(_.getString(0)).toSeq.sorted
    assert(viaParam.nonEmpty && viaParam == viaCql)
  }

  test("intersects param: GeometryCollection ≡ a40 CQL2 gate") {
    val coll =
      """{"type":"GeometryCollection","geometries":[
        |  {"type":"Polygon","coordinates":[[[-120.137,-55.223],[-60.139,-55.223],[-60.139,-5.177],[-120.137,-5.177],[-120.137,-55.223]]]},
        |  {"type":"LineString","coordinates":[[10.137,-80.223],[20.139,80.177]]},
        |  {"type":"Point","coordinates":[50.141,10.177]}]}""".stripMargin
    val got = paramIds(coll, """{"<":[{"property":"value"},400.5]}""")
    assert(got.nonEmpty && got == gateIds("a40_intersects_shapes").sorted)
  }

  test("fromSearchBody: empty body yields pure defaults; unknown members " +
      "are ignored") {
    val p = SearchParams.fromSearchBody("{}")
    assert(p == SearchParams())
    val q = SearchParams.fromSearchBody(
      """{"workspace": "x", "conformance_check": true, "limit": 7}""")
    assert(q == SearchParams(limit = 7))
  }

  test("fromSearchBody: 3D bbox drops elevation (STAC spec), 2D passes " +
      "through; fields/sortby/token deserialize") {
    val p = SearchParams.fromSearchBody(
      """{"bbox": [1.0, 2.0, -5.0, 3.0, 4.0, 99.0],
        |  "sortby": [{"field": "properties.value", "direction": "desc"},
        |             {"field": "id"}],
        |  "fields": {"include": ["properties.value"], "exclude": ["links"]},
        |  "token": "abc",
        |  "ids": ["i1", "i2"]}""".stripMargin)
    assert(p.bbox.contains((1.0, 2.0, 3.0, 4.0)))
    assert(p.sortBy == Seq(SortBy("properties.value", desc = true), SortBy("id")))
    assert(p.include == Seq("properties.value") && p.exclude == Seq("links"))
    assert(p.token.contains("abc") && p.ids == Seq("i1", "i2"))
    val q = SearchParams.fromSearchBody("""{"bbox": [1.0, 2.0, 3.0, 4.0]}""")
    assert(q.bbox.contains((1.0, 2.0, 3.0, 4.0)))
  }

  test("fromSearchBody: intersects GeoJSON compiles to the same Shape the " +
      "direct geoJson() path produces") {
    val gj = """{"type":"Point","coordinates":[30.141,20.177]}"""
    val viaBody = SearchParams.fromSearchBody(s"""{"intersects": $gj}""")
    assert(viaBody.intersects == SearchParams.geoJson(gj))
  }

  test("intersects param: ring() convenience ≡ geoJson() Polygon of the same ring") {
    val hex = Array(80.137, 10.223, 50.139, 55.177, -9.861, 55.177,
      -39.859, 10.223, -9.861, -34.731, 50.139, -34.731)
    val closed = hex ++ Array(hex(0), hex(1))
    val gj = "{\"type\":\"Polygon\",\"coordinates\":[[" +
      closed.grouped(2).map(p => s"[${p(0)},${p(1)}]").mkString(",") + "]]}"
    val a = StacApi.search(s, sf, SearchParams(intersects = SearchParams.ring(hex), limit = 1_000_000, withCount = false))
    val b = StacApi.search(s, sf, SearchParams(intersects = SearchParams.geoJson(gj), limit = 1_000_000, withCount = false))
    val idsA = a.items.map(_.getAs[String]("id")).toSeq
    assert(idsA.nonEmpty && idsA == b.items.map(_.getAs[String]("id")).toSeq)
  }

  // -------- the one-pass pager against the two-step reference: a sorted
  // offset/limit collect for the page plus a separate count

  /** (ids, numMatched, next token) of one reference page at `off`. */
  private def referencePage(items: DataFrame, p: SearchParams, off: Int,
                            offsetToken: Boolean): (Seq[String], Long, Option[String]) = {
    val filtered = StacApi.plan(items, p)
    val schema = filtered.columns.toSeq
    val sorts = p.sortBy.flatMap(sb =>
      StacSearch.resolveField(sb.field, schema).map(_ -> sb.desc)) :+ ("id" -> false)
    val rows = filtered.orderBy(sorts.map { case (f, d) =>
        if (d) col(f).desc else col(f).asc_nulls_last }: _*)
      .offset(off).limit(p.limit + 1).collect()
    val items0 = rows.take(p.limit)
    def keyset(r: Row): String = sorts.map { case (f, _) =>
      Option(r.get(r.fieldIndex(f))).map(_.toString).getOrElse("\u0002")
    }.mkString("\u0001")
    val next =
      if (rows.length <= p.limit) None
      else if (offsetToken) Some(s"off:${off + p.limit}")
      else Some("ks:" + keyset(items0.last))
    (items0.map(_.getAs[String]("id")).toSeq,
      if (p.withCount) filtered.count() else -1L, next)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** First, `ks:` and `off:` pages of `p` through both StacApi paths,
    * each against the reference.
    */
  private def assertPagesMatch(items: DataFrame, p: SearchParams, offAt: Int): Unit = {
    val first = StacApi.searchOn(items, p)
    val firstRef = referencePage(items, p, 0, offsetToken = false)
    val pages = Seq((None, 0, false), (Some(s"off:$offAt"), offAt, true)) ++
      first.nextToken.map(t => (Some(t), p.limit, false))
    pages.foreach { case (token, off, offsetToken) =>
      val q = p.copy(token = token)
      val ref = referencePage(items, q, off, offsetToken)
      val typed = StacApi.searchOn(items, q)
      assert((typed.items.map(_.getAs[String]("id")).toSeq, typed.numMatched,
        typed.nextToken) == ref, s"typed $q")
      if (q.include.isEmpty && q.exclude.isEmpty) {
        val (docs, matched, next) = StacApi.searchFeaturesOn(items, q)
        val ids = docs.map(d => mapper.readTree(d).get("id").asText).toSeq
        assert((ids, matched, next) == ref, s"features $q")
      }
    }
    assert(first.nextToken == firstRef._3)
  }

  private val sortCases = Seq(
    Nil,
    Seq(SortBy("datetime")),
    Seq(SortBy("datetime", desc = true)),
    Seq(SortBy("datetime"), SortBy("properties.value", desc = true)))

  test("one-pass pager ≡ plan + orderBy/offset/limit + count: first, ks: " +
      "and off: pages over seeded searches") {
    val rng = new scala.util.Random(1017)
    val all = Seq("click", "view", "purchase", "error", "signup")
    val items = Tables.items(s, sf)
    (0 until 8).foreach { i =>
      val colls = rng.shuffle(all).take(1 + rng.nextInt(3))
      val bbox = if (rng.nextBoolean()) Some((-150.5, -70.5, 150.5, 70.5)) else None
      val p = SearchParams(collections = colls, bbox = bbox,
        sortBy = sortCases(i % sortCases.size), limit = 2 + rng.nextInt(20),
        withCount = i % 3 != 2)
      assertPagesMatch(items, p, rng.nextInt(40))
    }
    // limit = 1, and a limit above the match count (no next token)
    assertPagesMatch(items, SearchParams(collections = Seq("view"),
      sortBy = sortCases(2), limit = 1), 3)
    val few = SearchParams(ids = Seq("1", "2", "3", "4"), sortBy = sortCases(3), limit = 50)
    assert(StacApi.searchOn(items, few).nextToken.isEmpty)
    assertPagesMatch(items, few, 1)
    // fields include and exclude on the typed path
    assertPagesMatch(items, SearchParams(collections = Seq("click"),
      sortBy = sortCases(3), include = Seq("properties.value"), limit = 6), 5)
    assertPagesMatch(items, SearchParams(collections = Seq("click"),
      sortBy = sortCases(2), exclude = Seq("props", "datetime"), limit = 6), 5)
  }

  test("one-pass pager ≡ the reference over a TxnStore overlay view with a " +
      "created, a patched and a deleted item") {
    val store = new TxnStore(s, sf)
    def idOf(c: String): String = Tables.items(s, sf).where(col("collection") === c)
      .orderBy(col("id")).select("id").head().getString(0)
    val (patched, deleted) = (idOf("view"), idOf("purchase"))
    store.createItem("click", """{"type":"Feature","id":"ovl-1","geometry":
      |{"type":"Point","coordinates":[1.5,2.5]},"properties":
      |{"datetime":"2024-01-09T10:00:00","value":77.25,"user_id":3}}""".stripMargin)
    store.patchItem("view", patched, """{"properties":{"value":999.5}}""")
    store.deleteItem("purchase", deleted)
    val view = store.itemsView()
    val ids = view.select("id").collect().map(_.getString(0)).toSet
    assert(ids.contains("ovl-1") && !ids.contains(deleted))
    assert(view.where(col("id") === patched).select("value").head().getDouble(0) == 999.5)
    assert(view.count() == Tables.items(s, sf).count())
    sortCases.zipWithIndex.foreach { case (sorts, i) =>
      assertPagesMatch(view, SearchParams(collections = Seq("click", "view", "purchase"),
        sortBy = sorts, limit = 4 + i, withCount = i != 1), 2 + i)
    }
  }

  test("searchFeaturesOn runs ONE Spark job per page — first, ks: and off: — " +
      "with and without an overlay write") {
    val store = new TxnStore(s, sf)
    val p = SearchParams(collections = Seq("click", "view"),
      sortBy = Seq(SortBy("datetime", desc = true)), limit = 5)
    def jobsPerPage(): Seq[Int] = {
      val items = store.itemsView()
      val ks = StacApi.searchFeaturesOn(items, p)._3
      assert(ks.exists(_.startsWith("ks:")))
      Seq(None, ks, Some("off:7")).map(t =>
        JobCount(s)(StacApi.searchFeaturesOn(items, p.copy(token = t))).jobs)
    }
    assert(jobsPerPage() == Seq(1, 1, 1))
    store.createItem("click", """{"type":"Feature","id":"jobs-1","geometry":
      |{"type":"Point","coordinates":[1.5,2.5]},"properties":{"value":5.0}}""".stripMargin)
    assert(store.hasItemChanges)
    assert(jobsPerPage() == Seq(1, 1, 1))
  }

  test("malformed page tokens are typed errors: negative or oversized " +
      "offsets, a keyset with the wrong field count") {
    val p = SearchParams(collections = Seq("click"), sortBy = Seq(SortBy("value", desc = true)))
    Seq("off:-5", "off:2147483647", "ks:12.5", "ks:1\u00012\u00013", "nope")
      .foreach { t =>
        intercept[IllegalArgumentException](StacApi.search(s, sf, p.copy(token = Some(t))))
      }
  }
}
