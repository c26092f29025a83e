package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

import graft.core.Tables
import graft.search.StacSearch

class StacSearchSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val sf = TestSpark.sf

  test("entry (a22 combined search) returns rows on sf0.001") {
    assert(SparkEntry.entry(s).count() > 0)
  }

  test("a20: serialized features are valid GeoJSON STAC items") {
    val rows = StacSearch.a20FeatureJson(s, sf).collect()
    assert(rows.length == 20)
    val om = new ObjectMapper()
    rows.foreach { r =>
      val f = om.readTree(r.getString(1))
      assert(f.get("type").asText() == "Feature")
      assert(f.get("stac_version").asText() == "1.0.0")
      // even ids: Point; odd ids: Polygon footprint decoded from WKB
      val gtype = f.get("geometry").get("type").asText()
      if (r.getString(0).toLong % 2 == 0) {
        assert(gtype == "Point")
        val c = f.get("geometry").get("coordinates")
        assert(c.size() == 2)
        assert(c.get(0).asDouble() >= -180.0 && c.get(0).asDouble() < 180.0)
      } else {
        assert(gtype == "Polygon")
        val ring = f.get("geometry").get("coordinates").get(0)
        assert(ring.size() == 5) // closed box ring
        assert(ring.get(0).get(0).asDouble() == f.get("bbox").get(0).asDouble())
        // area items declare the projection extension + proj:* properties
        assert(f.get("stac_extensions").size() == 1)
        assert(f.get("stac_extensions").get(0).asText().contains("projection"))
        assert(f.get("properties").get("proj:epsg").asInt() == 4326)
        assert(f.get("properties").get("proj:shape").size() == 2)
      }
      if (r.getString(0).toLong % 2 == 0) {
        assert(f.get("stac_extensions").size() == 0)
        assert(!f.get("properties").has("proj:epsg"))
      }
      assert(f.get("bbox").size() == 4)
      assert(f.has("properties") && f.get("properties").has("value"))
      assert(f.get("assets").get("data").get("href").asText().endsWith("/data.tif"))
      assert(f.get("links").size() == 2)
      assert(f.get("links").get(0).get("rel").asText() == "self")
    }
  }

  test("a51 collection search: q is selective and case-insensitive; " +
      "disjoint bbox and interval match nothing; uncatalogued never match q") {
    import graft.search.StacSearch
    val world = (-180.0, -90.0, 180.0, 90.0)
    val t0 = "2024-01-01 00:00:00"; val t1 = "2024-02-01 00:00:00"
    def run(bbox: (Double, Double, Double, Double), a: String, b: String,
            q: String) =
      StacSearch.a51CollectionSearchWith(s, sf, bbox, a, b, q, 100)
        .select("collection").collect().map(_.getString(0)).toSeq
    assert(run(world, t0, t1, "ERROR") == Seq("error"))       // case-insensitive
    assert(run(world, t0, t1, "events").size == 5)            // matches all titles
    assert(run(world, t0, t1, "no-such-term").isEmpty)
    // a bbox that can't overlap any extent, and an interval before the data
    assert(run((200.0, 91.0, 210.0, 95.0), t0, t1, "events").isEmpty)
    assert(run(world, "2020-01-01 00:00:00", "2020-02-01 00:00:00", "events").isEmpty)
  }

  test("a54 nightly append: adding only the newest slice's extent partials " +
      "serves the same directory as a full recompute") {
    import graft.search.StacSearch
    import org.apache.spark.sql.functions._
    val direct = StacSearch.queries("a26_collections")(s, sf).collect()
    val slices = StacSearch.a54ExtentPartials(s, sf)
      .select(col("slice")).distinct().collect().map(_.getString(0)).sorted
    assert(slices.size >= 2, s"need >= 2 slices, got ${slices.toSeq}")
    val last = slices.last
    val tmp = java.nio.file.Files.createTempDirectory("graft_extents_append").toString
    StacSearch.a54AppendSlices(s, sf, tmp, s"slice < '$last'")   // day 1
    StacSearch.a54AppendSlices(s, sf, tmp, s"slice = '$last'")   // day 2: append
    val merged = StacSearch.a54MergedFrom(s, tmp).collect()
    assert(merged.sameElements(direct))
  }

  test("a21 queryables: JSON-schema derived from live schema") {
    val q = StacSearch.queryables(Tables.items(s, sf))
    val om = new ObjectMapper()
    val node = om.readTree(q)
    val props = node.get("properties")
    assert(props.has("id") && props.has("collection") && props.has("datetime"))
    assert(props.get("datetime").get("format").asText() == "date-time")
    assert(props.get("value").get("type").asText() == "number")
    assert(props.get("id").get("type").asText() == "string")
    assert(props.get("id_num").get("type").asText() == "integer")
  }

  test("a69 sortables: every advertised field actually sorts and pages " +
      "through the typed API; non-scalar columns are not advertised") {
    import scala.jdk.CollectionConverters._
    val withArray = Tables.items(s, sf)
      .withColumn("tags", org.apache.spark.sql.functions.array(
        org.apache.spark.sql.functions.lit("a")))
    val node = new ObjectMapper().readTree(StacSearch.sortables(withArray))
    val fields = node.get("properties").fieldNames.asScala.toSeq
    assert(!fields.contains("tags"), "array columns must not be advertised")
    assert(fields.contains("datetime") && fields.contains("value") &&
      fields.contains("id"))
    // drive each advertised field through a real sorted, paged search
    fields.foreach { f =>
      val r = graft.search.StacApi.search(s, sf, graft.search.SearchParams(
        sortBy = Seq(graft.search.SortBy(f, desc = true)), limit = 5,
        withCount = false))
      assert(r.items.length == 5, s"sortable $f must serve a page")
      assert(r.nextToken.isDefined, s"sortable $f must tokenize for paging")
      val r2 = graft.search.StacApi.search(s, sf, graft.search.SearchParams(
        sortBy = Seq(graft.search.SortBy(f, desc = true)), limit = 5,
        token = r.nextToken, withCount = false))
      assert(r2.items.length == 5, s"sortable $f page 2")
    }
  }

  test("resolveField handles properties.x / properties__x / x variants") {
    val schema = Seq("id", "value", "user_id")
    assert(StacSearch.resolveField("properties.value", schema).contains("value"))
    assert(StacSearch.resolveField("properties__value", schema).contains("value"))
    assert(StacSearch.resolveField("value", schema).contains("value"))
    assert(StacSearch.resolveField("nope", schema).isEmpty)
  }

  test("a23 keyset page equals the corresponding slice of a full sort") {
    val it = Tables.items(s, sf)
    import org.apache.spark.sql.functions._
    val full = it.select(col("value"), col("id_num"))
      .orderBy(col("value"), col("id_num")).collect()
    val expected = full.filter(r => r.getDouble(0) > 250.0 ||
      (r.getDouble(0) == 250.0 && r.getLong(1) > 0L)).take(25)
      .map(r => (r.getDouble(0), r.getLong(1).toString)).toSeq
    val got = StacSearch.queries("a23_keyset_paginate")(s, sf)
      .select(col("value"), col("id")).collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(got == expected)
  }
}
