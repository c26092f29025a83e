package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.search.{SearchParams, StacApi, StacHttp}

/** The HTTP layer exercised over real sockets (JDK HttpClient against the
  * JDK HttpServer): every route the reference's FastAPI app mounts, each
  * checked against the TYPED api or a direct plan — the HTTP codec must
  * be a bijection over StacApi, never a second query engine.
  */
class StacHttpSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  private var server: StacHttp.Server = _
  private val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def beforeAll(): Unit = { server = StacHttp.start(s, sf) }
  override def afterAll(): Unit = if (server != null) server.stop()

  private def get(path: String): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(server.base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def post(path: String, body: String): (Int, JsonNode) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(server.base + path))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), mapper.readTree(r.body()))
  }

  private def send(base: String, method: String, path: String,
                   body: Option[String]): (Int, JsonNode) = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", "application/json")
    val req = body match {
      case Some(s0) => b.method(method, HttpRequest.BodyPublishers.ofString(s0))
      case None     => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    val r = client.send(req.build(), HttpResponse.BodyHandlers.ofString())
    val node = if (r.body() == null || r.body().isEmpty)
      mapper.createObjectNode() else mapper.readTree(r.body())
    (r.statusCode(), node)
  }

  test("landing page: catalog doc with conformsTo and the route links") {
    val (code, doc) = get("/")
    assert(code == 200)
    assert(doc.get("type").asText == "Catalog")
    assert(doc.get("conformsTo").size() == StacHttp.conformsTo.length)
    val rels = (0 until doc.get("links").size())
      .map(doc.get("links").get(_).get("rel").asText).toSet
    assert(Set("self", "conformance", "data", "search").subsetOf(rels))
  }

  test("/conformance equals the landing page's conformsTo") {
    val (code, doc) = get("/conformance")
    assert(code == 200)
    val uris = (0 until doc.get("conformsTo").size())
      .map(doc.get("conformsTo").get(_).asText)
    assert(uris == StacHttp.conformsTo)
  }

  test("GET /search: FeatureCollection page matches the typed search") {
    val (code, doc) = get("/search?collections=click,view&limit=5")
    assert(code == 200)
    assert(doc.get("type").asText == "FeatureCollection")
    assert(doc.get("features").size() == 5)
    val typed = StacApi.search(s, sf,
      SearchParams(collections = Seq("click", "view"), limit = 5))
    assert(doc.get("numberMatched").asLong == typed.numMatched)
    assert(doc.get("numberReturned").asInt == 5)
    // same first page, same order: ids agree pairwise
    val httpIds = (0 until 5).map(doc.get("features").get(_).get("id").asText)
    val typedIds = typed.items.map(r => r.getString(r.fieldIndex("id"))).toSeq
    assert(httpIds == typedIds)
    // each feature is a real STAC item document
    val f0 = doc.get("features").get(0)
    assert(f0.get("type").asText == "Feature")
    assert(f0.get("stac_version").asText == "1.0.0")
    assert(f0.has("geometry") && f0.has("properties") && f0.has("assets"))
  }

  test("GET /search next-link href walks page 2 AS ADVERTISED ≡ the typed walk") {
    val (_, p1) = get("/search?collections=click&limit=4")
    val next = p1.get("links").get(0)
    assert(next.get("rel").asText == "next")
    // the href must carry the WHOLE original search (collections, limit)
    // plus the new token — a client follows it verbatim, so a bare
    // `/search?token=…` would silently lose the filters
    val href = next.get("href").asText
    assert(href.startsWith("/search?"))
    assert(href.contains("collections=click") && href.contains("limit=4"))
    val (code, p2) = get(href)
    assert(code == 200)
    val typed1 = StacApi.search(s, sf, SearchParams(collections = Seq("click"), limit = 4))
    val typed2 = StacApi.search(s, sf, SearchParams(collections = Seq("click"), limit = 4,
      token = typed1.nextToken))
    val httpIds = (0 until p2.get("features").size())
      .map(p2.get("features").get(_).get("id").asText)
    assert(httpIds == typed2.items.map(r => r.getString(r.fieldIndex("id"))).toSeq)
  }

  test("POST /search next link is the method/body+merge form") {
    val (_, p1) = post("/search", """{"collections":["click"],"limit":4}""")
    val next = p1.get("links").get(0)
    assert(next.get("rel").asText == "next")
    assert(next.get("href").asText == "/search")
    assert(next.get("method").asText == "POST")
    assert(next.get("merge").asBoolean)
    val token = next.get("body").get("token").asText
    // client merges {token} into its original body and re-POSTs
    val (code, p2) = post("/search",
      s"""{"collections":["click"],"limit":4,"token":"$token"}""")
    assert(code == 200)
    val typed1 = StacApi.search(s, sf, SearchParams(collections = Seq("click"), limit = 4))
    val typed2 = StacApi.search(s, sf, SearchParams(collections = Seq("click"), limit = 4,
      token = typed1.nextToken))
    val httpIds = (0 until p2.get("features").size())
      .map(p2.get("features").get(_).get("id").asText)
    assert(httpIds == typed2.items.map(r => r.getString(r.fieldIndex("id"))).toSeq)
  }

  test("limit contract: non-positive → 400, oversized clamps to the 10000 ceiling") {
    val (bad, err) = get("/search?limit=0")
    assert(bad == 400 && err.get("code").asText == "BadRequest")
    val (bad2, _) = get("/search?limit=-5")
    assert(bad2 == 400)
    val (badPost, _) = post("/search", """{"limit":0}""")
    assert(badPost == 400)
    // Int.MaxValue would overflow limit+1 into .limit(negative) unclamped
    val (code, doc) = get(s"/search?collections=click&limit=${Int.MaxValue}")
    assert(code == 200)
    assert(doc.get("numberReturned").asInt ==
      StacApi.search(s, sf, SearchParams(collections = Seq("click"),
        limit = 10000)).items.length)
  }

  test("POST /search body ≡ GET /search with the same parameters") {
    val body =
      """{"collections":["click"],"bbox":[-120,-60,120,60],
        |"datetime":"2024-01-05 00:00:00/2024-01-28 00:00:00","limit":50}"""
        .stripMargin.replace("\n", "")
    val (code, postDoc) = post("/search", body)
    assert(code == 200)
    val (_, getDoc) = get("/search?collections=click&bbox=-120,-60,120,60" +
      "&datetime=" + URLEncoder.encode("2024-01-05 00:00:00/2024-01-28 00:00:00", UTF_8) +
      "&limit=50")
    assert(postDoc.get("numberMatched").asLong == getDoc.get("numberMatched").asLong)
    val ids = (d: JsonNode) => (0 until d.get("features").size())
      .map(d.get("features").get(_).get("id").asText)
    assert(ids(postDoc) == ids(getDoc))
  }

  test("GET /search cql2-text filter ≡ the typed cql2-json filter") {
    val (code, doc) = get("/search?limit=1000&filter=" +
      URLEncoder.encode("value >= 50 AND collection = 'click'", UTF_8))
    assert(code == 200)
    val typed = StacApi.search(s, sf, SearchParams(limit = 1000,
      filter = Some("""{"and":[{">=":[{"property":"value"},50]},
        {"=":[{"property":"collection"},"click"]}]}""")))
    assert(doc.get("numberMatched").asLong == typed.numMatched)
  }

  test("fields extension prunes the document: exclude drops, include keeps minimum") {
    val (_, excl) = get("/search?collections=click&limit=1&fields=-assets,-properties.value")
    val f = excl.get("features").get(0)
    assert(!f.has("assets"))
    assert(f.has("properties") && !f.get("properties").has("value"))
    assert(f.has("id") && f.has("collection")) // never excludable
    // include properties.value, not .datetime — interval items carry a
    // null datetime that to_json drops, so .datetime is legitimately
    // absent from some documents
    val (_, incl) = get("/search?collections=click&limit=1&fields=properties.value")
    val g = incl.get("features").get(0)
    assert(g.has("id") && g.has("collection") && g.has("type"))
    assert(g.get("properties").has("value"))
    assert(!g.get("properties").has("user_id")) // not included → gone
    assert(!g.has("assets"))
  }

  test("/collections two-page walk tiles the directory in order") {
    val all = StacApi.collections(s, sf).collect()
      .map(r => r.getString(r.fieldIndex("collection"))).toSeq
    val (_, p1) = get("/collections?limit=2")
    assert(p1.get("collections").size() == 2)
    val token = p1.get("links").get(0).get("token").asText
    val (_, p2) = get("/collections?limit=2&token=" + URLEncoder.encode(token, UTF_8))
    val walked = (0 until 2).map(p1.get("collections").get(_).get("id").asText) ++
      (0 until p2.get("collections").size())
        .map(p2.get("collections").get(_).get("id").asText)
    assert(walked == all.take(walked.length))
  }

  test("/collections/{id}: computed extent + metadata; 404 on unknown") {
    val (code, doc) = get("/collections/click")
    assert(code == 200)
    assert(doc.get("type").asText == "Collection")
    assert(doc.get("id").asText == "click")
    val bbox = doc.get("extent").get("spatial").get("bbox").get(0)
    val direct = Tables.items(s, sf).where(col("collection") === "click")
      .agg(min("lon"), min("lat"), max("lon"), max("lat")).head()
    assert(bbox.get(0).asDouble == direct.getDouble(0))
    assert(bbox.get(1).asDouble == direct.getDouble(1))
    assert(bbox.get(2).asDouble == direct.getDouble(2))
    assert(bbox.get(3).asDouble == direct.getDouble(3))
    val (nf, err) = get("/collections/nope")
    assert(nf == 404 && err.get("code").asText == "NotFoundError")
  }

  test("/collections/{id}/items and single-item lookup; 404 on a missing item") {
    val anyId = Tables.items(s, sf).where(col("collection") === "view")
      .orderBy(col("id")).select(col("id")).head().getString(0)
    val (code, item) = get(s"/collections/view/items/$anyId")
    assert(code == 200)
    assert(item.get("id").asText == anyId)
    assert(item.get("collection").asText == "view")
    val (lc, list) = get("/collections/view/items?limit=3")
    assert(lc == 200 && list.get("features").size() == 3)
    assert((0 until 3).forall(i =>
      list.get("features").get(i).get("collection").asText == "view"))
    val (nf, _) = get("/collections/view/items/definitely-not-an-id")
    assert(nf == 404)
  }

  test("/queryables is the schema-derived JSON schema; collection scope 404s unknowns") {
    val (code, doc) = get("/queryables")
    assert(code == 200)
    assert(doc.get("$schema").asText.nonEmpty)
    assert(doc.get("properties").has("collection"))
    assert(doc.get("properties").has("datetime"))
    val (nf, _) = get("/collections/nope/queryables")
    assert(nf == 404)
  }

  test("/sortables is the schema-derived sortables doc; collection scope 404s unknowns") {
    val (code, doc) = get("/sortables")
    assert(code == 200)
    assert(doc.get("$schema").asText.nonEmpty)
    // advertised = the typed layer's document, byte for byte
    val typed = graft.search.StacSearch.sortables(Tables.items(s, sf))
    assert(mapper.readTree(typed) == doc)
    // orderable scalars advertised, arrays/structs omitted
    assert(doc.get("properties").has("value") && doc.get("properties").has("datetime"))
    val (sc, scoped) = get("/collections/view/sortables")
    assert(sc == 200 && scoped.get("properties").has("value"))
    val (nf, _) = get("/collections/nope/sortables")
    assert(nf == 404)
  }

  test("/aggregations lists the supported set; /aggregate ≡ the typed single-pass bundle") {
    val (code, doc) = get("/aggregations")
    assert(code == 200)
    val names = (0 until doc.get("aggregations").size())
      .map(doc.get("aggregations").get(_).get("name").asText)
    assert(names == StacApi.supportedAggregations.map(_._1))
    val q = "aggregations=" + URLEncoder.encode(
      "total_count,collection_frequency,datetime_frequency,value_stats", UTF_8) +
      "&collections=click,view&datetime=" +
      URLEncoder.encode("2024-01-05 00:00:00/2024-01-20 00:00:00", UTF_8)
    val (ac, agg) = get(s"/aggregate?$q")
    assert(ac == 200)
    val typed = StacApi.aggregate(s, sf,
      graft.search.SearchParams(collections = Seq("click", "view"),
        datetime = Some("2024-01-05 00:00:00/2024-01-20 00:00:00")),
      Seq("total_count", "collection_frequency", "datetime_frequency", "value_stats"))
    val byName = (0 until agg.get("aggregations").size())
      .map(agg.get("aggregations").get(_)).map(n => n.get("name").asText -> n).toMap
    assert(byName("total_count").get("value").asLong == typed.head.value.get)
    // total matches an independent direct count
    val direct = StacApi.plan(Tables.items(s, sf),
      graft.search.SearchParams(collections = Seq("click", "view"),
        datetime = Some("2024-01-05 00:00:00/2024-01-20 00:00:00"))).count()
    assert(byName("total_count").get("value").asLong == direct)
    val cf = byName("collection_frequency")
    val httpBuckets = (0 until cf.get("buckets").size()).map { i =>
      val b = cf.get("buckets").get(i)
      b.get("key").asText -> b.get("frequency").asLong
    }
    assert(httpBuckets == typed(1).buckets.map(b => b.key -> b.frequency))
    assert(httpBuckets.map(_._2).sum == direct) // frequencies tile the total
    val vs = byName("value_stats")
    assert(vs.get("overall_min").asDouble == typed(3).min.get)
    assert(vs.get("overall_max").asDouble == typed(3).max.get)
    // collection-scoped twin
    val (scc, scoped) = get("/collections/click/aggregate?aggregations=total_count")
    assert(scc == 200)
    assert(scoped.get("aggregations").get(0).get("value").asLong ==
      StacApi.plan(Tables.items(s, sf),
        graft.search.SearchParams(collections = Seq("click"))).count())
    // POST twin with body search params
    val (pc, posted) = post("/aggregate",
      """{"collections":["click","view"],
        |"datetime":"2024-01-05 00:00:00/2024-01-20 00:00:00",
        |"aggregations":["total_count"]}""".stripMargin.replace("\n", ""))
    assert(pc == 200)
    assert(posted.get("aggregations").get(0).get("value").asLong == direct)
  }

  test("/aggregate 400-contract: unknown or missing aggregation names") {
    val (c1, err) = get("/aggregate?aggregations=bogus_agg")
    assert(c1 == 400 && err.get("code").asText == "BadRequest")
    assert(err.get("description").asText.contains("bogus_agg"))
    val (c2, _) = get("/aggregate")
    assert(c2 == 400)
  }

  test("bad requests surface as 400 JSON, unknown routes as 404") {
    val (code, err) = get("/search?bbox=1,2,3")
    assert(code == 400 && err.get("code").asText == "BadRequest")
    val (code2, _) = get("/search?filter-lang=sql&filter=" +
      URLEncoder.encode("value > 1", UTF_8))
    assert(code2 == 400)
    val (code3, _) = get("/no/such/route")
    assert(code3 == 404)
    // malformed page tokens: a negative offset, an offset whose page bound
    // overflows an Int, a keyset token with the wrong field count
    Seq("/search?token=off:-5", "/search?token=off:2147483647",
      "/search?sortby=-value&token=ks:12.5").foreach { path =>
      val (c, e) = get(path)
      assert(c == 400 && e.get("code").asText == "BadRequest", s"$path: $e")
    }
    // POST /search members of the wrong JSON type: a string where an
    // array belongs, a non-array include list, sortby entries with no
    // field or not in an array
    Seq("""{"collections":"click"}""", """{"ids":"5"}""",
      """{"fields":{"include":"id"}}""", """{"sortby":[{"direction":"desc"}]}""",
      """{"sortby":{"field":"value"}}""").foreach { body =>
      val (c, e) = post("/search", body)
      assert(c == 400 && e.get("code").asText == "BadRequest", s"$body: $e")
    }
  }

  test("/collections/{id}/items runs ONE Spark job once the collection set " +
      "is filled; an unknown collection is a 404 with no job") {
    assert(get("/collections/view/items?limit=3")._1 == 200) // fills the set
    val items = JobCount(s)(get("/collections/view/items?limit=3"))
    assert(items.result._1 == 200 && items.jobs == 1, items)
    val unknown = JobCount(s)(get("/collections/nope/items"))
    assert(unknown.result._1 == 404 && unknown.jobs == 0, unknown)
  }

  test("transactions (r12): create → search → patch → delete over real " +
      "sockets, with the reference's 404/409 contracts") {
    // a dedicated server: transactions mutate its overlay, and the other
    // tests assert base-corpus answers
    val srv = StacHttp.start(s, sf)
    try {
      val b = srv.base
      def g(path: String) = send(b, "GET", path, None)
      def feature(id: String, v: Double): String =
        s"""{"type":"Feature","id":"$id","geometry":
           |{"type":"Point","coordinates":[12.5,43.25]},
           |"properties":{"datetime":"2024-02-03T04:05:06","value":$v,
           |"user_id":7,"mission":"alpha"}}""".stripMargin.replace("\n", "")

      // item create needs an existing collection → 404 on an unknown one
      val (nf, _) = send(b, "POST", "/collections/nope/items",
        Some(feature("tx-1", 1.5)))
      assert(nf == 404)

      // create in a real collection → 201, document echoes the fields
      val (c1, f1) = send(b, "POST", "/collections/click/items",
        Some(feature("tx-1", 1.5)))
      assert(c1 == 201, f1)
      assert(f1.get("id").asText == "tx-1" &&
        f1.at("/properties/value").asDouble == 1.5 &&
        f1.at("/properties/mission").asText == "alpha")

      // duplicate create → 409 Conflict (the reference's create_item)
      val (dup, derr) = send(b, "POST", "/collections/click/items",
        Some(feature("tx-1", 9.9)))
      assert(dup == 409 && derr.get("code").asText == "ConflictError")

      // the created item is SEARCHABLE immediately (ids filter + lookup)
      val (sc, sr) = g("/search?ids=tx-1&collections=click")
      assert(sc == 200 && sr.get("numberReturned").asInt == 1, sr)
      assert(sr.at("/features/0/properties/value").asDouble == 1.5)
      val (lc, lf) = g("/collections/click/items/tx-1")
      assert(lc == 200 && lf.get("id").asText == "tx-1")

      // PUT replaces the document; PATCH is RFC 7386 merge (null removes)
      val (uc, uf) = send(b, "PUT", "/collections/click/items/tx-1",
        Some(feature("ignored-id-in-body", 2.5)))
      assert(uc == 200 && uf.at("/properties/value").asDouble == 2.5)
      val (pc, pf) = send(b, "PATCH", "/collections/click/items/tx-1",
        Some("""{"properties":{"value":3.5,"mission":null,"quality":"good"}}"""))
      assert(pc == 200, pf)
      assert(pf.at("/properties/value").asDouble == 3.5 &&
        pf.at("/properties/quality").asText == "good" &&
        pf.at("/properties/mission").isMissingNode, pf)
      val (_, sr2) = g("/search?ids=tx-1&collections=click")
      assert(sr2.at("/features/0/properties/value").asDouble == 3.5)

      // PUT/PATCH/DELETE on a missing item → 404
      assert(send(b, "PUT", "/collections/click/items/ghost",
        Some(feature("ghost", 1.0)))._1 == 404)
      assert(send(b, "PATCH", "/collections/click/items/ghost",
        Some("""{"properties":{"value":1}}"""))._1 == 404)
      assert(send(b, "DELETE", "/collections/click/items/ghost", None)._1 == 404)

      // delete → 204; gone from lookup and search; double-delete → 404
      assert(send(b, "DELETE", "/collections/click/items/tx-1", None)._1 == 204)
      assert(g("/collections/click/items/tx-1")._1 == 404)
      assert(g("/search?ids=tx-1")._2.get("numberReturned").asInt == 0)
      assert(send(b, "DELETE", "/collections/click/items/tx-1", None)._1 == 404)

      // a BASE item can be updated and deleted too (overlay over base)
      val (bc, bf) = g("/collections/view/items")
      assert(bc == 200)
      val baseId = bf.at("/features/0/id").asText
      val (bp, bpf) = send(b, "PATCH", s"/collections/view/items/$baseId",
        Some("""{"properties":{"value":123.25}}"""))
      assert(bp == 200 && bpf.at("/properties/value").asDouble == 123.25, bpf)
      assert(send(b, "DELETE", s"/collections/view/items/$baseId", None)._1 == 204)
      assert(g(s"/collections/view/items/$baseId")._1 == 404)

      // ---- collection transactions (A67 over the same contracts)
      val collDoc =
        """{"id":"campaign-x","title":"Campaign X","license":"CC-BY-4.0",
          |"description":"created over HTTP"}""".stripMargin.replace("\n", "")
      val (cc, cn) = send(b, "POST", "/collections", Some(collDoc))
      assert(cc == 201 && cn.get("id").asText == "campaign-x", cn)
      assert(send(b, "POST", "/collections", Some(collDoc))._1 == 409)
      // create a collection that exists in the BASE directory → 409
      assert(send(b, "POST", "/collections",
        Some("""{"id":"click","title":"dup"}"""))._1 == 409)
      // visible in the directory and addressable; items can land in it
      val (gc2, gn) = g("/collections/campaign-x")
      assert(gc2 == 200 && gn.get("title").asText == "Campaign X")
      val (dirC, dirN) = g("/collections?limit=10000")
      import scala.jdk.CollectionConverters._
      val ids = dirN.get("collections").elements().asScala.map(_.get("id").asText).toSeq
      assert(ids.contains("campaign-x") && ids.contains("click"), ids)
      assert(dirC == 200 && ids == ids.sorted, ids)
      val (ic, _) = send(b, "POST", "/collections/campaign-x/items",
        Some(feature("tx-2", 5.0)))
      assert(ic == 201)
      assert(g("/search?collections=campaign-x")._2
        .get("numberReturned").asInt == 1)
      // update keeps identity, changes metadata
      val (upc, upn) = send(b, "PUT", "/collections/campaign-x",
        Some("""{"id":"campaign-x","title":"Campaign X2"}"""))
      assert(upc == 200 && upn.get("title").asText == "Campaign X2")
      assert(send(b, "PUT", "/collections/ghost",
        Some("""{"id":"ghost"}"""))._1 == 404)
      // delete removes the collection AND its items (the reference's
      // delete_collection semantics); 404 afterwards, 404 on re-delete
      assert(send(b, "DELETE", "/collections/campaign-x", None)._1 == 204)
      assert(g("/collections/campaign-x")._1 == 404)
      assert(g("/search?collections=campaign-x")._2
        .get("numberReturned").asInt == 0)
      assert(send(b, "DELETE", "/collections/campaign-x", None)._1 == 404)
      // deleting a BASE collection purges its items from search
      assert(send(b, "DELETE", "/collections/error", None)._1 == 204)
      assert(g("/collections/error")._1 == 404)
      assert(g("/search?collections=error")._2
        .get("numberReturned").asInt == 0)
      // bad geometry type is a 400, not a silent lon/lat guess
      val badGeom =
        """{"type":"Feature","id":"tx-3","geometry":{"type":"Polygon",
          |"coordinates":[[[0,0],[1,0],[1,1],[0,0]]]},"properties":{}}"""
          .stripMargin.replace("\n", "")
      assert(send(b, "POST", "/collections/click/items", Some(badGeom))._1 == 400)
      // client DATA errors are 400s, never 500s (r12 review findings):
      // unparseable datetime, non-numeric coordinates, non-object
      // collection body — and a rejected body must not poison the store
      val badDt =
        """{"type":"Feature","id":"tx-4","geometry":{"type":"Point",
          |"coordinates":[1,2]},"properties":{"datetime":"2024-02-03T04:05:06+01:00"}}"""
          .stripMargin.replace("\n", "")
      assert(send(b, "POST", "/collections/click/items", Some(badDt))._1 == 400)
      val badCoords =
        """{"type":"Feature","id":"tx-5","geometry":{"type":"Point",
          |"coordinates":["abc","def"]},"properties":{}}"""
          .stripMargin.replace("\n", "")
      assert(send(b, "POST", "/collections/click/items", Some(badCoords))._1 == 400)
      assert(send(b, "POST", "/collections", Some("[1,2]"))._1 == 400)
      assert(send(b, "PUT", "/collections/click", Some("\"oops\""))._1 == 400)
      val (okAfter, _) = g("/collections/click")
      assert(okAfter == 200) // the rejected PUT left the doc serving

      // overlay-mode /collections honors limit + token (r12 review
      // finding: the merged roster must page, not dump)
      val (p1c, p1) = g("/collections?limit=2")
      assert(p1c == 200 && p1.get("collections").size == 2, p1)
      val tok = p1.get("links").elements().asScala
        .find(l => l.get("rel").asText == "next").map(_.get("token").asText)
      assert(tok.isDefined, p1)
      val (p2c, p2) = g(s"/collections?limit=100&token=${tok.get}")
      assert(p2c == 200 && p2.get("collections").size > 0)
      val page1Ids = p1.get("collections").elements().asScala.map(_.get("id").asText).toSeq
      val page2Ids = p2.get("collections").elements().asScala.map(_.get("id").asText).toSeq
      assert((page1Ids ++ page2Ids) == (page1Ids ++ page2Ids).sorted)
      assert(page1Ids.toSet.intersect(page2Ids.toSet).isEmpty)
    } finally srv.stop()
  }
}
