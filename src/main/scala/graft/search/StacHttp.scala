package graft.search

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}

/** The reference's USER surface: a STAC API HTTP server (app.py mounts
  * stac-fastapi's FastAPI routes over the DuckDB client; this twin mounts
  * the JDK's built-in `com.sun.net.httpserver` over the typed
  * [[StacApi]]). Zero new dependencies — the server ships with the JRE,
  * JSON rides the Jackson already on Spark's classpath.
  *
  * Routes (the stac-fastapi set the reference exposes, app.py:52-76):
  *   - `GET  /`                                  landing page (catalog + links + conformsTo)
  *   - `GET  /conformance`                       conformance classes
  *   - `GET  /search` / `POST /search`           item search (all extensions)
  *   - `GET  /collections`                       paged directory (token/limit)
  *   - `GET  /collections/{id}`                  one collection
  *   - `GET  /collections/{id}/items`            OGC Features items (limit/token/bbox/datetime)
  *   - `GET  /collections/{id}/items/{itemId}`   one item (404 JSON when absent)
  *   - `GET  /queryables`, `/collections/{id}/queryables`  filter schema
  *
  * Design: every handler is a THIN codec — parse request → SearchParams →
  * [[StacApi.searchFeatures]] (one Spark job counts the matches and keeps
  * the page; the A20 Feature document is projected over the page rows
  * only). Collection existence is the store's id set
  * ([[TxnStore.collectionExists]]); only routes that return a collection
  * document run the computed-extents query. GET `filter` defaults to
  * cql2-TEXT per OGC API-Features Part 3 (`filter-lang=cql2-json`
  * switches), POST
  * bodies go through the A62 codec — both languages land on the one CQL2
  * AST. The fields extension prunes the DOCUMENT here (include wins,
  * id/collection protected — the same pinned rules StacApi.applyFields
  * applies to columns; the column path stays the scale win for typed
  * consumers, the document path is what HTTP clients observe).
  *
  * Reference: stac_fastapi/duckdb/app.py (route mount), core.py via
  * stac-fastapi (landing/conformance shapes).
  */
object StacHttp {

  /** The conformance classes the reference advertises: STAC core +
    * item-search + the four mounted extensions (app.py:34-40), plus
    * ADVANCED_COMPARISON_OPERATORS explicitly appended (app.py:30-33).
    */
  val conformsTo: Seq[String] = Seq(
    "https://api.stacspec.org/v1.0.0/core",
    "https://api.stacspec.org/v1.0.0/collections",
    "https://api.stacspec.org/v1.0.0/ogcapi-features",
    "https://api.stacspec.org/v1.0.0/item-search",
    "https://api.stacspec.org/v1.0.0/item-search#fields",
    "https://api.stacspec.org/v1.0.0/item-search#query",
    "https://api.stacspec.org/v1.0.0/item-search#sort",
    "https://api.stacspec.org/v1.0.0/item-search#filter",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/core",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/geojson",
    "http://www.opengis.net/spec/ogcapi-features-3/1.0/conf/filter",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-text",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-json",
    "http://www.opengis.net/spec/cql2/1.0/conf/basic-cql2",
    "http://www.opengis.net/spec/cql2/1.0/conf/advanced-comparison-operators",
    "https://api.stacspec.org/v0.3.0/aggregation",
    "http://www.opengis.net/spec/ogcapi-records-1/1.0/req/sortables")

  private val mapper = new ObjectMapper()

  final class Server private[StacHttp] (val http: HttpServer,
      pool: java.util.concurrent.ExecutorService,
      /** The transaction overlay (r12): HTTP writes land here; every
        * read route serves the merged view.
        */
      val store: TxnStore) {
    def port: Int = http.getAddress.getPort
    def base: String = s"http://localhost:$port"
    // shut the pool down too — its threads are non-daemon, so a stop()
    // that leaves them running pins the JVM forever
    def stop(): Unit = { http.stop(0); pool.shutdown() }
  }

  /** Start the API over one fixture dir. `port = 0` picks an ephemeral
    * port (tests); the returned handle exposes it.
    */
  def start(spark: SparkSession, dir: String, port: Int = 0): Server = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val store = new TxnStore(spark, dir)
    server.createContext("/", (ex: HttpExchange) => handle(spark, dir, store, ex))
    // a small pool: handlers run Spark actions, which parallelize
    // internally — the pool only bounds concurrent REQUESTS
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(pool)
    server.start()
    new Server(server, pool, store)
  }

  // ------------------------------------------------------- dispatch
  private def handle(spark: SparkSession, dir: String, store: TxnStore,
                     ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/") match {
        case "" => "/"
        case p  => p
      }
      val q = queryParams(ex)
      def itemsFrame = store.itemsView()
      def body(): String = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      (ex.getRequestMethod, path.split("/").toList.drop(1)) match {
        case ("GET", Nil) | ("GET", List("")) => json(ex, 200, landing())
        case ("GET", List("conformance")) =>
          val o = mapper.createObjectNode()
          conformsTo.foreach(o.withArray[ArrayNode]("conformsTo").add)
          json(ex, 200, o)
        case ("GET", List("search")) =>
          json(ex, 200, featureCollection(itemsFrame, paramsFromQuery(q), q,
            "/search"))
        case ("POST", List("search")) =>
          val p = SearchParams.fromSearchBody(body())
          json(ex, 200, featureCollection(itemsFrame, p, Map.empty,
            "/search", post = true))
        case ("GET", List("collections")) =>
          json(ex, 200, collectionsPage(spark, dir, store, q))
        case ("GET", List("collections", c)) =>
          collectionNode(spark, dir, store, c) match {
            case Some(n) => json(ex, 200, n)
            case None    => notFound(ex, s"Collection $c does not exist")
          }
        case ("GET", List("collections", c, "items")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else
            json(ex, 200, featureCollection(itemsFrame,
              paramsFromQuery(q).copy(collections = Seq(c)), q,
              s"/collections/$c/items"))
        case ("GET", List("collections", c, "items", itemId)) =>
          val (feats, _, _) = StacApi.searchFeaturesOn(itemsFrame,
            SearchParams(collections = Seq(c), ids = Seq(itemId), limit = 1,
              withCount = false))
          if (feats.isEmpty) notFound(ex, s"Item $itemId does not exist")
          else json(ex, 200,
            mapper.readTree(feats.head).asInstanceOf[ObjectNode])

        // ------------- transactions (r12): the reference's declared-but-
        // stubbed surface (database_logic.py:1049-1187), mounted for real
        case ("POST", List("collections", c, "items")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else {
            val f = store.createItem(c, body())
            json(ex, 201, store.renderFeature(f))
          }
        case ("PUT", List("collections", c, "items", itemId)) =>
          json(ex, 200, store.renderFeature(store.updateItem(c, itemId, body())))
        case ("PATCH", List("collections", c, "items", itemId)) =>
          json(ex, 200, store.renderFeature(store.patchItem(c, itemId, body())))
        case ("DELETE", List("collections", c, "items", itemId)) =>
          store.deleteItem(c, itemId)
          noContent(ex)
        case ("POST", List("collections")) =>
          val id = store.createCollection(body())
          collectionNode(spark, dir, store, id) match {
            case Some(n) => json(ex, 201, n)
            case None    => json(ex, 201, mapper.createObjectNode().put("id", id))
          }
        case ("PUT", List("collections", c)) =>
          store.updateCollection(c, body())
          json(ex, 200, collectionNode(spark, dir, store, c).get)
        case ("DELETE", List("collections", c)) =>
          store.deleteCollection(c)
          noContent(ex)
        case ("GET", List("sortables")) =>
          raw(ex, 200, StacSearch.sortables(itemsFrame))
        case ("GET", List("collections", c, "sortables")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else raw(ex, 200, StacSearch.sortables(
            itemsFrame
              .where(org.apache.spark.sql.functions.col("collection") === c)))
        case ("GET", List("aggregations")) =>
          json(ex, 200, aggregationsDoc())
        case ("GET", List("collections", c, "aggregations")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else json(ex, 200, aggregationsDoc())
        case ("GET", List("aggregate")) =>
          json(ex, 200, aggregateNode(itemsFrame, paramsFromQuery(q),
            csv(q.getOrElse("aggregations", ""))))
        case ("POST", List("aggregate")) =>
          val b = body()
          val names = Option(mapper.readTree(b).get("aggregations"))
            .map { n =>
              import scala.jdk.CollectionConverters._
              n.elements().asScala.map(_.asText).toSeq
            }.getOrElse(Nil)
          json(ex, 200, aggregateNode(itemsFrame,
            SearchParams.fromSearchBody(b), names))
        case ("GET", List("collections", c, "aggregate")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else json(ex, 200, aggregateNode(itemsFrame,
            paramsFromQuery(q).copy(collections = Seq(c)),
            csv(q.getOrElse("aggregations", ""))))
        case ("GET", List("queryables")) =>
          raw(ex, 200, StacSearch.queryables(itemsFrame))
        case ("GET", List("collections", c, "queryables")) =>
          if (!store.collectionExists(c))
            notFound(ex, s"Collection $c does not exist")
          else raw(ex, 200, StacSearch.queryables(
            itemsFrame
              .where(org.apache.spark.sql.functions.col("collection") === c)))
        case _ => notFound(ex, s"Not Found: $path")
      }
    } catch {
      case e: TxnConflict => error(ex, 409, "ConflictError", e.getMessage)
      case e: TxnMissing => error(ex, 404, "NotFoundError", e.getMessage)
      case e: IllegalArgumentException => error(ex, 400, "BadRequest", e.getMessage)
      case e: Exception => error(ex, 500, "InternalServerError", String.valueOf(e))
    } finally ex.close()

  // ------------------------------------------------- request parsing
  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
          case Array(k)    => URLDecoder.decode(k, UTF_8) -> ""
        }
      }.toMap

  private def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Untrusted `limit` params: non-positive is a 400 (the IAE handler);
    * large finite values clamp to the STAC-suggested 10000 ceiling —
    * limit+1 can then never overflow and a page collect stays bounded.
    */
  private[search] def clampLimit(l: Int): Int = {
    if (l <= 0)
      throw new IllegalArgumentException(s"limit must be a positive integer, got $l")
    math.min(l, 10000)
  }

  /** GET /search query params → typed params — the GET half of the A62
    * codec. `fields` uses the STAC GET convention (`-x` = exclude,
    * `+x`/bare = include); `sortby` likewise (`-x` = desc). `filter` is
    * cql2-TEXT unless `filter-lang=cql2-json`.
    */
  private[search] def paramsFromQuery(q: Map[String, String]): SearchParams = {
    val bbox = q.get("bbox").map(s =>
      SearchParams.bboxOf(s.split(",").map(_.trim.toDouble).toIndexedSeq))
    val fields = q.get("fields").map(csv).getOrElse(Nil)
    val (excF, incF) = fields.partition(_.startsWith("-"))
    val sorts = q.get("sortby").map(csv).getOrElse(Nil).map {
      case f if f.startsWith("-") => SortBy(f.drop(1), desc = true)
      case f                      => SortBy(f.stripPrefix("+"))
    }
    val (filterJson, filterAst) = q.get("filter") match {
      case None => (None, None)
      case Some(f) => q.getOrElse("filter-lang", "cql2-text") match {
        case "cql2-json" => (Some(f), None)
        case "cql2-text" => (None, Some(graft.cql.Cql2Text.parse(f)))
        case other => throw new IllegalArgumentException(s"bad filter-lang: $other")
      }
    }
    SearchParams(
      collections = q.get("collections").map(csv).getOrElse(Nil),
      ids = q.get("ids").map(csv).getOrElse(Nil),
      bbox = bbox,
      intersects = q.get("intersects").map(g => graft.cql.Cql.parseGeoJsonShape(g)),
      datetime = q.get("datetime"),
      filter = filterJson,
      filterAst = filterAst,
      query = q.get("query"),
      sortBy = sorts,
      limit = clampLimit(q.get("limit").map(_.toInt).getOrElse(10)),
      token = q.get("token"),
      include = incF.map(_.stripPrefix("+")),
      exclude = excF.map(_.drop(1)))
  }

  // ------------------------------------------------ response building
  private def landing(): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("type", "Catalog")
    o.put("stac_version", "1.0.0")
    o.put("id", "stac-fastapi-duckdb")
    o.put("title", "stac-fastapi-duckdb")
    o.put("description", "stac-fastapi-duckdb")
    conformsTo.foreach(o.withArray[ArrayNode]("conformsTo").add)
    val links = o.withArray[ArrayNode]("links")
    def link(rel: String, href: String, method: String = "GET"): Unit = {
      val l = links.addObject()
      l.put("rel", rel); l.put("href", href)
      l.put("type", "application/json")
      if (method != "GET") l.put("method", method)
    }
    link("self", "/"); link("conformance", "/conformance")
    link("data", "/collections"); link("search", "/search")
    link("search", "/search", "POST")
    o
  }

  /** The rel=next link must preserve the WHOLE search, not just the
    * keyset token (the token encodes only sort-field values): a GET next
    * href rebuilds the original query string minus any old token plus the
    * new one, so a client following the advertised link keeps its
    * collections/bbox/filter/sortby/limit; a POST next link is the STAC
    * spec's method/body+merge form (`{"token": t}` merged into the
    * original body client-side).
    */
  private def featureCollection(items: org.apache.spark.sql.DataFrame,
                                p: SearchParams,
                                q: Map[String, String],
                                selfPath: String,
                                post: Boolean = false): ObjectNode = {
    val (feats, matched, next) = StacApi.searchFeaturesOn(items, p)
    val o = mapper.createObjectNode()
    o.put("type", "FeatureCollection")
    val fa = o.withArray[ArrayNode]("features")
    feats.foreach(f => fa.add(pruneFields(mapper.readTree(f).asInstanceOf[ObjectNode],
      p.include, p.exclude)))
    if (matched >= 0) o.put("numberMatched", matched)
    o.put("numberReturned", feats.length)
    val links = o.withArray[ArrayNode]("links")
    next.foreach { t =>
      val l = links.addObject()
      l.put("rel", "next"); l.put("type", "application/geo+json")
      if (post) {
        l.put("href", selfPath)
        l.put("method", "POST")
        l.put("merge", true)
        l.withObject("/body").put("token", t)
      } else {
        val carried = (q - "token").toSeq.sortBy(_._1) :+ ("token" -> t)
        val qs = carried.map { case (k, v) =>
          s"${java.net.URLEncoder.encode(k, UTF_8)}=${java.net.URLEncoder.encode(v, UTF_8)}"
        }.mkString("&")
        l.put("href", s"$selfPath?$qs")
      }
      l.put("token", t)
    }
    o
  }

  /** The /aggregations capability document: which named aggregations
    * /aggregate will execute, with their data types (STAC Aggregation
    * extension).
    */
  private def aggregationsDoc(): ObjectNode = {
    val o = mapper.createObjectNode()
    val arr = o.withArray[ArrayNode]("aggregations")
    StacApi.supportedAggregations.foreach { case (name, dt) =>
      val a = arr.addObject()
      a.put("name", name); a.put("data_type", dt)
    }
    o
  }

  /** /aggregate response: the typed [[StacApi.aggregate]] result (one
    * grouping-sets pass over the search) rendered per the extension —
    * a thin codec, never a second query engine.
    */
  private def aggregateNode(items: org.apache.spark.sql.DataFrame,
                            p: SearchParams, names: Seq[String]): ObjectNode = {
    val results = StacApi.aggregateOn(items, p, names)
    val o = mapper.createObjectNode()
    val arr = o.withArray[ArrayNode]("aggregations")
    results.foreach { a =>
      val n = arr.addObject()
      n.put("name", a.name)
      StacApi.supportedAggregations.find(_._1 == a.name)
        .foreach { case (_, dt) => n.put("data_type", dt) }
      a.value.foreach(v => n.put("value", v))
      if (a.buckets.nonEmpty || a.name.endsWith("_frequency")) {
        val bs = n.withArray[ArrayNode]("buckets")
        a.buckets.foreach { b =>
          val bn = bs.addObject()
          bn.put("key", b.key); bn.put("data_type", "frequency")
          bn.put("frequency", b.frequency)
        }
      }
      a.min.foreach(v => n.put("overall_min", v))
      a.max.foreach(v => n.put("overall_max", v))
      a.sum.foreach(v => n.put("overall_sum", v))
    }
    o
  }

  private def collectionsPage(spark: SparkSession, dir: String,
                              store: TxnStore,
                              q: Map[String, String]): ObjectNode = {
    val limit = clampLimit(q.get("limit").map(_.toInt).getOrElse(10))
    val o = mapper.createObjectNode()
    val ca = o.withArray[ArrayNode]("collections")
    if (!store.hasCollectionChanges) {
      // base-only: the keyset-paged directory, unchanged
      val (rows, next) = StacApi.collectionsPage(spark, dir, q.get("token"), limit)
      rows.foreach(r => ca.add(collectionJson(r)))
      val links = o.withArray[ArrayNode]("links")
      next.foreach { t =>
        val l = links.addObject()
        l.put("rel", "next"); l.put("type", "application/json")
        l.put("href", s"/collections?token=${java.net.URLEncoder.encode(t, UTF_8)}")
        l.put("token", t)
      }
    } else {
      // overlay mode: merge the base directory with the created/deleted
      // roster, then page it under the SAME token contract as the base
      // path (token = the id of the last collection seen, keyset on the
      // id order)
      val base = StacApi.collections(spark, dir).collect()
        .filterNot { r =>
          val id = r.getString(r.fieldIndex("collection"))
          store.collectionDeleted(id) || store.createdCollection(id).isDefined
        }.map(r => r.getString(r.fieldIndex("collection")) -> collectionJson(r))
      val created = store.createdCollections.map { case (id, doc) =>
        id -> createdCollectionJson(id, doc)
      }
      val merged = (base ++ created).sortBy(_._1)
      val after = q.get("token") match {
        case Some(t) => merged.dropWhile(_._1 <= t)
        case None    => merged
      }
      val page = after.take(limit)
      page.foreach { case (_, n) => ca.add(n) }
      val links = o.withArray[ArrayNode]("links")
      if (after.size > limit) {
        val t = page.last._1
        val l = links.addObject()
        l.put("rel", "next"); l.put("type", "application/json")
        l.put("href", s"/collections?token=${java.net.URLEncoder.encode(t, UTF_8)}")
        l.put("token", t)
      }
    }
    o
  }

  /** A posted collection document, served back with the engine's
    * framing: id/type/stac_version pinned, the posted metadata kept.
    */
  private def createdCollectionJson(id: String, doc: String): ObjectNode = {
    val o = mapper.readTree(doc).asInstanceOf[ObjectNode]
    o.put("type", "Collection")
    o.put("stac_version", "1.0.0")
    o.put("id", id)
    if (!o.has("links")) o.withArray[ArrayNode]("links")
    o
  }

  private def collectionNode(spark: SparkSession, dir: String,
                             store: TxnStore, c: String): Option[ObjectNode] = {
    import org.apache.spark.sql.functions.col
    if (store.collectionDeleted(c)) None
    else store.createdCollection(c) match {
      case Some(doc) => Some(createdCollectionJson(c, doc))
      case None =>
        StacApi.collections(spark, dir).where(col("collection") === c)
          .collect().headOption.map(collectionJson)
    }
  }

  /** A26's derived directory row → STAC Collection JSON: static metadata
    * + COMPUTED extent (the reference hand-maintains extents in its
    * collection.json documents; the engine derives them).
    */
  private def collectionJson(r: Row): ObjectNode = {
    def str(f: String): String = Option(r.get(r.fieldIndex(f))).map(_.toString).orNull
    val o = mapper.createObjectNode()
    o.put("type", "Collection")
    o.put("stac_version", "1.0.0")
    o.put("id", str("collection"))
    o.put("title", str("title"))
    o.put("license", str("license"))
    o.put("description", str("description"))
    val ext = o.withObject("/extent")
    val sp = ext.withObject("/spatial").withArray[ArrayNode]("bbox").addArray()
    Seq("west", "south", "east", "north")
      .foreach(f => sp.add(r.getDouble(r.fieldIndex(f))))
    val ti = ext.withObject("/temporal").withArray[ArrayNode]("interval").addArray()
    def iso(f: String): Unit = Option(r.get(r.fieldIndex(f))) match {
      case Some(t: java.sql.Timestamp) =>
        ti.add(t.toInstant.toString)
      case _ => ti.addNull()
    }
    iso("t_min"); iso("t_max")
    val links = o.withArray[ArrayNode]("links")
    val self = links.addObject()
    self.put("rel", "self"); self.put("href", str("self_href"))
    val items = links.addObject()
    items.put("rel", "items"); items.put("href", str("self_href") + "/items")
    o
  }

  // --------------------------------------------- fields (document side)
  private val topLevel = Set("id", "type", "geometry", "bbox", "collection",
    "links", "assets", "properties", "stac_version", "stac_extensions")

  private def fieldPath(name: String): List[String] = {
    val n = name.replace("properties__", "properties.")
    if (n.startsWith("properties.")) List("properties", n.drop("properties.".length))
    else if (topLevel.contains(n)) List(n)
    else List("properties", n)
  }

  /** Document-side fields extension, same pinned rules as the column
    * side (StacApi.applyFields): include WINS over exclude,
    * id/collection are never excludable; an include list keeps
    * {type, id, collection} + the listed paths.
    */
  private[search] def pruneFields(doc: ObjectNode, include: Seq[String],
                                  exclude: Seq[String]): ObjectNode = {
    if (include.isEmpty && exclude.isEmpty) return doc
    val inc = include.map(fieldPath)
    val protectedPaths = Set(List("id"), List("collection")) ++ inc
    val exc = exclude.map(fieldPath).filterNot(protectedPaths.contains)
    if (inc.nonEmpty) {
      val keep = Set(List("type"), List("id"), List("collection")) ++ inc
      val out = mapper.createObjectNode()
      keep.toSeq.sortBy(_.mkString(".")).foreach {
        case List(f) =>
          // set's generic return infers Nothing in foreach position →
          // runtime ClassCastException; pin the type parameter
          Option(doc.get(f)).foreach(v => out.set[ObjectNode](f, v))
        case List(p, f) =>
          Option(doc.get(p)).collect { case po: ObjectNode => po }
            .flatMap(po => Option(po.get(f)))
            .foreach { v =>
              val tgt = Option(out.get(p))
                .collect { case on: ObjectNode => on }
                .getOrElse(out.putObject(p))
              tgt.set[ObjectNode](f, v)
            }
        case _ => ()
      }
      prune(out, exc)
    } else prune(doc, exc)
  }

  private def prune(doc: ObjectNode, exc: Seq[List[String]]): ObjectNode = {
    exc.foreach {
      case List(f) => doc.remove(f)
      case List(p, f) =>
        Option(doc.get(p)).collect { case po: ObjectNode => po.remove(f) }
      case _ => ()
    }
    doc
  }

  // --------------------------------------------------------- plumbing
  private def json(ex: HttpExchange, code: Int, node: ObjectNode): Unit =
    raw(ex, code, mapper.writeValueAsString(node))

  private def raw(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def notFound(ex: HttpExchange, msg: String): Unit =
    error(ex, 404, "NotFoundError", msg)

  private def noContent(ex: HttpExchange): Unit =
    ex.sendResponseHeaders(204, -1)

  private def error(ex: HttpExchange, code: Int, kind: String, msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("code", kind)
    o.put("description", msg)
    json(ex, code, o)
  }
}
