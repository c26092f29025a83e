package graftbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** One HTTP request of the STAC workloads.
  *
  * `expect` is the status a correct server answers; `broad` marks searches
  * whose filters match thousands of items (selective ones match a handful).
  * `search_next` is sent to the `rel=next` link of the client's latest
  * search when there is one, else to its own first-page path.
  */
final case class Op(route: String, method: String, path: String,
                    body: Option[String], expect: Int, broad: Boolean = false) {
  def isWrite: Boolean = Mix.writeRoutes.contains(route)
  def isSearch: Boolean = route.startsWith("search_")

  /** The decoded query-string parameters of `path`. */
  def query: Map[String, String] =
    Option(java.net.URI.create("http://x" + path).getRawQuery).toSeq.flatMap(_.split("&"))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
}

/** An item a client wrote, as the server should now serve it. */
final case class Written(collection: String, id: String, value: Double,
                         deleted: Boolean)

/** The seeded request mix of one client session.
  *
  * Every route has an equal share of its kind, since no measured request
  * mix of a STAC API is at hand: reads cycle through an order holding each
  * read route once, transactions through one holding each transaction
  * route once. With `writes`, a third cycle of [[Mix.readsPerWrite]] reads
  * and one transaction decides the kind of each request, so transactions
  * are 25 % of it. Each route that has broad and selective forms alternates
  * between them (equal shares again), and every tenth single-item read asks
  * for an id the fixture does not have (404).
  *
  * The seed shuffles each cycle once for all clients. Client `c` starts
  * each cycle `c / Mix.stagger` of the way through, and odd clients start
  * each route with the other of its broad and selective forms. So the
  * requests of all clients together stay close to the shares even in a
  * short run, and the seed changes the order and the parameters of the
  * requests but not the shares, which keeps runs comparable across seeds.
  *
  * The sequence depends only on (seed, client, writes): the parameters come
  * from one `SplittableRandom` per client, and write targets come from the
  * client's own record of what it created. Existing item ids are sampled
  * from the fixture (`collectionOf(id)`).
  */
final class Mix(seed: Long, client: Int, writes: Boolean,
                collectionOf: Int => String, nItems: Int) {
  private val rnd = new SplittableRandom(seed * 1000003L + client)
  private var created = 0
  private val alive = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Every item this client wrote, by id: the read-your-writes expectations. */
  val written = scala.collection.mutable.LinkedHashMap.empty[String, Written]
  private val shared = new SplittableRandom(seed)
  private val reads = new Mix.Cycle(shared, Mix.readRoutes, client)
  private val txns = new Mix.Cycle(shared, Mix.writeRoutes, client)
  private val kinds = new Mix.Cycle(shared, Seq.fill(Mix.readsPerWrite)(false) :+ true, client)
  private val broadNext = scala.collection.mutable.Map.from(
    Mix.readRoutes.map(r => r -> (shared.nextBoolean() ^ (client % 2 != 0))))
  private var items = rnd.nextInt(10)

  private def deal(): String =
    if (writes && kinds.next()) txns.next() else reads.next()

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def collection(): String = pick(Fixture.eventTypes.toSeq)

  /** A datetime range inside the fixture window: 1 day or 10-20 days. */
  private def window(broad: Boolean): String = {
    val days = if (broad) 10 + rnd.nextInt(11) else 1
    val start = Fixture.eventsStart.plusDays(rnd.nextInt(Fixture.eventsDays - days + 1))
    s"${start}:00Z/${start.plusDays(days).minusSeconds(1)}Z"
  }

  private def bbox(broad: Boolean): String = {
    val (w, h) = if (broad) (180, 90) else (10, 10)
    val west = -180 + rnd.nextInt(360 - w + 1)
    val south = -90 + rnd.nextInt(180 - h + 1)
    s"$west,$south,${west + w},${south + h}"
  }

  def next(): Op = {
    val route = deal()
    if (Mix.writeRoutes.contains(route)) return write(route)
    val broad = broadNext(route)
    broadNext(route) = !broad
    route match {
      case "search_bbox" =>
        Op(route, "GET", s"/search?bbox=${bbox(broad)}" +
          s"&datetime=${enc(window(broad))}&limit=10", None, 200, broad)
      case "search_cql" =>
        val (v, u) = if (broad) (10, 1500) else (450, 150)
        val body = s"""{"collections":["${collection()}"],"datetime":"${window(broad)}",""" +
          """"filter-lang":"cql2-json","filter":{"op":"and","args":[""" +
          s"""{"op":">=","args":[{"property":"value"},$v]},""" +
          s"""{"op":"<","args":[{"property":"user_id"},$u]}]},""" +
          """"sortby":[{"field":"value","direction":"desc"}],"limit":10}"""
        Op(route, "POST", "/search", Some(body), 200, broad)
      case "search_text" =>
        val (v, u) = if (broad) (5, 1500) else (500, 100)
        Op(route, "GET", s"/search?filter=${enc(s"value > $v AND user_id < $u")}" +
          s"&datetime=${enc(window(broad))}&sortby=-datetime&limit=10", None, 200, broad)
      case "search_next" =>
        // the client follows its latest search's next link; with none, it
        // starts over with a broad first page
        Op(route, "GET", s"/search?bbox=${bbox(true)}" +
          s"&datetime=${enc(window(true))}&limit=10", None, 200, broad = true)
      case "items" =>
        Op(route, "GET", s"/collections/${collection()}/items?limit=10", None, 200,
          broad = true)
      case "item" =>
        items += 1
        if (items % 10 == 0) {
          val id = nItems + rnd.nextInt(nItems)
          Op(route, "GET", s"/collections/${collection()}/items/$id", None, 404)
        } else {
          val id = rnd.nextInt(nItems)
          Op(route, "GET", s"/collections/${collectionOf(id)}/items/$id", None, 200)
        }
      case _ =>
        Op("aggregate", "GET", s"/aggregate?collections=${collection()}" +
          s"&datetime=${enc(window(broad))}" +
          "&aggregations=total_count,value_stats,datetime_frequency", None, 200, broad)
    }
  }

  /** A patch or delete with no live item of this client to target becomes
    * a create. Written items are dated outside the fixture window, so every
    * search of the mix (all carry a datetime inside it) keeps the fixture's
    * answer while still paying for the overlay.
    */
  private def write(route: String): Op =
    if (alive.isEmpty || route == "txn_create") {
      val c = collection()
      val id = s"bench-$seed-$client-$created"
      created += 1
      val value = rnd.nextInt(50000) / 100.0
      val lon = rnd.nextInt(36000) / 100.0 - 180.0
      val lat = rnd.nextInt(18000) / 100.0 - 90.0
      alive += id
      written(id) = Written(c, id, value, deleted = false)
      Op("txn_create", "POST", s"/collections/$c/items", Some(
        s"""{"type":"Feature","id":"$id","geometry":{"type":"Point",""" +
          s""""coordinates":[$lon,$lat]},"properties":{""" +
          f""""datetime":"2025-06-${1 + rnd.nextInt(28)}%02dT12:00:00Z",""" +
          s""""value":$value,"user_id":${rnd.nextInt(1500)}}}"""), 201)
    } else {
      val id = alive(rnd.nextInt(alive.size))
      val w = written(id)
      if (route == "txn_patch") {
        val value = rnd.nextInt(50000) / 100.0
        written(id) = w.copy(value = value)
        Op(route, "PATCH", s"/collections/${w.collection}/items/$id",
          Some(s"""{"properties":{"value":$value}}"""), 200)
      } else {
        alive -= id
        written(id) = w.copy(deleted = true)
        Op(route, "DELETE", s"/collections/${w.collection}/items/$id", None, 204)
      }
    }
}

object Mix {
  val readRoutes: Seq[String] = Seq("search_bbox", "search_cql", "search_text",
    "search_next", "items", "item", "aggregate")
  val writeRoutes: Seq[String] = Seq("txn_create", "txn_patch", "txn_delete")
  val routes: Seq[String] = readRoutes ++ writeRoutes
  /** Reads per transaction with `writes`: transactions are 25 % of the mix. */
  val readsPerWrite = 3
  /** Clients whose starting points in a cycle are spread evenly. */
  val stagger = 4

  /** `xs` in an order shuffled by `rnd`, dealt round and round, starting
    * `client / stagger` of the way through.
    */
  final class Cycle[T](rnd: SplittableRandom, xs: Seq[T], client: Int) {
    private val order = {
      val d = scala.collection.mutable.ArrayBuffer.from(xs)
      for (i <- d.indices.reverse) {
        val j = rnd.nextInt(i + 1)
        val t = d(i); d(i) = d(j); d(j) = t
      }
      d.toIndexedSeq
    }
    private var at = Math.floorMod(client, stagger) * xs.size / stagger

    def next(): T = {
      val x = order(at % order.size)
      at += 1
      x
    }
  }
}
