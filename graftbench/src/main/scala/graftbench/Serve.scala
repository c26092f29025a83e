package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.search.StacHttp

/** One completed request. `returned` counts the features (or documents) the
  * answer carried; `problem` says why the answer was wrong, if it was.
  */
final case class Sample(route: String, broad: Boolean, startMs: Long, ms: Double,
                        returned: Int, problem: Option[String]) {
  def ok: Boolean = problem.isEmpty
}

/** A STAC client session against one server: sends an [[Op]], waits for the
  * reply and checks its status and shape.
  */
final class StacClient(base: String, timeoutS: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(5)).build()
  private val mapper = new ObjectMapper()
  /** The rel=next link of this session's latest first-page GET search. */
  private var nextLink: Option[String] = None

  def send(op: Op): (Sample, Option[JsonNode]) = {
    val path = if (op.route == "search_next") nextLink.getOrElse(op.path) else op.path
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(timeoutS))
      .header("Content-Type", "application/json")
      .method(op.method, op.body.map(b => HttpRequest.BodyPublishers.ofString(b))
        .getOrElse(HttpRequest.BodyPublishers.noBody()))
      .build()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(http.send(req, HttpResponse.BodyHandlers.ofString()))
              catch { case e: Exception => Left(e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(err) => (Sample(op.route, op.broad, wall0, ms, 0, Some(err)), None)
      case Right(r) =>
        val doc = if (r.body.isEmpty) None
                  else try Some(mapper.readTree(r.body)) catch { case _: Exception => None }
        val returned = doc.map(d => Option(d.get("features")).map(_.size).getOrElse(1))
          .getOrElse(0)
        val problem =
          if (r.statusCode != op.expect)
            Some(s"status ${r.statusCode}, expected ${op.expect}: ${r.body.take(200)}")
          else if (op.expect == 200 && doc.isEmpty) Some("unparsable body")
          else if (op.isSearch && returned > 10) Some(s"$returned features on a page of 10")
          else None
        if (problem.isEmpty && op.method == "GET" && op.isSearch && op.route != "search_next")
          nextLink = doc.flatMap(d => Option(d.get("links"))).flatMap(_.elements().asScala
            .find(l => l.path("rel").asText == "next").map(_.path("href").asText))
        (Sample(op.route, op.broad, wall0, ms, returned, problem), doc)
    }
  }
}

/** The STAC serving workloads: one `StacHttp` server, a closed loop of
  * client sessions, then the output checks.
  */
final class Serving(spark: SparkSession, dir: String, seed: Long, writes: Boolean,
                    threads: Int) {
  val collectionOf: Array[String] = {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .selectExpr("event_id", "event_type").collect()
    val a = new Array[String](rows.length)
    rows.foreach(r => a(r.getLong(0).toInt) = r.getString(1))
    a
  }
  val nItems: Int = collectionOf.length
  def mix(client: Int, withWrites: Boolean = writes): Mix =
    new Mix(seed, client, withWrites, collectionOf(_), nItems)

  /** Runs the tasks on `threads` threads; results come in task order. */
  private def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  /** Untimed warm-up requests, one per read route, sent concurrently. */
  def warmUp(server: StacHttp.Server): Seq[Sample] = {
    val m = mix(-1, withWrites = false)
    val first = Iterator.continually(m.next()).take(500).toSeq
      .groupBy(_.route).values.map(_.head).toSeq
    parallel(first.map(op => () => new StacClient(server.base, 60).send(op)._1))
  }

  /** One closed-loop client session per thread for `seconds`; returns every
    * sample and the mixes (which hold what each client wrote).
    */
  def closedLoop(server: StacHttp.Server, seconds: Int,
                 timeoutS: Int): (Seq[Sample], Seq[Mix]) = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val mixes = (0 until threads).map(mix(_))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val sessions = mixes.map { m =>
      val t = new Thread(() => {
        val c = new StacClient(server.base, timeoutS)
        while (System.nanoTime() < deadline) results.add(c.send(m.next())._1)
      })
      t.start(); t
    }
    sessions.foreach(_.join())
    (results.asScala.toSeq, mixes)
  }

  /** Sends `ops` one at a time in one client session. */
  def sequential(server: StacHttp.Server, ops: Seq[Op], timeoutS: Int): Seq[Sample] = {
    val c = new StacClient(server.base, timeoutS)
    ops.map(op => c.send(op)._1)
  }

  /** Re-issues a seeded sample of searches and compares numberMatched and
    * the first page's ids with an independent Spark SQL query over the
    * items view of the fixture. Returns (checks made, problems).
    */
  def checkSearches(server: StacHttp.Server, n: Int): (Int, Seq[String]) = {
    val oracle = new SearchOracle(spark, dir)
    val m = new Mix(seed ^ 0x5eed, 0, false, collectionOf(_), nItems)
    val ops = Iterator.continually(m.next())
      .filter(o => Set("search_bbox", "search_cql", "search_text")(o.route)).take(n).toSeq
    val problems = parallel(ops.map(op => () => {
      val (s, doc) = new StacClient(server.base, 120).send(op)
      s.problem.map(p => s"${op.route} ${op.path}: $p").orElse {
        val d = doc.get
        val gotMatched = d.path("numberMatched").asLong(-1)
        val gotIds = d.path("features").elements().asScala.map(_.path("id").asText).toSeq
        val (wantMatched, wantIds) = oracle.answer(op)
        if (gotMatched != wantMatched || gotIds != wantIds)
          Some(s"${op.route} ${op.path} ${op.body.getOrElse("")}: numberMatched " +
            s"$gotMatched ids ${gotIds.mkString(",")}, oracle $wantMatched " +
            s"ids ${wantIds.mkString(",")}")
        else None
      }
    })).flatten
    (ops.size, problems)
  }

  /** Read-your-writes: every item a client created is served with its last
    * written value, and every item it deleted answers 404.
    */
  def checkWrites(server: StacHttp.Server, mixes: Seq[Mix]): (Int, Seq[String]) = {
    val all = mixes.flatMap(_.written.values)
    val problems = parallel(all.map(w => () => {
      val op = Op("item", "GET", s"/collections/${w.collection}/items/${w.id}", None,
        if (w.deleted) 404 else 200)
      val (s, doc) = new StacClient(server.base, 120).send(op)
      s.problem.map(p => s"read-your-writes ${w.id}: $p").orElse {
        if (w.deleted) None
        else {
          val v = doc.get.path("properties").path("value").asDouble(Double.NaN)
          if (v != w.value) Some(s"read-your-writes ${w.id}: value $v, wrote ${w.value}")
          else None
        }
      }
    })).flatten
    (all.size, problems)
  }
}

/** The searches of the mix answered by plain Spark SQL over
  * `graft.core.Tables.itemsSql` (the items view written as SQL), with the
  * STAC predicates, sort order and page size spelled out here rather than
  * taken from the engine.
  */
final class SearchOracle(spark: SparkSession, dir: String) {
  private val mapper = new ObjectMapper()
  private val view = s"bench_events_${System.identityHashCode(this)}"
  spark.read.parquet(s"$dir/events.parquet")
    .selectExpr("event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type",
      "value", "props")
    .createOrReplaceTempView(view)

  private def ts(s: String): String = s"TIMESTAMP '${s.stripSuffix("Z").replace('T', ' ')}'"

  private def window(dt: String): String = {
    val Array(a, b) = dt.split("/")
    s"((datetime >= ${ts(a)} AND datetime <= ${ts(b)}) OR " +
      s"(datetime IS NULL AND start_datetime <= ${ts(b)} AND end_datetime >= ${ts(a)}))"
  }

  /** (numberMatched, ids of the first page of 10). */
  def answer(op: Op): (Long, Seq[String]) = {
    val (where, order) = op.route match {
      case "search_bbox" =>
        val q = op.query
        val Array(w, s, e, n) = q("bbox").split(",").map(_.toDouble)
        (Seq(s"lon >= $w AND lon <= $e AND lat >= $s AND lat <= $n", window(q("datetime"))),
          "id ASC")
      case "search_text" =>
        val q = op.query
        (Seq(q("filter"), window(q("datetime"))), "datetime DESC NULLS LAST, id ASC")
      case "search_cql" =>
        val b = mapper.readTree(op.body.get)
        val args = b.path("filter").path("args")
        val value = args.get(0).path("args").get(1).asDouble
        val user = args.get(1).path("args").get(1).asLong
        (Seq(s"collection = '${b.path("collections").get(0).asText}'",
          s"value >= $value", s"user_id < $user", window(b.path("datetime").asText)),
          "value DESC NULLS LAST, id ASC")
      case other => sys.error(s"no oracle for $other")
    }
    // itemsSql is written for DuckDB: Spark spells VARCHAR as STRING
    val items = graft.core.Tables.itemsSql.replace("FROM events", s"FROM $view")
      .replace("AS VARCHAR)", "AS STRING)")
    val pred = where.map(w => s"($w)").mkString(" AND ")
    val matched = spark.sql(s"WITH $items SELECT count(*) FROM items WHERE $pred")
      .head().getLong(0)
    val ids = spark.sql(s"WITH $items SELECT id FROM items WHERE $pred ORDER BY $order LIMIT 10")
      .collect().map(_.getString(0)).toSeq
    (matched, ids)
  }
}
