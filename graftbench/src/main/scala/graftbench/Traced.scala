package graftbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.search.{BenchAccess, SearchParams, StacApi, StacHttp}

/** The traced run: per-layer metrics for every layer the workloads touch,
  * whichever workload is named.
  *
  *  - Serving: one sequential client replays the first operations of the
  *    `stac-mixed` mix (enough that every route occurs) against a fresh
  *    server with a [[JobTrace]] attached. Spark jobs are attributed to the
  *    request whose time window they start in.
  *  - In-process: the steps of one search called directly and timed —
  *    CQL2 parsing, Catalyst planning, the count job, the page job, the
  *    collections existence check and the overlay view.
  *  - Pipeline: a traced cold pass of the gate list after an untraced
  *    warm-up pass; jobs are tagged with the gate that submitted them.
  *
  * The tracing overhead of each half is the time spent in the listener's
  * callbacks as a share of the traced wall time.
  */
final class Traced(spark: SparkSession, nproc: Int, clients: Int, seed: Long,
                   work: java.io.File, expectedRows: Map[String, Long],
                   serveDir: String, pipeDir: String, details: ObjectNode,
                   record: (String, Seq[Sample]) => Unit, problem: String => Unit,
                   attempt: Int => Unit) {
  private val out = mutable.ArrayBuffer.empty[Metric]
  private def add(name: String, v: Double, unit: String, n: Int): Unit =
    out += Metric(name, v, unit, n)
  /** The replayed prefix of the mix: at least this long, every route in it. */
  val minOps = 20

  def run(): Seq[Metric] = {
    val store = serving()
    inProcess(store)
    pipeline()
    out.toSeq
  }

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  // ------------------------------------------------------------- serving
  private def serving(): graft.search.TxnStore = {
    val srv = new Serving(spark, serveDir, seed, writes = true, clients)
    val m = srv.mix(0)
    val ops = mutable.ArrayBuffer.empty[Op]
    while (ops.size < minOps || !Mix.routes.forall(r => ops.exists(_.route == r)))
      ops += m.next()
    val server = StacHttp.start(spark.newSession(), serveDir)
    record("warm-up", srv.warmUp(server))
    val jt = new JobTrace
    spark.sparkContext.addSparkListener(jt)
    val traced = try srv.sequential(server, ops.toSeq, 60)
                 finally { server.stop(); spark.sparkContext.removeSparkListener(jt) }
    record("traced", traced)
    val jobs = jt.jobs
    Mix.routes.foreach { r =>
      val xs = traced.filter(_.route == r)
      val per = xs.map(s => JobTrace.within(jobs, s.startMs, s.startMs + math.ceil(s.ms).toLong))
      add(s"search.http_ms.$r", Stats.mean(xs.map(_.ms)), "ms", xs.size)
      add(s"spark.jobs.$r", Stats.mean(per.map(_.size.toDouble)), "count", xs.size)
      add(s"spark.job_ms.$r", Stats.mean(per.map(_.map(_.wallMs).sum.toDouble)), "ms", xs.size)
      add(s"spark.rows_read_per_returned.$r",
        per.map(_.map(_.recordsRead).sum).sum.toDouble / xs.map(_.returned).sum.max(1),
        "ratio", xs.size)
    }
    val wall = traced.map(_.ms).sum
    add("trace.serving_overhead_pct", 100.0 * jt.busyMs / wall, "%", ops.size)
    details.putObject("traced_serving").put("requests", ops.size).put("wall_ms", wall)
      .put("listener_ms", jt.busyMs)
    server.store
  }

  // ---------------------------------------------------------- in-process
  private def inProcess(store: graft.search.TxnStore): Unit = {
    val s = spark.newSession()
    val items = graft.core.Tables.items(s, serveDir)
    val m = new Mix(seed ^ 0x7ace, 0, false, _ => "click", 1)
    val searches = Iterator.continually(m.next())
      .filter(o => Set("search_bbox", "search_cql", "search_text")(o.route)).take(12).toSeq
    val mapper = new ObjectMapper()
    val parse = mutable.ArrayBuffer.empty[Double]
    val plan = mutable.ArrayBuffer.empty[Double]
    val count = mutable.ArrayBuffer.empty[Double]
    val page = mutable.ArrayBuffer.empty[Double]
    def ms[T](buf: mutable.ArrayBuffer[Double])(f: => T): T = {
      val t0 = System.nanoTime(); val r = f; buf += (System.nanoTime() - t0) / 1e6; r
    }
    searches.foreach { op =>
      val p: SearchParams = op.body match {
        case Some(b) =>
          ms(parse)(graft.cql.Cql.parseJson(mapper.readTree(b).get("filter").toString))
          SearchParams.fromSearchBody(b)
        case None =>
          op.query.get("filter").foreach(f => ms(parse)(graft.cql.Cql2Text.parse(f)))
          BenchAccess.paramsFromQuery(op.query)
      }
      val (filtered, sorted) = ms(plan) {
        val f = StacApi.plan(items, p)
        val sorts = p.sortBy.map(sb => if (sb.desc) col(sb.field).desc else col(sb.field).asc) :+
          col("id").asc
        val sd = BenchAccess.featureFrame(f).orderBy(sorts: _*)
        sd.queryExecution.executedPlan
        (f, sd)
      }
      ms(count)(filtered.count())
      ms(page)(sorted.limit(p.limit + 1).collect())
    }
    add("cql.parse_ms", median(parse.toSeq), "ms", parse.size)
    add("search.plan_ms", median(plan.toSeq), "ms", plan.size)
    add("search.count_ms", median(count.toSeq), "ms", count.size)
    add("search.page_ms", median(page.toSeq), "ms", page.size)
    val coll = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); StacApi.collections(s, serveDir).collect()
      (System.nanoTime() - t0) / 1e6
    }
    add("search.collections_ms", median(coll), "ms", coll.size)
    val view = (1 to 5).map { _ =>
      val t0 = System.nanoTime(); store.itemsView().queryExecution.executedPlan
      (System.nanoTime() - t0) / 1e6
    }
    add("search.view_ms", median(view), "ms", view.size)
  }

  // ------------------------------------------------------------ pipeline
  private def pipeline(): Unit = {
    val p = new Pipeline(spark, pipeDir, work, expectedRows)
    def check(kind: String, runs: Seq[GateRun]): Unit = {
      attempt(runs.size)
      runs.foreach(g => g.problem.foreach(x => problem(s"$kind ${g.gate}: $x")))
    }
    check("warm-up", p.pass().runs)
    val jt = new JobTrace
    spark.sparkContext.addSparkListener(jt)
    val traced = try p.pass().runs finally spark.sparkContext.removeSparkListener(jt)
    check("traced", traced)
    val jobs = jt.jobs
    Pipeline.groups.map(_._1).foreach { g =>
      val runs = traced.filter(r => Pipeline.groupOf(r.gate) == g)
      val gj = jobs.filter(j => j.op.exists(o => runs.exists(_.gate == o)))
      val wallMs = runs.map(r => (r.endMs - r.startMs).toDouble).sum
      val covered = runs.map(r => JobTrace.coveredMs(gj.filter(_.op.contains(r.gate)),
        r.startMs, r.endMs)).sum
      add(s"$g.wall_s", runs.map(_.s).sum, "s", runs.size)
      add(s"$g.jobs", gj.size.toDouble, "count", runs.size)
      add(s"$g.shuffle_bytes", gj.map(_.shuffleBytes).sum.toDouble, "bytes", runs.size)
      add(s"$g.core_util", if (wallMs <= 0) 0.0 else gj.map(_.taskRunMs).sum / (wallMs * nproc),
        "ratio", runs.size)
      add(s"$g.driver_s", (wallMs - covered) / 1000.0, "s", runs.size)
    }
    traced.foreach(r => add(s"gate.${r.gate}_s", r.s, "s", 1))
    val wallMs = traced.map(_.s).sum * 1000.0
    add("trace.pipeline_overhead_pct", 100.0 * jt.busyMs / wallMs, "%", traced.size)
    details.putObject("traced_pipeline").put("wall_ms", wallMs).put("listener_ms", jt.busyMs)
  }
}

object Traced {
  /** The per-layer metrics every traced run prints, in order, with units. */
  val perLayer: Seq[(String, String)] =
    Mix.routes.flatMap(r => Seq(s"search.http_ms.$r" -> "ms", s"spark.jobs.$r" -> "count",
      s"spark.job_ms.$r" -> "ms", s"spark.rows_read_per_returned.$r" -> "ratio")) ++
      Seq("trace.serving_overhead_pct" -> "%", "cql.parse_ms" -> "ms",
        "search.plan_ms" -> "ms", "search.count_ms" -> "ms", "search.page_ms" -> "ms",
        "search.collections_ms" -> "ms", "search.view_ms" -> "ms") ++
      Pipeline.groups.map(_._1).flatMap(g => Seq(s"$g.wall_s" -> "s", s"$g.jobs" -> "count",
        s"$g.shuffle_bytes" -> "bytes", s"$g.core_util" -> "ratio", s"$g.driver_s" -> "s")) ++
      Pipeline.gates.map(g => s"gate.${g}_s" -> "s") :+ ("trace.pipeline_overhead_pct" -> "%")
}
