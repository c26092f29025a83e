package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import graft.core.FixtureGuard
import graft.search.StacHttp

/** A metric as printed: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** A setup or output problem that makes the run meaningless: the benchmark
  * exits without a result.
  */
final class BenchAbort(msg: String) extends RuntimeException(msg)

/** The benchmark's entry point; `run.py` launches it on the exported
  * classpath. Usage:
  * {{{
  * graftbench.Main --workload stac-mixed|curate-pipeline --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR --expected FILE --out FILE
  * }}}
  * `--data` holds the generated fixtures (made once, reused), `--work` is the
  * run's private working directory. The last stdout line is the result:
  * `{"correct", "attempted", "failed", "metrics"}`; `--out` receives the
  * full report (environment, sample counts, route shares, problems).
  */
object Main {
  val workloads: Seq[String] = Seq("stac-mixed", "curate-pipeline")
  /** Clients of the closed loop; at most this many, and at most nproc. */
  val maxClients = 4
  /** Latency limit of a serving request; the report counts the misses. */
  val latencyLimitMs = 2000.0
  val requestTimeoutS = 30
  /** Repetitions of the workload's set-up; `setup_s` reports their median. */
  val setups = 7
  /** Scale of the serving fixture (1.0 = the sf0.1 sizes: 100k items) and
    * the pipeline's. The pipeline runs at a tenth of them so that a warm-up
    * and three cold timed passes fit the time a run may take; at this size
    * fixed per-gate costs weigh more than they would at full size.
    */
  val serveScale = 1.0
  val pipelineScale = 0.1

  /** The end-to-end metrics every untraced run prints, with their units. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "retained_heap_mb" -> "MB",
    "ops_per_s" -> "1/s", "op_p50_ms" -> "ms")

  private val mapper = new ObjectMapper()

  /** A new session of `spark` after the engine's fixture contract check of
    * `dir`.
    */
  def checkedSession(spark: SparkSession, dir: String): SparkSession = {
    val s = spark.newSession()
    val drift = FixtureGuard.check(s, dir)
    if (drift.nonEmpty) throw new BenchAbort(s"fixture schema drift: ${drift.mkString("; ")}")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, { usage(s"missing --$k"); "" })
    val workload = arg("workload")
    if (!workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    def save(report: ObjectNode): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")),
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(report))
    val b = new Bench(workload, seed, seconds, trace, new java.io.File(arg("data")),
      new java.io.File(arg("work")), new java.io.File(arg("expected")))
    val line = try b.run() catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] aborted: $e")
        if (!e.isInstanceOf[BenchAbort]) e.printStackTrace()
        b.details.put("aborted", e.toString)
        save(b.details)
        b.stop()
        sys.exit(if (e.isInstanceOf[BenchAbort]) 3 else 1)
    }
    b.stop()
    save(b.details)
    println(line)
  }

  private def usage(msg: String): Unit = {
    System.err.println(s"[graftbench] $msg\nusage: graftbench.Main --workload " +
      s"${workloads.mkString("|")} --seed N --seconds S --trace 0|1 --data DIR " +
      "--work DIR --expected FILE --out FILE")
    sys.exit(2)
  }

  /** The contract line: exactly correct/attempted/failed/metrics. */
  def resultLine(attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val o = mapper.createObjectNode()
    o.put("correct", failed == 0)
    o.put("attempted", attempted)
    o.put("failed", failed)
    val m = o.putObject("metrics")
    metrics.foreach { x =>
      m.putObject(x.name).put("value", x.value).put("unit", x.unit)
    }
    mapper.writeValueAsString(o)
  }
}

/** One run of one workload. */
final class Bench(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  dataDir: java.io.File, work: java.io.File, expectedFile: java.io.File) {
  import Main._

  private val mapper = new ObjectMapper()
  private val nproc = Runtime.getRuntime.availableProcessors
  private val clients = math.min(maxClients, nproc)

  // the session graft.Bench uses: local[nproc], nproc shuffle partitions, AQE
  // off, a driver GC a minute so ContextCleaner frees checkpoint blocks
  private val spark = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("graftbench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.cleaner.periodicGC.interval", "1min")
    .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  /** JVM start to a live Spark session. */
  private val contextS = Proc.uptimeS()

  private val expected = mapper.readTree(expectedFile)
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  /** The full report, filled in as the run goes. */
  val details: ObjectNode = mapper.createObjectNode()
  private var generationS = 0.0

  def stop(): Unit = spark.stop()

  /** Generates (once) and verifies the fixture at `scale`. */
  private def fixture(name: String, scale: Double): String = {
    val dir = new java.io.File(dataDir, s"$name-${Fixture.version}-$scale")
    val t0 = System.nanoTime()
    val fp = Fixture.ensure(spark, dir, scale)
    generationS += (System.nanoTime() - t0) / 1e9
    val want = expected.path("fixture").path(name).asText
    if (fp != want)
      throw new BenchAbort(s"fixture $name fingerprint $fp differs from the frozen $want " +
        s"in $expectedFile: the generator or the data changed")
    dir.getPath
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Seconds since JVM start at which each phase of the run ended. */
  private def phase(name: String): Unit =
    details.withObject("/phases_end_s").put(name, Proc.uptimeS())

  private def record(kind: String, s: Seq[Sample]): Unit = {
    attempted += s.size
    s.foreach(x => x.problem.foreach(p => problems += s"$kind ${x.route}: $p"))
  }

  /** Runs the workload and returns the result line. */
  def run(): String = {
    val env = details.putObject("environment")
    env.put("nproc", nproc).put("clients", clients)
      .put("jvm", s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
      .put("spark", spark.version).put("seed", seed).put("seconds", seconds)
      .put("workload", workload).put("trace", trace).put("jvm_start_s", contextS)
    val metrics = if (trace) traced() else workload match {
      case "curate-pipeline" => pipelineRun()
      case w => servingRun(writes = w == "stac-mixed")
    }
    env.put("fixture_generation_s", generationS)
    val declared = if (trace) Traced.perLayer else endToEnd
    if (metrics.map(m => m.name -> m.unit) != declared)
      throw new BenchAbort(s"printed metrics ${metrics.map(_.name).mkString(",")} differ " +
        "from the declared ones")
    val ms = details.putObject("metrics")
    metrics.foreach(m => ms.putObject(m.name).put("value", m.value).put("unit", m.unit)
      .put("samples", m.samples))
    val pa = details.putArray("problems")
    problems.take(50).foreach(p => pa.add(p))
    details.put("attempted", attempted).put("failed", problems.size)
    resultLine(attempted, problems.size, metrics)
  }

  /** `setup_s`: the median of the workload's repeated set-ups. The JVM and
    * Spark context start, which a run makes once and the engine does not
    * shape, goes to the report only (`environment.jvm_start_s`), as do
    * fixture generation (once per checkout) and the warm-up.
    */
  private def setupMetric(unitTimes: Seq[Double]): Metric = {
    val a = details.withArray("/setup_units_s")
    unitTimes.foreach(a.add(_))
    Metric("setup_s", Stats.median(unitTimes), "s", unitTimes.size)
  }

  /** The median operation latency. Tail percentiles go to the report only,
    * each where the percentile rule allows it: a pipeline run has a few dozen
    * gate runs, too few for any tail.
    */
  private def medianMetric(ms: Seq[Double]): Metric = {
    if (ms.size < Stats.samplesNeeded(50))
      throw new BenchAbort(s"${ms.size} operations are too few for a median")
    Metric("op_p50_ms", Stats.median(ms), "ms", ms.size)
  }

  /** Median and the highest percentile the sample count supports. */
  private def latencies(o: ObjectNode, ms: Seq[Double]): Unit = {
    o.put("count", ms.size).put("p50_ms", Stats.median(ms))
    Seq(99.0, 95.0, 90.0, 80.0, 75.0).iterator
      .flatMap(p => Stats.percentile(ms, p).map(p -> _)).nextOption()
      .foreach { case (p, v) => o.put(f"p$p%.0f_ms", v) }
  }

  // ------------------------------------------------------------- serving
  /** The repeated set-up unit of the serving workloads: a new session, the
    * fixture schema check and a started server.
    */
  private def startServer(dir: String): (StacHttp.Server, Double) =
    timed(StacHttp.start(checkedSession(spark, dir), dir))

  private def servingRun(writes: Boolean): Seq[Metric] = {
    val dir = fixture("serve", serveScale)
    val serving = new Serving(spark, dir, seed, writes, clients)
    phase("fixture")
    // a first server warms the JIT, so the other set-up samples are taken
    // warm; the last server started gets its own warm-up (its caches fill)
    // and the timed load
    val (first, firstS) = startServer(dir)
    val (_, warmS) = try timed(record("warm-up", serving.warmUp(first))) finally first.stop()
    val ups = (2 to setups).map { i =>
      val (srv, secs) = startServer(dir)
      if (i < setups) srv.stop()
      (srv, secs)
    }
    val server = ups.last._1
    phase("setup")
    try {
      details.put("warm_up_s", warmS + timed(record("warm-up", serving.warmUp(server)))._2)
      phase("warm_up")
      val t0 = System.nanoTime()
      val (samples, mixes) = serving.closedLoop(server, seconds, requestTimeoutS)
      val elapsed = (System.nanoTime() - t0) / 1e9
      // what the server holds after the load: its overlay and any caches
      val retained = Proc.retainedHeapMb()
      phase("timed")
      record("timed", samples)
      val (nSearch, searchProblems) = serving.checkSearches(server, 4)
      attempted += nSearch; problems ++= searchProblems
      if (writes) {
        val (nW, wProblems) = serving.checkWrites(server, mixes)
        attempted += nW; problems ++= wProblems
      }
      phase("checks")
      describeServing(samples, elapsed)
      val ok = samples.filter(_.ok)
      Seq(setupMetric(firstS +: ups.map(_._2)), Metric("retained_heap_mb", retained, "MB", 1),
        Metric("ops_per_s", ok.size / elapsed, "1/s", samples.size),
        medianMetric(samples.map(_.ms)))
    } finally server.stop()
  }

  private def describeServing(samples: Seq[Sample], elapsed: Double): Unit = {
    val d = details.putObject("serving")
    d.put("requests", samples.size).put("elapsed_s", elapsed)
      .put("latency_limit_ms", latencyLimitMs)
      .put("over_limit_or_failed", samples.count(s => !s.ok || s.ms > latencyLimitMs))
    latencies(d.putObject("all"), samples.map(_.ms))
    val routes = d.putObject("routes")
    samples.groupBy(_.route).toSeq.sortBy(_._1).foreach { case (r, xs) =>
      val o = routes.putObject(r)
      o.put("share", xs.size.toDouble / samples.size)
      latencies(o, xs.map(_.ms))
    }
    val searches = samples.filter(s => s.route.startsWith("search_") && s.route != "search_next")
    d.put("broad_search_share",
      if (searches.isEmpty) 0.0 else searches.count(_.broad).toDouble / searches.size)
    val (w, r) = samples.partition(s => Mix.writeRoutes.contains(s.route))
    if (r.nonEmpty) latencies(d.putObject("read"), r.map(_.ms))
    if (w.nonEmpty) latencies(d.putObject("write"), w.map(_.ms))
  }

  // ------------------------------------------------------------ pipeline
  private def pipelineRun(): Seq[Metric] = {
    val fixtureDir = fixture("pipeline", pipelineScale)
    val pipeline = new Pipeline(spark, fixtureDir, work, expectedRows)
    phase("fixture")
    val (warm, warmS) = timed(pipeline.pass(measure = true))
    details.put("warm_up_s", warmS)
    phase("warm_up")
    // every pass opens a snapshot; with the warm-up's and the timed
    // passes' openings, these make `setups` set-up samples or more
    val extra = (1 to setups - 1 - Pipeline.timedPasses).map { i =>
      val d = Files.fresh(work, s"setup-$i")
      try pipeline.open(d)._3 finally Files.deleteTree(d)
    }
    phase("setup")
    attempted += warm.runs.size
    warm.runs.foreach(g => g.problem.foreach(p => problems += s"warm-up ${g.gate}: $p"))
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Pass]
    // whole passes until the time is up, and at least `timedPasses`
    while ((System.nanoTime() - t0) / 1e9 < seconds || passes.size < Pipeline.timedPasses)
      passes += pipeline.pass()
    val elapsed = (System.nanoTime() - t0) / 1e9
    phase("timed")
    val runs = passes.flatMap(_.runs).toSeq
    attempted += runs.size
    runs.foreach(g => g.problem.foreach(p => problems += s"${g.gate}: $p"))
    val d = details.putObject("pipeline")
    d.put("gates", Pipeline.gates.size).put("passes", passes.size).put("elapsed_s", elapsed)
    val passWalls = passes.map(_.runs.map(_.s).sum).toSeq
    val pa = d.putArray("pass_s")
    passWalls.foreach(pa.add(_))
    val gw = d.putObject("gate_median_s")
    runs.groupBy(_.gate).toSeq.sortBy(_._1).foreach { case (g, xs) =>
      gw.put(g, Stats.median(xs.map(_.s))) }
    // gates per second of the median pass, so one pass hit by a stall on a
    // shared host does not move the figure
    Seq(setupMetric(warm.setupS +: extra ++: passes.map(_.setupS).toSeq),
      Metric("retained_heap_mb", warm.retainedMb.get, "MB", 1),
      Metric("ops_per_s", Pipeline.gates.size / Stats.median(passWalls), "1/s", passes.size),
      medianMetric(runs.map(_.s * 1000.0)))
  }

  private def expectedRows: Map[String, Long] =
    expected.path("gate_rows").properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  // --------------------------------------------------------------- traced
  /** The per-layer run: every workload's layers, traced. */
  private def traced(): Seq[Metric] = {
    val (serveDir, pipeDir) = (fixture("serve", serveScale), fixture("pipeline", pipelineScale))
    checkedSession(spark, serveDir); checkedSession(spark, pipeDir)
    new Traced(spark, nproc, clients, seed, work, expectedRows, serveDir, pipeDir, details,
      record, p => problems += p, n => attempted += n).run()
  }
}
