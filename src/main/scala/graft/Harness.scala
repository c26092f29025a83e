package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The one local run harness: every main (Bench, Verify, ProbeScaleGen and
  * the subcommands below) gets its session, warm-up, gate timer and
  * between-gate block-store sweep from here, so a time printed by one tool
  * is comparable to a time printed by another. Usage:
  *   - `runMain graft.Harness gate <sfDir> <g1,g2,…> [reps]` — after the
  *     warm-up, each run's wall time and its per-job lines;
  *   - `runMain graft.Harness plan <sfDir> <g1,…> [outDir tag]` — the
  *     formatted physical plan, printed or written to `<outDir>/<gate>_<tag>.txt`;
  *   - `runMain graft.Harness plan <sfDir>` — regenerates docs/PLANS.md.
  *
  * Plan caveat: gates whose constructors eagerly localCheckpoint shared
  * frames EXECUTE those build subtrees while the plan is formed, and the
  * plan shows `Scan ExistingRDD` where the build ran — it covers only the
  * post-checkpoint part of the gate (PlanAuditSpec pins the staged-build
  * shapes on un-checkpointed kernels where it matters).
  */
object Harness {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session policy. AQE is off: locally its re-planning adds ~100-300
    * ms of stage-boundary latency per query, which dominates sub-second
    * queries at sf0.1 (measured: 56.3 s → 46.4 s bench total); on a real
    * cluster at real scale it pays for itself (skew joins, coalescing) and
    * belongs ON — a harness setting, not an engine design choice. Several
    * operators localCheckpoint multiply-consumed frames whose blocks are
    * freed only after a driver GC makes the RDDs unreachable; the default
    * periodic GC (30 min) outlives a whole bench, so one a minute keeps the
    * block store bounded, as a long-lived cluster driver does.
    */
  val conf: Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "1min")

  def session(): SparkSession = {
    val spark = SparkSession.builder().config(conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Materializes `gate` fully through the `noop` sink — `count()` would
    * let Spark skip projections and sorts and flatter the numbers.
    */
  private def run(spark: SparkSession, sfDir: String, gate: String): Unit =
    SparkEntry.queries(gate)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  /** The flagship on sf0.001 absorbs JVM/codegen startup. A broken warm-up
    * is LOUD: the first measured gates then run cold and every number
    * after it is suspect.
    */
  def warmUp(spark: SparkSession): Unit =
    try run(spark, "/root/testdata/sf0.001", "a22_combined_search")
    catch { case e: Throwable =>
      System.err.println("[harness] WARMUP FAILED (a22_combined_search on " +
        s"sf0.001): ${e.getMessage} — measured times below include cold-JVM cost")
    }

  /** Best wall seconds of `reps` runs of `gate`, or None when a run throws:
    * a failed run is reported, never counted as a fast time. `each(r, s)`
    * sees every completed run.
    */
  def time(spark: SparkSession, sfDir: String, gate: String, reps: Int,
           each: (Int, Double) => Unit = (_, _) => ()): Option[Double] =
    try Some((1 to reps).map { r =>
      val t0 = System.nanoTime()
      run(spark, sfDir, gate)
      val secs = (System.nanoTime() - t0) / 1e9
      each(r, secs)
      secs
    }.min)
    catch { case e: Throwable =>
      System.err.println(s"[harness] $gate failed: ${e.getMessage}")
      None
    }

  /** Between-gate block-store sweep, outside any timed region: a gate's own
    * localCheckpoint blocks are garbage once its runs finish, but they stay
    * until a driver GC lets ContextCleaner collect them, and storage from
    * early gates taxed late gates 4-14× mid-sweep. Everything persistent
    * is unpersisted except the blocks memoized frames hold
    * ([[core.Memo.ownedRddIds]]): those are shared across gates, and
    * unpersisting a localCheckpoint'd RDD makes it unrecoverable. The
    * expected "locally checkpointed … cannot be recomputed" WARN per RDD
    * is silenced for the sweep only.
    */
  def sweep(spark: SparkSession): Unit = {
    val keep = core.Memo.ownedRddIds(spark)
    val logger = "org.apache.spark.rdd.MapPartitionsRDD"
    val prev = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.ERROR)
    try spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    finally Configurator.setLevel(logger, prev)
  }

  /** Per-job log — the local stand-in for the UI's Jobs tab. Listener
    * events arrive asynchronously on the bus, so [[drain]] settles before
    * reading, or the tail jobs of the last run would be missed.
    */
  private final class JobLog(spark: SparkSession) extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, Int, String)]()
    private val done = new ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val sites = js.stageInfos.map(si =>
          si.name.takeWhile(_ != ':') + "×" + si.numTasks).distinct
        .mkString("[", " ", "]")
      started.put(js.jobId, (js.time, js.stageInfos.size, sites))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, nStages, sites) =>
        done.add((je.jobId, (je.time - t0) / 1e3, nStages, sites))
      }

    /** Lines for every job finished since the last drain, in job order. */
    def drain(): Seq[String] = {
      Thread.sleep(300)
      Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
        .sortBy(_._1).map { case (id, secs, nStages, sites) =>
          f"  job $id%4d  $secs%6.2f s  stages=$nStages%-3d $sites"
        }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, gate: String): String =
    SparkEntry.queries(gate)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  /** docs/PLANS.md: one plan per caption, the plan shapes worth keeping in view. */
  private val planCaptions = Seq(
    "a22_combined_search" -> "Flagship search: every filter pushed, TakeOrderedAndProject page",
    "a18_count" -> "numMatched: count over pruned columns only",
    "a35_footprint_intersects" -> "Box-footprint ∩ concave polygon: envelope prune + codegen'd exact kernel",
    "b5_star_join" -> "Star join: all dimensions broadcast",
    "b18_asof_join" -> "As-of join: union-merge, ONE shuffle+sort, running last() window",
    "c2_dedup_minhash" -> "MinHash LSH: inline-explode-hash-partial-agg, bucket pair expansion",
    "c6_ann_bruteforce" -> "Brute-force ANN: query set broadcast, corpus streams",
    "c14_ann_ivf" -> "IVF ANN: shuffle-free centroid assignment (inlined seed argmax projection)",
    "c17_keyword_search" -> "tf-idf: one stats pass broadcast into the scorer, 2 corpus scans",
    "c20_dedup_embedding_lsh" -> "Bucketed embedding near-dup: LSH tables, no cartesian",
    "d2_sessionize" -> "Sessionization: one shuffle reused by windows + groupBy",
    "a70_agg_bundle" -> "Aggregations bundle: ONE scan + Expand + shuffle for every granularity",
    "c92_semantic_decon" -> "Semantic decon: eval set broadcast, corpus streams, per-row max/count",
    "c93_rank_fusion" -> "Rank fusion: value-histogram ranks broadcast back — no global sort",
    "c105_perplexity_mixture" -> "Perplexity-filtered mixture: joinless over the memoized LM bucket frame",
    "a87_catalog_source" -> "Catalog DataSource V2: plan-time footer file prune, filters pushed",
    "a88_polygon_footprint" -> "True-polygon relations: scan + one codegen'd projection of exact kernels",
    "a89_catalog_coldt_prune" -> "Catalog collection+datetime prune: sidecar constraints from the pushed tree",
    "c103_classifier_train" -> "NB training: rebalanced corpus pass, one map-side-combined aggregation",
    "c16_curation_pipeline" -> "Curation: one scan, min_by exact dedup, survivors' exchange reused (r12)",
    "c53_coverage_curve" -> "Coverage curve: distributed TakeOrdered head, NO vocab-wide window (r12)",
    "c97_source_overlap" -> "Source overlap: one shingle exchange, in-row pair expansion, no self-join (r12)",
    "c74_source_vocab_sim" -> "Vocab similarity: one corpus pass, norms off the pair diagonal (r12)",
    "a95_line_footprint" -> "Non-areal stored WKB relations: scan + one codegen'd kernel projection (r12)")

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = session()
    try body(spark) finally spark.stop()
  }

  private def timeGates(sfDir: String, gates: String, reps: Int): Unit =
    withSession { spark =>
      warmUp(spark)
      val jobs = new JobLog(spark)
      gates.split(",").foreach { gate =>
        jobs.drain()
        val best = time(spark, sfDir, gate, reps, (r, secs) => {
          println(f"== $gate run $r: $secs%.2f s")
          jobs.drain().foreach(println)
        })
        println(best.fold(s"== $gate FAILED")(b => f"== $gate best: $b%.2f s"))
        sweep(spark)
      }
    }

  private def planDoc(spark: SparkSession, sfDir: String): Unit = {
    val out = new StringBuilder
    out ++= s"# Physical plans (generated snapshot, " +
      s"${Paths.get(sfDir).getFileName}, local[$cpus])\n\n"
    out ++= s"Regenerate: `sbt \"runMain graft.Harness plan $sfDir\"` " +
      "(writes docs/PLANS.md).\n"
    planCaptions.foreach { case (gate, caption) =>
      out ++= s"\n## $gate — $caption\n\n```\n${plan(spark, sfDir, gate)}```\n"
    }
    Files.writeString(Paths.get("docs/PLANS.md"), out.toString)
    println(s"WROTE docs/PLANS.md (${out.length} chars)")
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gate", sfDir, gates) => timeGates(sfDir, gates, 3)
    case Seq("gate", sfDir, gates, reps) => timeGates(sfDir, gates, reps.toInt)
    case Seq("plan", sfDir) => withSession(planDoc(_, sfDir))
    case Seq("plan", sfDir, gates) => withSession { spark =>
      gates.split(",").foreach { g => println(s"==== $g ====\n${plan(spark, sfDir, g)}") }
    }
    case Seq("plan", sfDir, gates, outDir, tag) => withSession { spark =>
      Files.createDirectories(Paths.get(outDir))
      gates.split(",").foreach { g =>
        val p = plan(spark, sfDir, g)
        val f = Paths.get(outDir, s"${g}_$tag.txt")
        Files.writeString(f, p)
        println(s"WROTE $f (${p.length} chars)")
      }
    }
    case _ =>
      System.err.println("usage: graft.Harness gate <sfDir> <g1,g2,…> [reps]\n" +
        "       graft.Harness plan <sfDir> [<g1,…> [outDir tag]]")
      sys.exit(2)
  }
}
