package graftbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One gate executed inside a pass. */
final case class GateRun(gate: String, startMs: Long, endMs: Long, s: Double,
                         rows: Long, problem: Option[String])

/** One pass: the seconds its snapshot took to open, its gates and, when
  * measured, the heap in MB it retains (memo frames, cached blocks).
  */
final case class Pass(setupS: Double, runs: Seq[GateRun], retainedMb: Option[Double])

/** The cold-snapshot curation pipeline: a fixed list of gates run in order
  * through `graft.SparkEntry.queries` into the `noop` sink.
  *
  * Every pass starts cold. It copies the fixture to a new snapshot under a
  * path no earlier pass used, so each engine memo keyed by the fixture's
  * path misses: the JVM-wide trainer sample, centroid and PQ codebook memos
  * of `ops.Similarity`, the split probe of `ops.Dedup` and the footer memo
  * of `core.GeoParquet`. It opens the snapshot in a new session (empty
  * `FrameMemo` and plan caches) with an empty private `java.io.tmpdir`. So
  * staged tables, memo builds and trainers are paid inside every pass. Only
  * the JIT and Spark's own class-level caches stay warm after the warm-up
  * pass.
  *
  * Each gate's output rows are counted by an `Observation` on the written
  * frame (a `CollectMetrics` node above the gate's plan) and compared with
  * the frozen oracle count.
  */
final class Pipeline(spark: SparkSession, fixture: String, work: java.io.File,
                     expectedRows: Map[String, Long]) {
  import Pipeline._
  private var passes = 0
  private var snapshots = 0

  /** The pipeline's set-up: a new snapshot of the fixture under `parent`,
    * opened in a new session and checked against the engine's fixture
    * contract. Returns the session, the snapshot's directory and the
    * seconds the opening took; the copy itself is not counted.
    */
  def open(parent: java.io.File): (SparkSession, String, Double) = {
    snapshots += 1
    val dir = new java.io.File(parent, s"snapshot-$snapshots")
    Files.copyTree(new java.io.File(fixture), dir)
    val t0 = System.nanoTime()
    val s = Main.checkedSession(spark, dir.getPath)
    (s, dir.getPath, (System.nanoTime() - t0) / 1e9)
  }

  def pass(measure: Boolean = false): Pass = {
    passes += 1
    val tmp = Files.fresh(work, s"pass-$passes")
    val oldTmp = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = tmp.getPath
    try {
      val (s, dir, setupS) = open(tmp)
      try {
        val runs = gates.map(run(s, dir, _))
        Pass(setupS, runs, if (measure) Some(Proc.retainedHeapMb()) else None)
      } finally s.catalog.clearCache()
    } finally {
      sys.props("java.io.tmpdir") = oldTmp
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      Files.deleteTree(tmp)
    }
  }

  private def run(s: SparkSession, dir: String, gate: String): GateRun = {
    s.sparkContext.setLocalProperty(JobTrace.opKey, gate)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val obs = Observation(gate)
    val err = try {
      graft.SparkEntry.queries(gate)(s, dir).observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").format("noop").save()
      None
    } catch { case e: Exception => Some(e.toString.take(300)) }
    val secs = (System.nanoTime() - t0) / 1e9
    s.sparkContext.setLocalProperty(JobTrace.opKey, null)
    val rows = if (err.isDefined) -1L else obs.get("rows").asInstanceOf[Long]
    val problem = err.orElse(expectedRows.get(gate) match {
      case Some(n) if n != rows => Some(s"wrote $rows rows, oracle has $n")
      case None => Some("no frozen oracle row count")
      case _ => None
    })
    GateRun(gate, start, System.currentTimeMillis(), secs, rows, problem)
  }
}

object Pipeline {
  /** The gates, in sorted name order: at least one of every operator
    * registry, two of the ROADMAP's first targets (c34 and c56), and a
    * memo-sharing chain (c4 builds the trigram postings c56 reuses). A
    * timed pass takes 7-10 s on 4 cores.
    */
  val gates: Seq[String] = Seq(
    "a82_geoparquet_export", "b4_shuffle_join", "c16_curation_pipeline",
    "c34_ann_pq_rerank", "c4_dedup_jaccard", "c56_containment", "c88_audio_decode",
    "c8_lang_id", "d12_session_window", "d2_sessionize").sorted

  /** The registry (layer) each gate belongs to. */
  val groups: Seq[(String, Set[String])] = Seq(
    "search.StacSearch" -> graft.search.StacSearch.queries.keySet,
    "ops.Analytics" -> graft.ops.Analytics.queries.keySet,
    "ops.Dedup" -> graft.ops.Dedup.queries.keySet,
    "ops.Similarity" -> graft.ops.Similarity.queries.keySet,
    "ops.TextAnalysis" -> graft.ops.TextAnalysis.queries.keySet,
    "ops.Multimodal" -> graft.ops.Multimodal.queries.keySet,
    "ops.Curation" -> graft.ops.Curation.queries.keySet,
    "streaming.Events" -> graft.streaming.Events.queries.keySet)

  /** The fewest timed passes of a run. The first pass after the warm-up is
    * still slowed by late JIT work, 10-60 % on 4 cores; the median of three
    * passes leaves it out.
    */
  val timedPasses = 3

  def groupOf(gate: String): String =
    groups.find(_._2.contains(gate)).map(_._1).getOrElse(sys.error(s"no registry has $gate"))
}
