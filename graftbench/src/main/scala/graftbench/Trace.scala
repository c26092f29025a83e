package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One finished Spark job as the listener saw it. */
final case class JobRec(op: Option[String], startMs: Long, endMs: Long,
                        taskRunMs: Long, recordsRead: Long, shuffleBytes: Long) {
  def wallMs: Long = endMs - startMs
}

/** The Spark layer seen from outside the engine: a `SparkListener` that
  * folds task metrics into per-job records. A job is tagged with the
  * `graftbench.op` local property of the thread that submitted it, when the
  * benchmark set one; untagged jobs are attributed by their time window.
  * The time spent inside its own callbacks is the tracing overhead.
  */
final class JobTrace extends SparkListener {
  private final class Acc(val op: Option[String], val start: Long) {
    var runMs = 0L; var read = 0L; var shuffle = 0L
  }
  private val open = mutable.Map.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  private var busyNs = 0L

  private def busy(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    busyNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(JobTrace.opKey)))
    open(e.jobId) = new Acc(op, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    for (j <- stageJob.get(e.stageId); a <- open.get(j); m <- Option(e.taskMetrics)) {
      a.runMs += m.executorRunTime
      a.read += m.inputMetrics.recordsRead
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
    open.remove(e.jobId).foreach { a =>
      done += JobRec(a.op, a.start, e.time, a.runMs, a.read, a.shuffle)
    }
  }

  /** Milliseconds spent in this listener's callbacks. */
  def busyMs: Double = synchronized(busyNs / 1e6)

  /** Jobs finished so far. */
  def jobs: Seq[JobRec] = synchronized(done.toList)
}

object JobTrace {
  val opKey = "graftbench.op"

  /** Jobs that started inside [startMs, endMs]. */
  def within(jobs: Seq[JobRec], startMs: Long, endMs: Long): Seq[JobRec] =
    jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs)

  /** Milliseconds of [startMs, endMs] covered by at least one job. */
  def coveredMs(jobs: Seq[JobRec], startMs: Long, endMs: Long): Long = {
    val iv = jobs.map(j => (j.startMs.max(startMs), j.endMs.min(endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = curE.max(b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
