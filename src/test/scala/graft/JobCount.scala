package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What a block of code ran on a session: the Spark jobs it started and
  * the physical plans of the SQL executions it opened. Listener events
  * arrive asynchronously, so before and after the block one marked job
  * runs and the count waits until the listener has seen it: the bus
  * delivers in order, so every earlier event has been seen as well.
  */
final case class Ran[T](result: T, jobs: Int, plans: Seq[String])

object JobCount {
  private val marker = "graft.test.jobcount.marker"

  private final class Listener extends SparkListener {
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[String]
    @volatile var markerSeen = new CountDownLatch(1)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty(marker) != null)) markerSeen.countDown()
      else jobs.incrementAndGet()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => plans.add(x.physicalPlanDescription)
      case _ => ()
    }
  }

  def apply[T](spark: SparkSession)(body: => T): Ran[T] = {
    val sc = spark.sparkContext
    val l = new Listener
    def settle(): Unit = {
      l.markerSeen = new CountDownLatch(1)
      sc.setLocalProperty(marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(marker, null)
      assert(l.markerSeen.await(60, TimeUnit.SECONDS), "the listener never saw the marker job")
    }
    sc.addSparkListener(l)
    try {
      settle()
      l.jobs.set(0)
      l.plans.clear()
      val r = body
      settle()
      Ran(r, l.jobs.get, l.plans.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
