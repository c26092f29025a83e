package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Memo
import graft.ops.Dedup

/** The in-memory memo: session-scoped keys, builds that throw cache
  * nothing, and a sweep keep set read off the memoized frames.
  */
class MemoSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def key(name: String) = s"memospec-$name:${UUID.randomUUID()}"

  /** The persisted RDD a localCheckpoint'ed frame scans. */
  private def checkpointId(df: DataFrame): Int = {
    val ids = df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
    assert(ids.size == 1, df.queryExecution.logical)
    ids.head
  }

  /** c104's shape: the build checkpoints an intermediate it does not return. */
  private def withIntermediate(k: String): (DataFrame, DataFrame) = {
    var inter: DataFrame = null
    val f = Memo.frame(s, k) {
      inter = s.range(0, 100).toDF("id").localCheckpoint(true)
      inter.where(col("id") % 2 === 0)
    }
    (f, inter)
  }

  test("the keep set holds the memo frame's checkpoint, not a build's intermediate") {
    val (f, inter) = withIntermediate(key("keep"))
    val persisted = s.sparkContext.getPersistentRDDs
    assert(persisted.contains(checkpointId(inter)) && persisted.contains(checkpointId(f)))
    val owned = Memo.ownedRddIds(s)
    assert(owned.contains(checkpointId(f)))
    assert(!owned.contains(checkpointId(inter)))
  }

  test("after the sweep the memo frame still collects; the intermediate is unpersisted") {
    val (f, inter) = withIntermediate(key("sweep"))
    Harness.sweep(s)
    val persisted = s.sparkContext.getPersistentRDDs
    assert(persisted.contains(checkpointId(f)))
    assert(!persisted.contains(checkpointId(inter)))
    assert(f.collect().map(_.getLong(0)).toSeq == (0L until 100L by 2L))
  }

  test("two threads on one key get one frame; the keep set holds only its id") {
    val k = key("race")
    val before = s.sparkContext.getPersistentRDDs.keySet
    // both builds must be running before either returns
    val inside = new CountDownLatch(2)
    val builds = new AtomicInteger(0)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val frames = Await.result(Future.sequence(Seq.fill(2)(Future {
      Memo.frame(s, k) {
        builds.incrementAndGet()
        inside.countDown()
        inside.await(30, TimeUnit.SECONDS)
        s.range(0, 10).toDF("id")
      }
    })), 2.minutes)
    assert(frames(0) eq frames(1))
    assert(builds.get == 2)
    // the losing build's checkpoint is persisted too (until the cleaner
    // collects it), but the keep set reads only the inserted frame
    val built = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(Memo.ownedRddIds(s).intersect(built) == Set(checkpointId(frames(0))))
    assert(Memo.frame(s, k)(fail("a third build")) eq frames(0))
  }

  test("a build that throws caches nothing; the next call builds") {
    val k = key("throw")
    intercept[IllegalStateException](Memo[Int](s, k)(throw new IllegalStateException("boom")))
    var builds = 0
    assert(Memo(s, k) { builds += 1; 42 } == 42)
    assert(Memo(s, k) { builds += 1; 7 } == 42)
    assert(builds == 1)
  }

  test("c67's split follows a fixture rewritten in place, in a new session") {
    val d = Files.createTempDirectory("graft_memospec").toFile
    try {
      val docs = Paths.get(d.getPath, "documents.parquet")
      Files.copy(Paths.get("/root/testdata/sf0.01/documents.parquet"), docs)
      def splitOf(n: Long) = (n + 1) * 4 / 5
      def maxDocId = s.read.parquet(docs.toString).agg(max(col("doc_id"))).head().getLong(0)
      val oldMax = maxDocId
      assert(Dedup.c67SplitFor(s, d.getPath) == splitOf(oldMax))

      val rows = s.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(col("doc_id") < oldMax / 2)
      rows.write.mode("overwrite").parquet(docs.toString)
      val newMax = maxDocId
      assert(splitOf(newMax) != splitOf(oldMax))
      assert(Dedup.c67SplitFor(s.newSession(), d.getPath) == splitOf(newMax))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(d)
  }
}
