package graft

import java.io.File
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GeoParquet, Staged}

/** The staged-state primitive: a declared version keys the path, the
  * committed directory is the only marker, racing builders commit one
  * directory, a failed build commits nothing, and every path follows
  * `java.io.tmpdir` as it is at call time.
  */
class StagedSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  /** A name no earlier run staged under (staged state outlives the JVM). */
  private def fresh(): String =
    "stagedspec_" + java.util.UUID.randomUUID().toString.replace("-", "")

  /** Every entry of the tmpdir staged (or mid-staging) under `name`. */
  private def entries(name: String): Seq[String] =
    new File(sys.props("java.io.tmpdir")).list().toSeq
      .filter(_.startsWith(s"graft_${name}_"))

  private def ids(p: String): Set[Long] =
    s.read.parquet(p).collect().map(_.getLong(0)).toSet

  test("a version bump rebuilds; the same version reuses without running build") {
    val name = fresh()
    var builds = 0
    def stage(v: Int) = Staged(name, v, sf, "documents") { p =>
      builds += 1
      s.range(10 * v).write.parquet(p)
    }
    val v1 = stage(1)
    assert(builds == 1 && ids(v1).size == 10)
    assert(stage(1) == v1)
    assert(builds == 1, "an existing version must not rebuild")
    val v2 = stage(2)
    assert(v2 != v1 && builds == 2 && ids(v2).size == 20)
    assert(entries(name).sorted == Seq(v1, v2).map(new File(_).getName).sorted)
  }

  test("two racing builders commit exactly one directory holding one build's rows") {
    val name = fresh()
    val barrier = new CyclicBarrier(2)
    val builds = new AtomicInteger()
    implicit val ec: ExecutionContext = ExecutionContext.global
    def racer(i: Long) = Future {
      Staged(name, 1, sf, "documents") { p =>
        builds.incrementAndGet()
        barrier.await(60, TimeUnit.SECONDS) // both are past the existence check
        s.range(1000 * i, 1000 * i + 10 + i).write.parquet(p)
      }
    }
    val paths = Await.result(Future.sequence(Seq(racer(1), racer(2))), 5.minutes)
    assert(builds.get == 2)
    assert(paths.distinct.size == 1)
    assert(entries(name) == Seq(new File(paths.head).getName),
      "one committed directory and no temp directory")
    val got = ids(paths.head)
    assert(got == (1000L until 1011L).toSet || got == (2000L until 2012L).toSet, got)
  }

  test("a build that throws commits nothing, and the next call rebuilds") {
    val name = fresh()
    val boom = intercept[IllegalStateException] {
      Staged(name, 1, sf, "documents") { p =>
        s.range(5).write.parquet(p)
        throw new IllegalStateException("build failed")
      }
    }
    assert(boom.getMessage == "build failed")
    assert(entries(name).isEmpty, "a failed build must leave no directory")
    val p = Staged(name, 1, sf, "documents")(s.range(3).write.parquet(_))
    assert(ids(p) == Set(0L, 1L, 2L))
  }

  test("staged state follows java.io.tmpdir as it is at call time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stagedspec_tmpdir").toFile
    val old = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = tmp.getPath
    try {
      val audio = ops.Multimodal.audioParquet(s, sf).inputFiles
      assert(audio.nonEmpty && audio.forall(_.contains(tmp.getPath)), audio.toSeq)
      val catalog = GeoParquet.export(s, sf)
      assert(new File(catalog).getParentFile == tmp.getAbsoluteFile, catalog)
      assert(new File(catalog).list().exists(_.endsWith(".parquet")))
    } finally {
      sys.props("java.io.tmpdir") = old
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }
}
