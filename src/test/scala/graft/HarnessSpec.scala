package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.scalatest.funsuite.AnyFunSuite

/** The harness's contract on the shared test session — never through
  * `Harness.session()`: `getOrCreate` would hand back (and reconfigure)
  * the session every other spec runs on.
  */
class HarnessSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("session policy: local[cpus], shuffle = cpus, AQE off, UTC, UI off, 1-min GC") {
    val c = Harness.conf
    assert(Harness.cpus > 0)
    assert(c("spark.master") == s"local[${Harness.cpus}]")
    assert(c("spark.sql.shuffle.partitions") == Harness.cpus.toString)
    assert(c("spark.sql.adaptive.enabled") == "false")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.ui.enabled") == "false")
    assert(c("spark.cleaner.periodicGC.interval") == "1min")
  }

  test("time: best of the runs; a gate that throws is a failure, not a time") {
    val seen = Seq.newBuilder[Int]
    val best = Harness.time(s, TestSpark.sf, "a22_combined_search", 2,
      (r, _) => seen += r)
    assert(best.exists(_ > 0))
    assert(seen.result() == Seq(1, 2))

    var ran = 0
    assert(Harness.time(s, "/nonexistent/sf", "a22_combined_search", 3,
      (_, _) => ran += 1).isEmpty)
    assert(ran == 0)
  }

  test("sweep unpersists outside the keep set and restores the logger level") {
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val original = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.INFO)
    try {
      val sc = s.sparkContext
      val rdd = sc.parallelize(1 to 10).map(_ * 2).cache()
      rdd.count()
      assert(sc.getPersistentRDDs.contains(rdd.id))
      assert(!graft.core.Memo.ownedRddIds(s).contains(rdd.id))
      Harness.sweep(s)
      assert(!sc.getPersistentRDDs.contains(rdd.id))
      assert(LogManager.getLogger(name).getLevel == Level.INFO)
    } finally Configurator.setLevel(name, original)
  }

  test("numeric env values: a positive Int or the default; 0, -1 and abc fail naming the variable") {
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_RUNS")) {
      assert(Harness.positiveEnv(Map.empty, name, 7) == 7)
      assert(Harness.positiveEnv(Map(name -> "3"), name, 7) == 3)
      for (bad <- Seq("0", "-1", "abc")) {
        val e = intercept[IllegalArgumentException](
          Harness.positiveEnv(Map(name -> bad), name, 7))
        assert(e.getMessage.contains(name) && e.getMessage.contains(bad), e.getMessage)
      }
    }
    assert(Harness.benchRuns >= 1)
  }

  test("time: reps below 1 throw rather than report a failed gate") {
    var ran = 0
    intercept[IllegalArgumentException](
      Harness.time(s, TestSpark.sf, "a22_combined_search", 0, (_, _) => ran += 1))
    assert(ran == 0)
  }

  test("four SPARK_GRAFT_* values are settable") {
    val name = "SPARK_GRAFT_[A-Z_]+".r
    def sources(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val files = sources(new java.io.File("src/main"))
    assert(files.nonEmpty, "not run from the repo root")
    val names = files.flatMap { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(src =>
        name.findAllIn(src.mkString).toVector)
    }.toSet
    assert(names == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_OUT"), names)
  }
}
