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
}
