package graft

/** Benchmark main: one JSON line on stdout
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Session, warm-up, timer and between-gate sweep are [[Harness]]'s. Each
  * gate's value is its best of `SPARK_GRAFT_BENCH_RUNS` runs (2 by default:
  * run-to-run noise on a shared box otherwise dominates sub-second gates).
  * A gate whose run throws is reported as -1 in a separate `failures`
  * list and excluded from the total, so crashes can't flatter the numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = Harness.session()
    graft.core.FixtureGuard.report(spark, sfDir, "bench")
    Harness.warmUp(spark)

    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val best = Harness.time(spark, sfDir, name, runs)
      // NOTE (r12-opt, measured): a per-gate System.gc() here fixes the
      // occasional block-store tail inflation of individual gates
      // (c89 2.6 → 1.2 s) but costs ~0.2 s on EVERY gate (full sweep
      // 124 → 163 s): the async unpersist storm and post-GC warmup tax
      // the next gate's timed run. The targeted sweep is the better trade.
      Harness.sweep(spark)
      name -> best.getOrElse(-1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = results.map(_._2).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failures":${failed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // Durable copy first: the driver's stdout parse failed two rounds
    // running (sbt epilogue after the JSON line), so when
    // SPARK_GRAFT_BENCH_OUT is set the line is ALSO written there as a
    // file the driver can read unambiguously.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    // stop() BEFORE the println so Spark's shutdown logging cannot land
    // after (or inside) the one machine-readable stdout line.
    spark.stop()
    println(line)
  }
}
