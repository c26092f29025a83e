package graftbench

/** File helpers for the run's private directories. */
object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (!f.exists()) return
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Copies the tree `from` to `to` (which must not exist yet). */
  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new java.io.File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** A fresh empty directory `name` under `parent`. */
  def fresh(parent: java.io.File, name: String): java.io.File = {
    val d = new java.io.File(parent, name)
    deleteTree(d)
    d.mkdirs()
    d
  }
}

/** Summary statistics with the percentile rule of the benchmark: a
  * percentile is reported only when at least [[minBeyond]] samples lie
  * beyond it, so a tail figure never rests on a handful of requests.
  */
object Stats {
  val minBeyond = 10

  /** Samples needed before percentile `p` (0-100) may be reported. */
  def samplesNeeded(p: Double): Int =
    if (p >= 100.0) Int.MaxValue
    else math.ceil(minBeyond * 100.0 / (100.0 - p) - 1e-9).toInt

  /** The `p`th percentile (nearest rank), or None when the sample is too
    * small for the rule.
    */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.isEmpty || xs.size < samplesNeeded(p)) None
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
      Some(s(rank - 1))
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What the JVM knows about its own process. */
object Proc {
  /** Seconds since this JVM started. */
  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap in MB still in use after a full collection: the data the program
    * retains, which unlike the resident set or the heap's high-water mark
    * does not depend on when the collector happened to run.
    */
  def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        (1024.0 * 1024.0)
    }
    // each later collection reclaims what Spark's ContextCleaner released
    // once the one before cleared the weak references it tracks: collect
    // until a round frees less than 1 MB
    var last = used()
    var rounds = 1
    var now = { Thread.sleep(500); used() }
    while (last - now >= 1.0 && rounds < 5) {
      last = now
      rounds += 1
      Thread.sleep(500)
      now = used()
    }
    now
  }
}

