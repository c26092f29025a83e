package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one primitive for derived state held in memory — the in-memory
  * twin of [[Staged]]: resolved table plans, scan widths, trainer samples
  * and codebooks, probe results, "plan checked once" flags, and the
  * shared derived frames several gates consume (capped trigram postings
  * for C4/C56, the positional 8-gram shingle stream for C24/C40/C70, the
  * MinHash band index for C2/C18/C47/C67/C98).
  *
  *  - KEY: (session object, key string naming the value and its fixture
  *    dir). The session is compared by reference (SparkSession does not
  *    override equals), so a new session derives everything again and
  *    every value it sees agrees with the file listing [[Tables.load]]
  *    pins for that session.
  *  - LIFETIME: entries whose SparkContext has stopped are dropped on the
  *    next miss (checkpoint blocks die with their context, and holding
  *    the session and its plans would leak in a long-lived JVM). Entries
  *    of a session dropped without stopping its context stay until the
  *    context stops — a weak key would not help, since a memoized frame
  *    holds its own session.
  *  - BUILDS NEST: a build may memoize other keys while it runs (C2's
  *    pairs build the band index, which builds the signature frame), so
  *    the map is a TrieMap and never `ConcurrentHashMap.computeIfAbsent`
  *    (which throws "Recursive update" on a nested insert). Callers racing
  *    on one key may each build, but all get the one inserted value; a
  *    build that throws caches nothing.
  *
  * Stays outside, on purpose: `GeoParquet.footerMemo` (checks the
  * directory's listing signature on every call and replaces its entry per
  * directory so streaming appends stay O(directories); its values are
  * file metadata tied to no session), `TxnStore`'s revision maps (the
  * write overlay's state, not a cache) and `Harness`'s job log (listener
  * bookkeeping).
  *
  * DEPLOYMENT CAVEAT — stated once here for EVERY eager
  * `localCheckpoint(true)` site in the operators (the staged-frame
  * idiom): localCheckpoint is NOT fault-tolerant. Blocks live only on
  * the executors that computed them, the truncated lineage cannot be
  * recomputed after an executor loss, and it is unsafe under dynamic
  * allocation. It is the right LOCAL-bench staging primitive (no
  * filesystem round-trip); on a real cluster each of these sites is the
  * same pattern with a different materialization: a persisted staged
  * table (write + read back through [[Staged]], exactly what [[frame]]
  * models) or `checkpoint()` to reliable storage.
  */
object Memo {
  private val entries = TrieMap.empty[(SparkSession, String), Any]

  /** The value under (`s`, `key`), running `build` first if it is absent. */
  def apply[T](s: SparkSession, key: String)(build: => T): T = {
    val k = (s, key)
    entries.getOrElse(k, {
      entries.keysIterator.foreach { e =>
        if (e._1.sparkContext.isStopped) entries.remove(e)
      }
      entries.getOrElseUpdate(k, build)
    }).asInstanceOf[T]
  }

  /** A memoized derived frame: the result of `build` is eagerly
    * localCheckpoint'ed, so every consumer starts from the materialized
    * blocks instead of the lineage.
    *
    * Each build's wall time is reported on stderr: the first gate that
    * needs a frame pays the build inside its own timed region, so without
    * this line the shared-prep cost is invisibly buried in whichever gate
    * runs first (bench methodology note in OPTIMIZATION_r13.md).
    */
  def frame(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    apply(s, key) {
      val t0 = System.nanoTime()
      val df = build.localCheckpoint(true)
      System.err.println(f"[memo] $key built in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      df
    }

  /** The persisted RDD ids held by `s`'s memoized frames — the checkpoint
    * RDD each [[frame]] entry's plan scans. This is the KEEP set of
    * [[graft.Harness.sweep]]: memo frames are shared across gates, and
    * unpersisting a localCheckpoint'ed RDD makes its data unrecoverable.
    * Intermediates a build checkpointed but did not return are not held.
    */
  def ownedRddIds(s: SparkSession): Set[Int] = {
    val persisted = s.sparkContext.getPersistentRDDs.keySet
    entries.iterator.collect { case ((o, _), df: Dataset[_]) if o eq s => df }
      .flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id })
      .filter(persisted).toSet
  }
}
