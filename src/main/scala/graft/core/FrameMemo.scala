package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for shared derived frames (the staged-table
  * pattern): several gates consume the same deterministic intermediate —
  * capped trigram postings (C4/C56), the positional 8-gram shingle stream
  * (C24/C40/C70), the MinHash band index (C2/C18/C47/C67/C98) — and each
  * independently re-derived it from the corpus. In a deployment these ARE
  * persisted tables built once per corpus snapshot (what [[Staged]] does
  * for the on-disk state); locally we memoize the `localCheckpoint`ed
  * frame per (session, key) so one session builds each of them once.
  *
  * Keys include the session identity: checkpoint blocks die with their
  * session, so a frame cached under a stopped session is never returned
  * for a new one (stale entries are just unreferenced garbage).
  *
  * DEPLOYMENT CAVEAT — stated once here for EVERY eager
  * `localCheckpoint(true)` site in the operators (the staged-frame
  * idiom): localCheckpoint is NOT fault-tolerant. Blocks live only on
  * the executors that computed them, the truncated lineage cannot be
  * recomputed after an executor loss, and it is unsafe under dynamic
  * allocation. It is the right LOCAL-bench staging primitive (no
  * filesystem round-trip); on a real cluster each of these sites is the
  * same pattern with a different materialization: a persisted staged
  * table (write + read back through [[Staged]], exactly what [[cached]]
  * models) or `checkpoint()` to reliable storage.
  */
object FrameMemo {
  // keyed on the SESSION OBJECT (reference equality — SparkSession doesn't
  // override equals), not identityHashCode: after a stopped session is
  // GC'd a new one can collide on the hash and would be handed a frame
  // whose checkpoint blocks died with the old session
  private val memo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]

  // persistent-RDD ids created by memoized builds, per session: the bench's
  // between-gate block-store sweep (Harness.sweep) unpersists every OTHER
  // persistent RDD — per-gate localCheckpoints are garbage once the gate's
  // runs finish, but memo blocks are shared across gates and unpersisting a
  // localCheckpoint'd RDD makes its data unrecoverable (lineage truncated)
  private val owned =
    new scala.collection.concurrent.TrieMap[SparkSession, Set[Int]]

  /** Persistent RDD ids owned by memoized frames of `s` — the KEEP set for
    * harness-side block-store sweeps. Conservative: ids checkpointed while
    * a build ran are attributed to the memo even if the memo frame itself
    * does not reference them.
    */
  def ownedRddIds(s: SparkSession): Set[Int] = owned.getOrElse(s, Set.empty)

  /** `build` runs at most once per (live session, key); the result is
    * eagerly localCheckpoint'ed so every consumer starts from the
    * materialized blocks instead of the lineage. Entries owned by stopped
    * sessions are swept on every call (their blocks are gone, and holding
    * the session+plan references would leak in a long-lived JVM).
    *
    * Each build's wall time is reported on stderr: the first gate that
    * needs a frame pays the build inside its own timed region, so without
    * this line the shared-prep cost is invisibly buried in whichever gate
    * runs first (bench methodology note in OPTIMIZATION_r13.md).
    */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    memo.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) { memo.remove(k); owned.remove(k._1) }
    }
    memo.getOrElseUpdate((s, key), {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val df = build.localCheckpoint(true)
      val secs = (System.nanoTime() - t0) / 1e9
      val newIds = s.sparkContext.getPersistentRDDs.keySet.diff(before)
      // atomic merge: a concurrent build's ids must not be lost from the
      // keep set, or the sweep would unpersist a live memo checkpoint
      owned.updateWith(s)(prev => Some(prev.getOrElse(Set.empty[Int]) ++ newIds))
      System.err.println(f"[memo] $key built in $secs%.2f s")
      df
    })
  }
}
