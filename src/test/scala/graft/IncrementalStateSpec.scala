package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.IncrementalState

/** B24 audit: the materialized state table is tiny relative to raw data,
  * and APPENDING one slice's partials (recomputing only that slice from
  * raw) merges to the same answer as a full recompute — the property
  * that lets a nightly pipeline never re-read history.
  */
class IncrementalStateSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("slice-wise append ≡ full recompute; state rows ≪ raw rows") {
    val direct = ops.Analytics.queries("b21_incremental_agg")(s, sf).collect()

    // day 1: state for every slice except the newest
    val slices = IncrementalState.partials(s, sf)
      .select(col("slice")).distinct().collect().map(_.getString(0)).sorted
    val last = slices.last
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_append").toString
    IncrementalState.appendSlices(s, sf, tmp, s"slice < '$last'")
    // day 2: append ONLY the newest slice's partials
    IncrementalState.appendSlices(s, sf, tmp, s"slice = '$last'")

    val merged = IncrementalState.mergedFrom(s, tmp).collect()
    assert(merged.sameElements(direct))

    val stateRows = s.read.parquet(tmp).count()
    val rawRows = core.Tables.orders(s, sf).count()
    info(s"state rows=$stateRows raw rows=$rawRows")
    assert(stateRows < rawRows / 4, s"state ($stateRows) not small vs raw ($rawRows)")
  }

  test("B35: incremental join view — appending only the newest slice's " +
      "pre-joined partials serves the exact direct three-table join") {
    val direct = ops.Analytics.queries("b35_incremental_join")(s, sf).collect()

    val slices = core.Tables.orders(s, sf)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("slice"))
      .distinct().collect().map(_.getString(0)).sorted
    val last = slices.last
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_b35").toString
    // day 1: every slice but the newest; day 2: ONLY the newest month is
    // joined against the dims and appended — history never re-joined
    IncrementalState.b35AppendSlices(s, sf, tmp, s"slice < '$last'")
    IncrementalState.b35AppendSlices(s, sf, tmp, s"slice = '$last'")

    val merged = IncrementalState.b35MergedFrom(s, tmp).collect()
    assert(merged.sameElements(direct))

    // state size is exactly |occupied (slice, nation) cells| — the design
    // bound (at toy SF that's close to |orders|; the compression is the
    // point at scale, where orders ≫ slices × nations)
    val stateRows = s.read.parquet(tmp).count()
    val cells = core.Tables.orders(s, sf)
      .join(core.Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
      .select(date_format(col("o_orderdate"), "yyyy-MM"), col("c_nationkey"))
      .distinct().count()
    assert(stateRows == cells, s"state $stateRows != occupied cells $cells")
  }

  test("B27: sketch-typed state — sliced HLL partials union to the direct " +
      "whole-corpus sketch bit-for-bit, and track exact distinct counts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_sketch").toString
    IncrementalState.sketchPartials(s, sf)
      .write.mode("overwrite").partitionBy("slice").parquet(tmp)

    val merged = IncrementalState.sketchMergedFrom(s, tmp).collect()
    val direct = IncrementalState.sketchDirect(s, sf).collect()
    // register-wise max is slice-invariant: merged ≡ direct, estimate bits included
    assert(merged.sameElements(direct))

    // the estimate tracks exact COUNT(DISTINCT) within HLL accuracy (lgK=12
    // → rse ~0.8%; assert a loose 5% so the test pins accuracy, not luck)
    val exact = core.Tables.orders(s, sf)
      .groupBy(col("o_orderstatus").as("st"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    merged.foreach { r =>
      val (st, est) = (r.getString(0), r.getLong(1).toDouble)
      val n = exact(st).toDouble
      assert(math.abs(est - n) / n < 0.05, s"st=$st est=$est exact=$n")
    }
    info(merged.map(r => s"${r.getString(0)}: est=${r.getLong(1)} exact=${exact(r.getString(0))}").mkString("; "))
  }

  test("B28: Misra-Gries heavy-hitter state — merged summaries keep every " +
      "true heavy hitter within the n/(k+1) bound, at ≤ k rows per slice") {
    import s.implicits._
    val k = 8
    // synthetic Zipf-ish stream: key i appears ~60/i times — real skew,
    // which the uniform fixtures don't have; 3 slices split round-robin
    val stream = for {
      i <- 1 to 40; r <- 1 to (60 / i).max(1)
    } yield (s"slice${(i * 31 + r) % 3}", s"k$i")
    val rows = stream.toDF("slice", "key")
    val n = stream.size.toLong

    val summaries = IncrementalState.mgSummaries(rows, k)
    val perSlice = summaries.groupBy(col("slice")).count().collect()
    perSlice.foreach(r => assert(r.getLong(1) <= k, s"slice ${r.getString(0)}"))

    val merged = IncrementalState.mgMerged(summaries, k).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.size <= k)
    val truth = stream.groupBy(_._2).map { case (key, xs) => key -> xs.size.toLong }
    val bound = n / (k + 1)
    // every estimate is an under-count by at most n/(k+1)
    merged.foreach { case (key, est) =>
      val t = truth(key)
      assert(est <= t && t - est <= bound, s"$key est=$est true=$t bound=$bound")
    }
    // every TRUE heavy hitter (freq > n/(k+1)) survived the merge
    val hh = truth.filter(_._2 > bound).keySet
    assert(hh.nonEmpty, "fixture should produce true heavy hitters")
    assert(hh.subsetOf(merged.keySet), s"missing: ${hh -- merged.keySet}")

    // the bound also holds on real corpus words sliced by source
    val words = core.Tables.documents(s, sf)
      .select(col("source").as("slice"),
        explode(expr("split(text, ' ')")).as("key"))
    val wMerged = IncrementalState.mgMerged(
      IncrementalState.mgSummaries(words, 64), 64).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wTruth = words.groupBy(col("key")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wBound = wTruth.values.sum / 65
    wMerged.foreach { case (key, est) =>
      val t = wTruth(key)
      assert(est <= t && t - est <= wBound, s"$key est=$est true=$t bound=$wBound")
    }
  }

  test("B30: histogram-state quantiles land within one bin width of the " +
      "exact percentiles") {
    val est = IncrementalState.b30HistQuantiles(s, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(est.keySet == Set(50, 95, 99))
    val prices = core.Tables.orders(s, sf)
      .select(col("o_totalprice")).collect().map(_.getDouble(0)).sorted
    est.foreach { case (p, lo) =>
      // exact p-th percentile (same ceil-rank definition as the read-off)
      val exact = prices((prices.length * p + 99) / 100 - 1)
      assert(lo <= exact && exact < lo + 2500L,
        s"p$p: est_lo=$lo exact=$exact (bin width 2500)")
    }
  }

  test("D11: streaming foreachBatch feed — partials-of-partials merge to the direct aggregate") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)](s)
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_stream").toString
    val q = mem.toDF().toDF("st", "cents", "d")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalState.appendBatchPartials(b, tmp))
      .start()
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    try {
      // both batches write into the SAME January slice — the merge-on-read
      // must combine partials of partials
      mem.addData(("O", 100L, ts(1)), ("O", 250L, ts(5)), ("F", 40L, ts(3)))
      q.processAllAvailable()
      mem.addData(("O", 600L, ts(9)), ("F", 10L, ts(2)))
      q.processAllAvailable()
    } finally q.stop()

    val merged = IncrementalState.mergedFrom(s, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    assert(merged.toSeq == Seq(("F", 2L, 50L, 25L), ("O", 3L, 950L, 316L)))
    // the January slice holds one partial row per (batch, status)
    val janRows = s.read.parquet(tmp).where(col("slice") === "2024-01").count()
    assert(janRows == 4, s"expected 4 partial rows in the slice, got $janRows")
  }

  test("D16: streaming sketch feed — per-batch HLL partials union to the " +
      "direct whole-corpus sketch, batches splitting a slice included") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)](s)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch_stream").toString
    val q = mem.toDF().toDF("st", "k", "d")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalState.appendBatchSketchPartials(b, tmp))
      .start()
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")
    val rows = Seq(("O", 7L, ts(1)), ("O", 8L, ts(5)), ("F", 7L, ts(3)),
      ("O", 7L, ts(9)), ("O", 9L, ts(11)), ("F", 12L, ts(2)))
    try {
      mem.addData(rows.take(3)); q.processAllAvailable()
      mem.addData(rows.drop(3)); q.processAllAvailable() // same January slice
    } finally q.stop()

    val merged = IncrementalState.sketchMergedFrom(s, tmp).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // direct sketch over the same rows — union of partials must match bits
    val direct = rows.toDF("st", "k", "d")
      .groupBy(col("st"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 12))").as("e"),
        count(lit(1)).as("n"))
      .orderBy(col("st"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(merged.sameElements(direct), s"merged=${merged.toSeq} direct=${direct.toSeq}")
    assert(merged.toSeq == Seq(("F", 2L, 2L), ("O", 3L, 4L))) // exact at tiny n
  }

  test("B26: slice compaction — merge-at-rest ≡ merge-on-read, one file and " +
      "one row per (slice, group)") {
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_state_compact").toString
    def append(rows: (String, Long, java.sql.Timestamp)*): Unit =
      IncrementalState.appendBatchPartials(rows.toDF("st", "cents", "d"), tmp)
    def ts(month: Int, day: Int) =
      java.sql.Timestamp.valueOf(f"2024-$month%02d-$day%02d 00:00:00")
    // three appends into January, one into February — the D11 shape
    append(("O", 100L, ts(1, 1)), ("F", 40L, ts(1, 3)))
    append(("O", 250L, ts(1, 5)))
    append(("O", 600L, ts(1, 9)), ("F", 10L, ts(1, 2)))
    append(("O", 70L, ts(2, 1)))

    def parquetFiles(slice: String): Int =
      new java.io.File(tmp, s"slice=$slice").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    val before = IncrementalState.mergedFrom(s, tmp).collect().toSeq
    assert(parquetFiles("2024-01") >= 3, "expected one file per append")

    IncrementalState.compactSlices(s, tmp)

    val after = IncrementalState.mergedFrom(s, tmp).collect().toSeq
    assert(after == before, s"compaction changed results: $after vs $before")
    assert(parquetFiles("2024-01") == 1 && parquetFiles("2024-02") == 1)
    // semantic merge: exactly one state row per (slice, group) remains
    val perGroup = s.read.parquet(tmp)
      .groupBy(col("slice"), col("st")).count().collect()
    assert(perGroup.forall(_.getLong(2) == 1L), perGroup.mkString(","))
    // and a second compaction is a no-op fixpoint
    IncrementalState.compactSlices(s, tmp)
    assert(IncrementalState.mergedFrom(s, tmp).collect().toSeq == before)
  }

  test("D19: streaming datasheet feed — rolled-up merged partials ≡ batch " +
      "C44, batches splitting every group included") {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[DocRow](s)
    val tmp = java.nio.file.Files.createTempDirectory("graft_d19").toString
    val q = mem.toDF()
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) =>
        ops.TextAnalysis.appendBatchDatasheetPartials(b, tmp))
      .start()
    val rows = core.Tables.documents(s, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[DocRow].collect()
    try {
      // the halves split most (source, lang) groups across batches — the
      // partials-of-partials case (parity would NOT: in the fixture
      // doc_id % 2 determines the group)
      mem.addData(rows.filter(_.doc_id < 250).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_.doc_id >= 250).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    val live = ops.TextAnalysis.datasheetFrom(s, tmp).collect()
    val batch = ops.TextAnalysis.queries("c44_corpus_datasheet")(s, sf).collect()
    assert(live.sameElements(batch),
      s"live=${live.take(3).toSeq} batch=${batch.take(3).toSeq}")
    // the state really is partials-of-partials: more partial rows than
    // leaf groups, yet reads touch only the tiny partial table
    val leafGroups = batch.count(_.getLong(6) == 0L)
    assert(s.read.parquet(tmp).count() > leafGroups)
  }

  test("C50: versioned tokenizer state — a retrain APPENDS a partition, " +
      "past versions stay reproducible, latest read serves the new artifact") {
    val p = ops.TextAnalysis.c50Materialize(s, sf)
    val st = s.read.parquet(p)
    val versions = st.select(col("version")).distinct()
      .collect().map(_.getInt(0)).sorted
    assert(versions.sameElements(Array(1, 2)), versions.mkString(","))

    def dict(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.select(col("w"), col("wc"), col("n_tok")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // v1 ≡ a fresh retrain on the half corpus — the immutability/
    // reproducibility contract for past versions
    val v1 = dict(st.where(col("version") === 1))
    val half = dict(ops.TextAnalysis.c50Retrain(
      core.Tables.documents(s, sf).where(col("doc_id") % 2 === 0)))
    assert(v1 == half, "version 1 no longer reproduces its training run")
    // the retrain actually changed the artifact (versioning isn't
    // vacuous): the full corpus at least doubles the training counts
    val v2 = dict(st.where(col("version") === 2))
    assert(v1 != v2)
    // materialize is idempotent: no third version appears
    ops.TextAnalysis.c50Materialize(s, sf)
    assert(s.read.parquet(p).select(col("version")).distinct().count() == 2)
    // the serving read-off is the latest version only
    val served = ops.TextAnalysis.queries("c50_tokenizer_versions")(s, sf)
    assert(served.select(col("version")).distinct().collect()
      .map(_.getInt(0)).sameElements(Array(2)))
    assert(dict(served) == v2)
  }
}

// top-level so Spark derives the Encoder (D19)
case class DocRow(doc_id: Long, text: String, lang: String, source: String)
