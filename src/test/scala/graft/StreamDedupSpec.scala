package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamDedup

// top-level so Spark derives the Encoder
case class VecIn(vec_id: Long, ts: java.sql.Timestamp, v: Seq[Double])
case class AnnStreamIn(kind: String, vec_id: Long, v: Seq[Double])
case class DocStreamIn(source: String, text: String)
case class SampleDocIn(source: String, doc_id: Long)
case class VecEmbIn(vec_id: Long, embedding: Seq[Double])
case class LmStreamIn(doc_id: Long, lang: String, text: String)
case class CatalogIn(id: String, id_num: Long, collection: String,
    datetime: java.sql.Timestamp, start_datetime: java.sql.Timestamp,
    end_datetime: java.sql.Timestamp, value: Double, user_id: Long,
    lon: Double, lat: Double)

class StreamDedupSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  private def t(min: Int) = new java.sql.Timestamp(
    java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + min * 60000L)

  private def corpus(): Array[(Long, Seq[Double])] =
    graft.core.Tables.embeddings(s, sf)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))

  test("streaming near-dup over micro-batches ≡ batch C20 (no eviction)") {
    import s.implicits._
    val vecs = corpus()
    val mem = MemoryStream[VecIn](s)
    val q = StreamDedup.nearDupStream(s, mem.toDF(),
        watermarkDelay = "2 hours", horizonMs = 24L * 3600 * 1000)
      .writeStream.format("memory").queryName("d8_pairs")
      .outputMode("append").start()
    try {
      // three micro-batches, interleaved by vec_id; all within the horizon
      (0 until 3).foreach { b =>
        mem.addData(vecs.filter(_._1 % 3 == b).map { case (id, v) =>
          VecIn(id, t(b * 5), v)
        }.toIndexedSeq)
        q.processAllAvailable()
      }
      // multiset comparison: a pair colliding in k LSH tables must still be
      // emitted exactly once (batch C20 distinct()s candidates; the stream
      // emits from the lowest shared table only)
      val streamed = s.sql("SELECT v1, v2, cos_sim FROM d8_pairs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      val batch = graft.ops.Dedup.c20DedupEmbeddingLsh(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      assert(streamed == batch,
        s"stream-only: ${(streamed.diff(batch)).take(5)}; batch-only: ${(batch.diff(streamed)).take(5)}")
      assert(batch.nonEmpty)
      assert(streamed.distinct == streamed, "stream emitted a pair more than once")
    } finally q.stop()
  }

  test("re-arrival of a vec_id replaces its state entry — pairs are not re-multiplied") {
    import s.implicits._
    val v = Seq.tabulate(64)(i => math.sin(i * 0.7 + 1.0))
    val mem = MemoryStream[VecIn](s)
    val q = StreamDedup.nearDupStream(s, mem.toDF(),
        watermarkDelay = "2 hours", horizonMs = 24L * 3600 * 1000)
      .writeStream.format("memory").queryName("d8_rearrive")
      .outputMode("append").start()
    try {
      mem.addData(VecIn(1L, t(0), v))
      q.processAllAvailable()
      mem.addData(VecIn(1L, t(1), v)) // same id re-arrives: replace, don't append
      q.processAllAvailable()
      mem.addData(VecIn(2L, t(2), v)) // twin joins: must pair against ONE copy of 1
      q.processAllAvailable()
      val pairs = s.sql("SELECT v1, v2 FROM d8_rearrive").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(pairs == Seq((1L, 2L)), s"expected exactly one (1,2) pair, got $pairs")
    } finally q.stop()
  }

  private def withRocksDb[T](body: => T): T = {
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(k)
    s.conf.set(k,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => s.conf.set(k, p)
      case None => s.conf.unset(k)
    }
  }

  test("D9 transformWithState near-dup (RocksDB ListState) ≡ batch C20 ≡ D8 stream") {
    import s.implicits._
    withRocksDb {
      val vecs = corpus()
      val mem = MemoryStream[VecIn](s)
      val q = StreamDedup.nearDupStreamTws(s, mem.toDF(),
          watermarkDelay = "2 hours", horizonMs = 24L * 3600 * 1000)
        .writeStream.format("memory").queryName("d9_pairs")
        .outputMode("append").start()
      try {
        (0 until 3).foreach { b =>
          mem.addData(vecs.filter(_._1 % 3 == b).map { case (id, v) =>
            VecIn(id, t(b * 5), v)
          }.toIndexedSeq)
          q.processAllAvailable()
        }
        val streamed = s.sql("SELECT v1, v2, cos_sim FROM d9_pairs").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        val batch = graft.ops.Dedup.c20DedupEmbeddingLsh(s, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        assert(streamed == batch,
          s"stream-only: ${streamed.diff(batch).take(5)}; batch-only: ${batch.diff(streamed).take(5)}")
        assert(batch.nonEmpty)
        assert(streamed.distinct == streamed, "stream emitted a pair more than once")
      } finally q.stop()
    }
  }

  test("D9 timers evict expired members; re-arrival replaces, append path stays green") {
    import s.implicits._
    withRocksDb {
      val v = Seq.tabulate(64)(i => math.sin(i + 1.0))
      val mem = MemoryStream[VecIn](s)
      val q = StreamDedup.nearDupStreamTws(s, mem.toDF(),
          watermarkDelay = "1 minute", horizonMs = 60L * 1000)
        .writeStream.format("memory").queryName("d9_evict")
        .outputMode("append").start()
      try {
        mem.addData(VecIn(1L, t(0), v))
        q.processAllAvailable()
        mem.addData(VecIn(1L, t(1), v)) // re-arrival: replace, don't append
        q.processAllAvailable()
        // push the watermark far past vec 1's horizon (timer fires)
        mem.addData(VecIn(99L, t(600), Seq.tabulate(64)(i => math.cos(i + 1.0))))
        q.processAllAvailable()
        mem.addData(VecIn(2L, t(601), v)) // expired twin: must not pair with 1
        q.processAllAvailable()
        mem.addData(VecIn(3L, t(602), v)) // fresh twin: pairs with 2
        q.processAllAvailable()
        val pairs = s.sql("SELECT v1, v2 FROM d9_evict").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(pairs.count(_ == ((2L, 3L))) == 1, s"expected one fresh twin pair: $pairs")
        assert(!pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)),
          s"expired/duplicated member must not pair: $pairs")
      } finally q.stop()
    }
  }

  test("D15 streaming packing ≡ batch C23 when documents arrive in batch order") {
    import s.implicits._
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = graft.ops.TextAnalysis.queries("c23_sequence_packing")(s, sf)
        .selectExpr("doc_id", "source", "CAST(n_tokens AS BIGINT)", "bin")
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // feed the same docs in (source, doc_id) order, split across batches
      val inOrder = batch.sortBy(x => (x._2, x._1))
        .map(x => StreamDedup.PackIn(x._1, x._2, x._3))
      val (b1, b2) = inOrder.splitAt(inOrder.length / 2)
      val mem = MemoryStream[StreamDedup.PackIn](s)
      val q = StreamDedup.packingStream(s, mem.toDF(), budget = 512L)
        .writeStream.format("memory").queryName("d15_stream")
        .outputMode("append").start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        val got = s.table("d15_stream").collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == batch.toSet, s"diff=${(got diff batch.toSet).take(5)}")
        assert(got.exists(_._4 > 0)) // multiple bins actually assigned
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D17 streaming heavy hitters: merged shard states obey the MG theorem " +
      "on a skewed stream across micro-batches") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val k = 8
    val stream = for {
      i <- 1 to 40; r <- 1 to (60 / i).max(1)
    } yield StreamDedup.MgIn(s"shard${(i * 31 + r) % 3}", s"k$i")
    val n = stream.size.toLong
    val (b1, b2) = stream.splitAt(stream.size / 2)
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDedup.MgIn](s)
      val q = StreamDedup.heavyHitterStream(s, mem.toDF(), k)
        .writeStream.format("memory").queryName("d17_stream")
        .outputMode("update").start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        // latest snapshot per shard = rows at that shard's max version
        val snap = s.table("d17_stream")
          .withColumn("maxv", max(col("version"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))))
          .where(col("version") === col("maxv"))
          .select(col("shard").as("slice"), col("word").as("key"), col("est"))
        snap.groupBy(col("slice")).count().collect()
          .foreach(r => assert(r.getLong(1) <= k))
        // merge the shard summaries like B28 merges slice summaries
        val merged = graft.core.IncrementalState.mgMerged(snap, k).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val truth = stream.groupBy(_.word).map { case (w, xs) => w -> xs.size.toLong }
        val bound = n / (k + 1)
        merged.foreach { case (w, est) =>
          val t = truth(w)
          assert(est <= t && t - est <= bound, s"$w est=$est true=$t bound=$bound")
        }
        val hh = truth.filter(_._2 > bound).keySet
        assert(hh.nonEmpty && hh.subsetOf(merged.keySet),
          s"missing: ${hh -- merged.keySet}")
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D22 streaming funnel: per-user state machines over a time-ordered " +
      "event stream reproduce the batch funnel's stage counts under RocksDB") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    // the REAL events fixture, time-ordered (the stream's contract),
    // split across two micro-batches
    val events = graft.core.Tables.events(s, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => StreamDedup.FunnelIn(r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val (b1, b2) = events.splitAt(events.length / 2)
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDedup.FunnelIn](s)
      val q = StreamDedup.funnelStream(s, mem.toDF())
        .writeStream.format("memory").queryName("d22_funnel")
        .outputMode("append").start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        // users whose machine reached stage k = batch step-k count
        val reached = s.sql(
          "SELECT stage, COUNT(DISTINCT user_id) AS n FROM d22_funnel GROUP BY stage")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val batch = graft.ops.Analytics.queries("b33_funnel")(s, sf).collect()(0)
        val expected = Map(1 -> batch.getAs[Long]("step_signup"),
          2 -> batch.getAs[Long]("step_view"), 3 -> batch.getAs[Long]("step_click"),
          4 -> batch.getAs[Long]("step_purchase"))
        assert(reached == expected.filter(_._2 > 0L),
          s"stream $reached vs batch $expected")
        // each user emits a stage at most once (machines never rewind)
        val dups = s.sql("SELECT user_id, stage FROM d22_funnel " +
          "GROUP BY user_id, stage HAVING COUNT(*) > 1").count()
        assert(dups == 0L)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D24 streaming feed-gap alerting: a threshold-exceeding gap alerts " +
      "exactly once, including across a micro-batch boundary") {
    import s.implicits._
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    val thresholdUs = 30L * 60 * 1000000 // 30 minutes
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDedup.FeedIn](s)
      val q = StreamDedup.feedGapStream(s, mem.toDF(), thresholdUs)
        .writeStream.format("memory").queryName("d24_gaps")
        .outputMode("append").start()
      try {
        // c1: steady 10-min cadence, then silence until the next batch;
        // c2: steady throughout — must never alert
        mem.addData(StreamDedup.FeedIn("c1", t(0)), StreamDedup.FeedIn("c1", t(10)),
          StreamDedup.FeedIn("c2", t(0)), StreamDedup.FeedIn("c2", t(20)))
        q.processAllAvailable()
        // c1 resumes 50 minutes after its last item — the gap spans batches
        mem.addData(StreamDedup.FeedIn("c1", t(60)), StreamDedup.FeedIn("c1", t(70)),
          StreamDedup.FeedIn("c2", t(40)), StreamDedup.FeedIn("c2", t(60)))
        q.processAllAvailable()
        val alerts = s.sql("SELECT collection, gap_us FROM d24_gaps").collect()
          .map(r => (r.getString(0), r.getLong(1)))
        assert(alerts.toSeq == Seq(("c1", 50L * 60 * 1000000)), alerts.toSeq.toString)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D23 streaming cohort feeder: emitted (cohort, offset) increments " +
      "count up to the exact batch B34 retention matrix under RocksDB") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val events = graft.core.Tables.events(s, sf)
      .select(col("user_id"), col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => StreamDedup.CohortIn(r.getLong(0), r.getTimestamp(1)))
    val (b1, b2) = events.splitAt(events.length / 2)
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDedup.CohortIn](s)
      val q = StreamDedup.cohortStream(s, mem.toDF())
        .writeStream.format("memory").queryName("d23_cohort")
        .outputMode("append").start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        // each user-day emitted once → COUNT ≡ B34's COUNT(DISTINCT)
        val stream = s.sql("SELECT cohort, day_offset, COUNT(*) AS users " +
          "FROM d23_cohort GROUP BY cohort, day_offset").collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        val batch = graft.ops.Analytics.queries("b34_cohort")(s, sf).collect()
          .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(stream == batch,
          s"diff: ${(stream.toSet diff batch.toSet) ++ (batch.toSet diff stream.toSet)}")
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D21 streaming histogram quantiles: merged slice states equal the batch " +
      "histogram and the read-off is within one bin width of exact percentiles") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val width = 100L
    // skewed amounts over two slices, split across two micro-batches
    val data = for { i <- 1 to 400 } yield StreamDedup.HistIn(
      s"slice${i % 2}", ((i.toLong * i) % 1700) + (if (i % 7 == 0) 900L else 0L))
    val (b1, b2) = data.splitAt(data.size / 2)
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[StreamDedup.HistIn](s)
      val q = StreamDedup.histQuantileStream(s, mem.toDF(), width)
        .writeStream.format("memory").queryName("d21_hist")
        .outputMode("update").start()
      try {
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        // latest snapshot per slice = rows at that slice's max version
        val snap = s.table("d21_hist")
          .withColumn("maxv", max(col("version"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy(col("slice"))))
          .where(col("version") === col("maxv"))
          .select(col("slice"), col("bin"), col("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        // versions count rows seen per slice — snapshot totals must agree
        val perSlice = data.groupBy(_.slice).view.mapValues(_.size.toLong).toMap
        snap.groupBy(_._1).foreach { case (sl, rows) =>
          assert(rows.map(_._3).sum == perSlice(sl), s"slice $sl lost rows")
        }
        // merge across slices = plain counter addition (B30's merge)
        val merged = snap.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
        val batchHist = data.groupBy(d => java.lang.Math.floorDiv(d.amount, width))
          .view.mapValues(_.size.toLong).toMap
        assert(merged == batchHist, "merged stream state != batch histogram")
        // quantile read-off: smallest bin whose cumulative count covers p%
        val total = data.size.toLong
        val sortedBins = merged.toSeq.sortBy(_._1)
        val exact = data.map(_.amount).sorted
        Seq(50, 95, 99).foreach { p =>
          var cum = 0L
          val bin = sortedBins.find { case (_, c) => cum += c; cum * 100 >= total * p }.get._1
          val exactP = exact(((total * p + 99) / 100 - 1).toInt)
          assert(java.lang.Math.floorDiv(exactP, width) == bin,
            s"p$p read-off bin $bin vs exact value $exactP (bin ${exactP / width})")
        }
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark bounds state: members beyond the horizon are evicted, not paired") {
    import s.implicits._
    // two identical vectors far apart in event time + a fresh one close by
    val v = Seq.tabulate(64)(i => math.sin(i + 1.0))
    val mem = MemoryStream[VecIn](s)
    val q = StreamDedup.nearDupStream(s, mem.toDF(),
        watermarkDelay = "1 minute", horizonMs = 60L * 1000)
      .writeStream.format("memory").queryName("d8_evict")
      .outputMode("append").start()
    try {
      mem.addData(VecIn(1L, t(0), v))
      q.processAllAvailable()
      // push the watermark far past vec 1's horizon
      mem.addData(VecIn(99L, t(600), Seq.tabulate(64)(i => math.cos(i + 1.0))))
      q.processAllAvailable()
      // identical twin arrives long after vec 1 expired → no pair
      mem.addData(VecIn(2L, t(601), v))
      q.processAllAvailable()
      // a near-in-time twin DOES pair
      mem.addData(VecIn(3L, t(602), v))
      q.processAllAvailable()
      val pairs = s.sql("SELECT v1, v2 FROM d8_evict").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((2L, 3L)), s"expected fresh twin pair, got $pairs")
      assert(!pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)),
        s"expired member must not pair: $pairs")
    } finally q.stop()
  }

  test("D20: streaming perceptual image dedup — first arrival per class " +
      "passes, a wider re-render of a seen picture is dropped cross-batch, " +
      "classes ≡ batch C54") {
    import s.implicits._
    val mem = MemoryStream[graft.streaming.StreamDedup.MediaIn](s)
    val q = graft.streaming.StreamDedup.perceptualDedupStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d20_imgs")
      .outputMode("append").start()
    // two distinct pictures, then a 3x-wider re-render of the first in a
    // LATER micro-batch — must be recognized as a dup via streaming state
    def media(id: Long, w: Int) = graft.streaming.StreamDedup.MediaIn(
      id, graft.ops.Multimodal.makeImage(id, w, graft.ops.Multimodal.heightOf(id)), t(1))
    // the hash is only 7 bits (128 perceptual classes), so pick a second
    // picture whose class provably differs from 123's via the same
    // driver-side decode the batch spec pins
    def hashOf(id: Long, w: Int): Long = {
      val f = graft.ops.Multimodal.decode(graft.ops.Multimodal.Media(
        id, graft.ops.Multimodal.makeImage(id, w, graft.ops.Multimodal.heightOf(id)), 0, 0))
      def n(i: Int) = (((i + 1) * f.dec_height + 7) / 8 - (i * f.dec_height + 7) / 8).toLong
      (0 until 7).map { i =>
        if (f.row_blocks(i + 1) * n(i) > f.row_blocks(i) * n(i + 1)) 1L << i else 0L
      }.sum
    }
    val other = (1L to 200L).find(id => id != 123L && hashOf(id, 30) != hashOf(123L, 20)).get
    try {
      mem.addData(media(123L, 20), media(other, 30))
      q.processAllAvailable()
      // the SAME picture re-rendered 3x wider (width-invariant hash,
      // pinned in MultimodalSpec) arrives in a later micro-batch: the
      // engine-owned hash state must recognize and drop it
      mem.addData(media(123L, 60))
      q.processAllAvailable()
      val out = s.sql("SELECT doc_id, phash FROM d20_imgs").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(out.count(_._1 == 123L) == 1, s"dup not dropped: ${out.toSeq}")
      assert(out.exists(_._1 == other))
      assert(out.map(_._2).distinct.length == out.length, "emitted a class twice")
    } finally q.stop()
  }

  test("D31: streaming ANN serving — queries served after the corpus is " +
      "indexed equal batch C7; a later closer arrival changes the next lookup") {
    import s.implicits._
    val vecs = corpus()
    val nq = graft.ops.Similarity.c7NQueries
    val mem = MemoryStream[AnnStreamIn](s)
    val q = StreamDedup.annServeStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d31_ann")
      .outputMode("append").start()
    try {
      // index the corpus across two micro-batches, then look up the batch
      // operator's query set
      mem.addData(vecs.filter(v => v._1 >= nq && v._1 % 2 == 0)
        .map { case (id, v) => AnnStreamIn("i", id, v) }.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(vecs.filter(v => v._1 >= nq && v._1 % 2 == 1)
        .map { case (id, v) => AnnStreamIn("i", id, v) }.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(vecs.filter(_._1 < nq)
        .map { case (id, v) => AnnStreamIn("q", id, v) }.toIndexedSeq)
      q.processAllAvailable()
      val served = s.sql("SELECT q_id, n_id, rk, cos_sim FROM d31_ann").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
      val batch = graft.ops.Similarity.queries("c7_ann_lsh")(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq.sorted
      assert(served == batch,
        s"served-only: ${served.diff(batch).take(5)}; batch-only: ${batch.diff(served).take(5)}")
      assert(served.nonEmpty)

      // the index is LIVE: insert an exact twin of query 0, re-issue the
      // lookup — the twin must now be served at rank 1 with cosine ~ 1
      val q0 = vecs.find(_._1 == 0L).get._2
      mem.addData(AnnStreamIn("i", 999999L, q0))
      q.processAllAvailable()
      mem.addData(AnnStreamIn("q", 0L, q0))
      q.processAllAvailable()
      val twin = s.sql(
        "SELECT rk, cos_sim FROM d31_ann WHERE q_id = 0 AND n_id = 999999").collect()
      assert(twin.length == 1 && twin(0).getInt(0) == 1 &&
        math.abs(twin(0).getDouble(1) - 1.0) < 1e-9, twin.mkString(","))
    } finally q.stop()
  }

  test("D36: live-index recall monitor — the recall harness run over the " +
      "D31 serving table equals batch C94's lsh verdicts exactly") {
    import s.implicits._
    val vecs = corpus()
    val nq = graft.ops.Similarity.c7NQueries
    val mem = MemoryStream[AnnStreamIn](s)
    val q = StreamDedup.annServeStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d36_ann")
      .outputMode("append").start()
    try {
      mem.addData(vecs.filter(_._1 >= nq)
        .map { case (id, v) => AnnStreamIn("i", id, v) }.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(vecs.filter(_._1 < nq)
        .map { case (id, v) => AnnStreamIn("q", id, v) }.toIndexedSeq)
      q.processAllAvailable()
      // the SAME harness (Similarity.recallFrame) over the live table
      val truth = graft.ops.Similarity.recallTruth(s, sf)
      val live = graft.ops.Similarity
        .recallFrame(truth, s.sql("SELECT q_id, n_id FROM d36_ann"), "lsh")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      val batch = graft.ops.Similarity.queries("c94_ann_recall")(s, sf)
        .where(col("method") === "lsh")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      assert(live.nonEmpty && live.toSeq == batch.toSeq,
        s"live: ${live.take(4).mkString(",")} batch: ${batch.take(4).mkString(",")}")
    } finally q.stop()
  }

  test("D37: streaming cluster balance — the converged per-cluster keep " +
      "set equals batch C100 exactly, arrival order irrelevant") {
    import s.implicits._
    val vecs = graft.core.Tables.embeddings(s, sf)
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS embedding")
      .collect().map(r => VecEmbIn(r.getLong(0), r.getSeq[Double](1)))
    val cents = graft.ops.Similarity.centroidArtifact(s, sf)
    val mem = MemoryStream[VecEmbIn](s)
    val q = StreamDedup.clusterBalanceStream(s, mem.toDF(), cents)
      .writeStream.format("memory").queryName("d37_cb")
      .outputMode("append").start()
    try {
      // reverse-id order split across two batches: order must not matter
      val sorted = vecs.sortBy(-_.vec_id)
      mem.addData(sorted.take(vecs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(sorted.drop(vecs.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val served = s.sql(
        """SELECT source, doc_id FROM d37_cb x WHERE n_seen =
          |  (SELECT MAX(n_seen) FROM d37_cb y WHERE y.source = x.source)"""
          .stripMargin)
        .collect().map(r => (r.getString(0).toLong, r.getLong(1))).toSet
      val batch = graft.ops.Similarity.queries("c100_cluster_balance")(s, sf)
        .where(col("keep")).collect()
        .map(r => (r.getLong(1), r.getLong(0))).toSet
      assert(served == batch,
        s"live-only: ${served.diff(batch).take(4)}; batch-only: ${batch.diff(served).take(4)}")
      assert(served.nonEmpty)
    } finally q.stop()
  }

  test("D38: streaming contamination closure — a late direct hit " +
      "RETROACTIVELY flags earlier-accepted cluster-mates; converged ≡ batch") {
    import s.implicits._
    // same graph as the c101 spec: docs 1,2,3 share cluster 1 (doc 1 is
    // the direct hit), 5,6 share a clean cluster, 4 is a singleton
    val rows = Seq(
      StreamDedup.ContamIn(1L, 2L, "a", direct = false),
      StreamDedup.ContamIn(1L, 3L, "b", direct = false),
      StreamDedup.ContamIn(5L, 5L, "a", direct = false),
      StreamDedup.ContamIn(4L, 4L, "b", direct = false),
      StreamDedup.ContamIn(5L, 6L, "a", direct = false),
      StreamDedup.ContamIn(1L, 1L, "a", direct = true)) // the hit, LAST
    val mem = MemoryStream[StreamDedup.ContamIn](s)
    val q = StreamDedup.contaminationStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d38_contam")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(4).toIndexedSeq)   // clean so far
      q.processAllAvailable()
      assert(s.sql("SELECT * FROM d38_contam").count() == 0,
        "nothing may be flagged before a direct hit")
      mem.addData(rows.drop(4).toIndexedSeq)   // doc 6, then the hit
      q.processAllAvailable()
      val out = s.sql("SELECT doc_id, kind FROM d38_contam").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // retroactive: 2 and 3 were accepted in batch 1, flagged now
      assert(out == Map(1L -> "direct", 2L -> "transitive", 3L -> "transitive"),
        out.toString)
      // and the converged verdicts equal the batch closure on one graph
      val fps = Seq((97L, "eval", 11L), (1L, "a", 11L), (2L, "a", 22L),
        (3L, "b", 33L), (4L, "b", 44L), (5L, "a", 55L), (6L, "a", 66L))
        .toDF("doc_id", "source", "fp")
      val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
        .toDF("doc_id", "cluster")
      val batch = graft.ops.Dedup.closureOf(fps, clusters).collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
      val live = out.toSeq.groupBy { case (id, _) =>
        Map(1L -> "a", 2L -> "a", 3L -> "b")(id) }
      assert(batch("a") == (1L, live("a").count(_._2 == "transitive").toLong))
      assert(batch("b") == (0L, live("b").count(_._2 == "transitive").toLong))
    } finally q.stop()
  }

  test("D35: streaming exact-k sample — the converged reservoir equals " +
      "batch C63 exactly, state stays bounded, arrival order irrelevant") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(s, sf)
      .select(col("source"), col("doc_id")).collect()
      .map(r => SampleDocIn(r.getString(0), r.getLong(1)))
    val mem = MemoryStream[SampleDocIn](s)
    val q = StreamDedup.exactKSampleStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d35_sample")
      .outputMode("append").start()
    try {
      // adversarial arrival order: reverse doc_id, split into 3 batches
      val shuffled = docs.sortBy(-_.doc_id)
      shuffled.grouped((shuffled.length + 2) / 3).foreach { b =>
        mem.addData(b.toIndexedSeq); q.processAllAvailable()
      }
      val rows = s.sql("SELECT * FROM d35_sample").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // serving = the max-n_seen emission per source
      val served: Set[(String, Long, Long)] = rows.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val latest = g.map(_._2).max
        g.filter(_._2 == latest).map(t => (t._1, t._3, t._4))
      }.toSet
      val batch = graft.ops.TextAnalysis.queries("c63_exact_k_sample")(s, sf)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(served == batch,
        s"served-only: ${served.diff(batch).take(3)}; batch-only: ${batch.diff(served).take(3)}")
      // n_seen converges to the true per-source count; samples stay ≤ k
      val counts = docs.groupBy(_.source).view.mapValues(_.length.toLong).toMap
      rows.groupBy(_._1).foreach { case (src, g) =>
        assert(g.map(_._2).max == counts(src))
        g.groupBy(_._2).foreach { case (_, e) => assert(e.length <= 25) }
      }
    } finally q.stop()
  }

  test("D34: stream-maintained patch catalog — served per-field LWW merge " +
      "equals batch A68 exactly, scenes and deletes split across batches") {
    import org.apache.spark.sql.functions._
    val revs = graft.search.StacSearch.a68Revisions(s, sf)
    val root = java.nio.file.Files.createTempDirectory("graft_d34").toString
    // id_num % 3 splits every full scene (scene = id_num DIV 3 groups
    // consecutive ids) — so the LWW merge must cross batch boundaries,
    // and the ≡8-mod-9 delete revisions land in a different batch than
    // the ≡0-mod-3 carriers they supersede
    (0 until 3).foreach { b =>
      StreamDedup.appendPatchBatch(revs.where(col("id_num") % 3 === b), root)
    }
    val served = StreamDedup.servedPatchCatalog(s, root).collect().map(_.toString).toSeq
    val batch = graft.search.StacSearch.queries("a68_merge_patch")(s, sf)
      .collect().map(_.toString).toSeq
    assert(served == batch,
      s"served-only: ${served.diff(batch).take(3)}; batch-only: ${batch.diff(served).take(3)}")
    assert(served.nonEmpty)
    // the partial pile really holds multiple rows per scene (merge bites)
    val partials = s.read.parquet(root)
    assert(partials.count() > served.length, "scenes must split across partials")
  }

  test("D33: stream-maintained search index — served ranking equals the " +
      "batch-built index bit for bit, scores included") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(s, sf).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_d33").toString
    // three appends model three micro-batches of the document feed
    (0 until 3).foreach { b =>
      StreamDedup.appendPostingsBatch(docs.where(col("doc_id") % 3 === b), root)
    }
    val served = StreamDedup.servedIndexSearch(s, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batch = graft.ops.TextAnalysis.queries("c78_index_search")(s, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == batch,
      s"served-only: ${served.diff(batch).take(5)}; batch-only: ${batch.diff(served).take(5)}")
    assert(served.nonEmpty)
  }

  test("D32: streaming vocab-drift monitor — accumulated state equals the " +
      "batch profile; stable distribution reads ~1, injected drift reads low") {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(s, sf)
      .select(col("source"), col("text")).collect()
      .map(r => DocStreamIn(r.getString(0), r.getString(1)))
    val mem = MemoryStream[DocStreamIn](s)
    val q = StreamDedup.vocabDriftStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d32_drift")
      .outputMode("append").start()
    try {
      val (h1, h2) = docs.zipWithIndex.partition(_._2 % 2 == 0)
      mem.addData(h1.map(_._1).toIndexedSeq); q.processAllAvailable()
      mem.addData(h2.map(_._1).toIndexedSeq); q.processAllAvailable()
      // drift injection: one source turns into a single-word drone
      mem.addData(DocStreamIn("src0", Array.fill(400)("drone").mkString(" ")))
      q.processAllAvailable()

      val rows = s.sql("SELECT * FROM d32_drift").collect()
      // a first batch reports cos 0.0 (no prior profile); the batch-2 row
      // of an unchanged distribution reads cosine(prev, prev+batch) ≈ 1
      rows.filter(r => r.getString(0) != "src0" && r.getDouble(2) > 0.0)
        .foreach { r =>
          assert(r.getDouble(2) > 0.9, s"${r.getString(0)} batch-2 cos=$r") }
      // the injected drone batch must read as drift on src0
      val droneCos = rows.filter(_.getString(0) == "src0")
        .find(r => r.getLong(1) == 400L).map(_.getDouble(2))
      assert(droneCos.exists(c => c > 0.0 && c < 0.9),
        s"drone batch should drop cosine: $droneCos")

      // final accumulated counts per source == the batch C74 profile over
      // the same rows (src0 excluded — its state includes the drone); the
      // final row is the one with the largest accumulated mass
      val finalCounts = rows.filter(r => r.getString(0) != "src0")
        .groupBy(_.getString(0))
        .map { case (src, rs) =>
          src -> rs.maxBy(_.getSeq[Long](3).sum).getSeq[Long](3).toIndexedSeq }
      val batch = graft.core.Tables.documents(s, sf)
        .select(col("source"), explode(expr("split(text, ' ')")).as("w"))
        .where(col("w") =!= "")
        .select(col("source"),
          expr(graft.ops.TextAnalysis.c74BucketSpark).cast("int").as("b"))
        .groupBy(col("source"), col("b")).count().collect()
        .groupBy(_.getString(0))
        .map { case (src, rs) =>
          val v = new Array[Long](graft.ops.TextAnalysis.c74Buckets)
          rs.foreach(r => v(r.getInt(1)) = r.getLong(2))
          src -> v.toIndexedSeq
        }
      finalCounts.foreach { case (src, v) =>
        assert(v == batch(src), s"state/batch profile mismatch for $src")
      }
    } finally q.stop()
  }

  test("D18: bucket-state table — compaction collapses files per table, " +
      "preserves pairs exactly, and is a fixpoint; pairs ≡ batch C20") {
    import s.implicits._
    val vecs = corpus()
    val tmp = java.nio.file.Files.createTempDirectory("graft_d18").toString
    def inc(rows: Seq[(Long, Seq[Double])], min: Int) =
      StreamDedup.appendBatchMembers(
        rows.map { case (id, v) => VecIn(id, t(min), v) }.toDF(), tmp)
    // two increments + a third re-arriving a subset with a later ts —
    // the changelog case the latest-per-member merge must collapse
    inc(vecs.filter(_._1 < 250).toSeq, 0)
    inc(vecs.filter(_._1 >= 250).toSeq, 5)
    inc(vecs.filter(_._1 % 50 == 0).toSeq, 10)

    def files(): Map[String, Int] =
      new java.io.File(tmp).listFiles().filter(_.getName.startsWith("tb="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    def pairs(): Seq[(Long, Long, Double)] =
      StreamDedup.pairsFromMembers(s, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val before = pairs()
    val filesBefore = files()
    assert(filesBefore.values.forall(_ >= 2),
      s"appends should leave one file per increment per table: $filesBefore")

    StreamDedup.compactMembers(s, tmp)
    assert(pairs() == before, "compaction changed the merged pair set")
    val filesAfter = files()
    assert(filesAfter.keySet == filesBefore.keySet &&
      filesAfter.values.forall(_ == 1),
      s"expected one file per table partition after compaction: $filesAfter")

    // fixpoint: compacting a compacted table changes nothing
    StreamDedup.compactMembers(s, tmp)
    assert(pairs() == before && files().values.forall(_ == 1))

    // merge-on-read off the state table ≡ the batch C20 operator (same
    // tables/planes, same verify kernel) — the re-arrived members carry
    // identical vectors, so latest-per-member collapses to the corpus
    val batch = graft.ops.Dedup.c20DedupEmbeddingLsh(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(before == batch,
      s"state-only: ${before.diff(batch).take(5)}; batch-only: ${batch.diff(before).take(5)}")
    assert(before.nonEmpty)
  }

  test("D39: streaming perplexity bucketing — docs served across micro-batches " +
      "equal batch C104 exactly; an out-of-vocabulary doc emits no row") {
    import s.implicits._
    val mem = MemoryStream[LmStreamIn](s)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf ++= StreamDedup.lmServeBatch(s, sf, b).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        ()
      }
      .start()
    try {
      val docs = s.read.parquet(sf + "/documents.parquet")
        .selectExpr("doc_id", "lang", "text").collect()
        .map(r => LmStreamIn(r.getLong(0), r.getString(1), r.getString(2)))
      val (b1, b2) = docs.partition(_.doc_id % 2 == 0)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      // every word unseen → zero scoreable positions → no served row
      mem.addData(LmStreamIn(999999L, docs.head.lang, "zzqqxv wwyykj vvffhq"))
      q.processAllAvailable()
      val batch = graft.ops.TextAnalysis.queries("c104_ngram_lm")(s, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      assert(buf.sizeIs == batch.length && buf.toSet == batch.toSet)
      assert(!buf.exists(_._1 == 999999L))
    } finally q.stop()
  }

  test("D40: streaming catalog ingest — micro-batches land as valid GeoParquet " +
      "with exact footers; content ≡ batch export; compaction merges exactly") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, hex, lit}
    val dir = java.nio.file.Files.createTempDirectory("d40cat").toString
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(col("id"), col("id_num"), col("collection"),
        col("datetime").cast("string"), col("start_datetime").cast("string"),
        col("end_datetime").cast("string"), col("value"), col("user_id"),
        col("lon"), col("lat"), col("bbox.xmin"), col("bbox.ymin"),
        col("bbox.xmax"), col("bbox.ymax"), hex(col("geometry")))
      .collect().map(_.mkString("")).sorted.toSeq

    val items = graft.core.Tables.items(s, sf)
      .select(col("id"), col("id_num"), col("collection"), col("datetime"),
        col("start_datetime"), col("end_datetime"), col("value"),
        col("user_id"), col("lon"), col("lat"))
      .as[CatalogIn].collect()
    val mem = MemoryStream[CatalogIn](s)
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.core.GeoParquet.appendBatch(b, dir, id)
        ()
      }
      .start()
    try {
      val (b1, b2) = items.partition(_.id_num % 2 == 0)
      mem.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    // every batch file is valid GeoParquet 1.1 whose footer bbox is EXACT
    val footers = graft.core.GeoParquet.footerBboxes(dir)
    assert(footers.nonEmpty)
    footers.foreach { case (stem, b) =>
      val f = s.read.parquet(s"$dir/$stem.parquet")
        .agg(org.apache.spark.sql.functions.min(col("bbox.xmin")),
          org.apache.spark.sql.functions.min(col("bbox.ymin")),
          org.apache.spark.sql.functions.max(col("bbox.xmax")),
          org.apache.spark.sql.functions.max(col("bbox.ymax"))).head()
      assert(Seq(f.getDouble(0), f.getDouble(1), f.getDouble(2), f.getDouble(3)) == b, stem)
    }
    // streamed catalog content ≡ the batch export of the same fixture,
    // read back through the DataSource V2 path
    val got = canon(s.read.format("graft.sources.GeoCatalogSource").load(dir))
    val want = canon(s.read.parquet(graft.core.GeoParquet.export(s, sf, 1)))
    assert(got == want && got.nonEmpty)
    // compaction merges the small batch files into 2 z-shards: rows and
    // footer exactness both survive
    val compacted = graft.core.GeoParquet.compact(s, dir, sf, 2,
      graft.search.StacSearch.zShard(2), tag = "d40")
    assert(canon(s.read.parquet(compacted)) == got)
    graft.core.GeoParquet.footerBboxes(compacted).foreach { case (stem, b) =>
      val f = s.read.parquet(s"$compacted/$stem.parquet")
        .agg(org.apache.spark.sql.functions.min(col("bbox.xmin")),
          org.apache.spark.sql.functions.min(col("bbox.ymin")),
          org.apache.spark.sql.functions.max(col("bbox.xmax")),
          org.apache.spark.sql.functions.max(col("bbox.ymax"))).head()
      assert(Seq(f.getDouble(0), f.getDouble(1), f.getDouble(2), f.getDouble(3)) == b, stem)
    }
  }

  test("D42: self-maintaining streaming ingest — per-collection file counts " +
      "converge under the compaction policy, reads stay footer-exact at " +
      "every batch boundary, and the recovery sweep is idempotent") {
    import s.implicits._
    import org.apache.spark.sql.functions.{col, hex}
    val dir = java.nio.file.Files.createTempDirectory("d42cat").toString
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(col("id"), col("id_num"), col("collection"),
        col("datetime").cast("string"), col("start_datetime").cast("string"),
        col("end_datetime").cast("string"), col("value"), col("user_id"),
        col("lon"), col("lat"), col("bbox.xmin"), col("bbox.ymin"),
        col("bbox.xmax"), col("bbox.ymax"), hex(col("geometry")))
      .collect().map(_.mkString("")).sorted.toSeq
    def readBack = s.read.format("graft.sources.GeoCatalogSource").load(dir)
    def parquetFiles: Seq[String] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.toSeq
    def assertFootersExact(): Unit =
      graft.core.GeoParquet.footerBboxes(dir).foreach { case (stem, b) =>
        val f = s.read.parquet(s"$dir/$stem.parquet")
          .agg(org.apache.spark.sql.functions.min(col("bbox.xmin")),
            org.apache.spark.sql.functions.min(col("bbox.ymin")),
            org.apache.spark.sql.functions.max(col("bbox.xmax")),
            org.apache.spark.sql.functions.max(col("bbox.ymax"))).head()
        assert(Seq(f.getDouble(0), f.getDouble(1), f.getDouble(2),
          f.getDouble(3)) == b, stem)
      }

    val items = graft.core.Tables.items(s, sf)
      .select(col("id"), col("id_num"), col("collection"), col("datetime"),
        col("start_datetime"), col("end_datetime"), col("value"),
        col("user_id"), col("lon"), col("lat"))
      .as[CatalogIn].collect()
    val nBatches = 6
    val maxSmall = 2
    val batches = items.groupBy(_.id_num % nBatches)
    val collections = items.map(_.collection).distinct.length
    val mem = MemoryStream[CatalogIn](s)
    val seen = scala.collection.mutable.ArrayBuffer.empty[CatalogIn]
    val q = mem.toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.core.GeoParquet.appendBatch(b, dir, id)
        graft.core.GeoParquet.maintainBatch(s, dir, id, maxSmall)
        ()
      }
      .start()
    try {
      (0 until nBatches).foreach { k =>
        val batch = batches(k.toLong)
        mem.addData(batch.toIndexedSeq)
        q.processAllAvailable()
        seen ++= batch
        // at EVERY boundary: content ≡ everything ingested so far,
        // footers exact, and the policy bound holds per collection
        assert(readBack.count() == seen.size, s"batch $k")
        assertFootersExact()
        val counts = parquetFiles.groupBy(n => n.substring(0, n.lastIndexOf('-')))
        counts.foreach { case (c, fs) =>
          assert(fs.size <= maxSmall + 1, s"$c accreted ${fs.mkString(", ")}")
        }
      }
    } finally q.stop()
    // final content is exactly the fixture, bit for bit, through the DSv2
    val expect = canon(s.read.parquet(graft.core.GeoParquet.export(s, sf, 1)))
    assert(canon(readBack) == expect && expect.nonEmpty)
    // converged: ≤ maxSmall+1 files per collection after 6 batches (vs 6
    // per collection without maintenance)
    assert(parquetFiles.size <= collections * (maxSmall + 1))
    assert(parquetFiles.exists(_.contains("-g")), parquetFiles.mkString(", "))

    // crash-window recovery: resurrect a replayed batch file whose rows
    // are already inside the newest generation (rename happened, deletes
    // did not) — the next maintenance call's sweep removes it and the
    // content is unchanged
    val gen = parquetFiles.filter(_.contains("-g")).head
    val coll = gen.substring(0, gen.lastIndexOf('-'))
    val genId = gen.substring(gen.lastIndexOf('-') + 2).stripSuffix(".parquet").toLong
    val ghost = new java.io.File(dir, s"$coll-${genId}.parquet")
    val before = canon(readBack)
    java.nio.file.Files.copy(
      new java.io.File(dir, gen).toPath, ghost.toPath)
    assert(readBack.count() > seen.size) // the duplicate is visible…
    graft.core.GeoParquet.maintainBatch(s, dir, genId + 1, maxSmall)
    assert(!ghost.exists(), "recovery sweep must remove the superseded file")
    assert(canon(readBack) == before) // …and maintenance heals it

    // LINEAGE guard: a maintenance call whose batch id is BEHIND the
    // directory (the restarted-fresh-checkpoint misuse, where batch ids
    // restart at 0 against a catalog holding generation g>0) is a typed
    // refusal BEFORE any delete — never a silent sweep of fresh rows
    val lineage = intercept[IllegalArgumentException] {
      graft.core.GeoParquet.maintainBatch(s, dir, 0L, maxSmall)
    }
    assert(lineage.getMessage.contains("checkpoint lineage"), lineage.getMessage)
    assert(canon(readBack) == before) // nothing was deleted
  }
}
