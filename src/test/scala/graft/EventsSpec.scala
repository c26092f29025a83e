package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.Events

// top-level so Spark can derive Encoders
case class EvIn(ts: java.sql.Timestamp, event_type: String, value: Double)
case class EvDup(event_id: Long, ts: java.sql.Timestamp, v: Double)
case class EvJ(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
case class GridIn(ts: java.sql.Timestamp, lon: Double, lat: Double, value: Double)

final case class D27ItemEvt(id: String, collection: String, lon: Double,
                            lat: Double, value: Double)

final case class D28Payload(rec_id: Long, f2: String)

class EventsSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("D12 native session_window stream: sessions merge across micro-batches, " +
      "append output ≡ batch sessionization") {
    import s.implicits._
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val mem = MemoryStream[EvJ](s)
    val q = Events.sessionWindowStream(mem.toDF())
      .writeStream.format("memory").queryName("d12_stream")
      .outputMode("append").start()
    try {
      mem.addData(EvJ(1, t("00:00"), 1), EvJ(1, t("00:10"), 2), EvJ(2, t("00:05"), 3))
      q.processAllAvailable()
      // user 1's open session extends across the micro-batch boundary
      mem.addData(EvJ(1, t("00:20"), 4), EvJ(3, t("01:30"), 5))
      q.processAllAvailable()
      // sentinel advances the watermark past everyone's (end + gap)
      mem.addData(EvJ(999, t("09:00"), 6))
      q.processAllAvailable()
      val got = s.table("d12_stream").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getLong(4))).toSet
      // the engine-managed session state must produce EXACTLY the batch
      // sessions (sentinel's own session is the only one still open)
      val allButSentinel = Seq(
        (1L, t("00:00"), 1L), (1L, t("00:10"), 2L), (2L, t("00:05"), 3L),
        (1L, t("00:20"), 4L), (3L, t("01:30"), 5L))
        .toDF("user_id", "ts", "event_id")
      val batchExpected = Events.sessionizeBatch(allButSentinel)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(got == batchExpected, s"got=$got expected=$batchExpected")
      // the cross-batch merge really happened: ONE user-1 session of 3 events
      assert(got.count(_._1 == 1L) == 1)
      assert(got.find(_._1 == 1L).get._4 == 3L)
    } finally q.stop()
  }

  test("streaming windowed agg (watermark) ≡ batch on the same data") {
    import s.implicits._
    val batchExpected = Events.windowAggTransform(Tables.events(s, sf))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet

    val input = Tables.events(s, sf)
      .select(col("ts"), col("event_type"), col("value")).as[EvIn].collect()

    val mem = MemoryStream[EvIn](s)
    val q = Events.windowAggStream(mem.toDF())
      .writeStream.format("memory").queryName("d1_stream")
      .outputMode("complete").start()
    try {
      mem.addData(input.toIndexedSeq)
      q.processAllAvailable()
      val got = s.table("d1_stream")
        .select(col("window_start"), col("event_type"), col("n_events"), col("total_value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got == batchExpected)
    } finally q.stop()
  }

  test("file-source stream (readStream.parquet) ≡ batch windowed agg") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_src").toString
    try {
      // stage the fixture as a streaming source directory
      val src = new java.io.File(s"$sf/events.parquet")
      val dst = new java.io.File(s"$tmp/events_0.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)

      val batchExpected = Events.windowAggTransform(Tables.events(s, sf))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet

      val q = Events.windowAggStream(Events.eventsStream(s, tmp))
        .writeStream.format("memory").queryName("d1_file_stream")
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val got = s.table("d1_file_stream")
          .select(col("window_start"), col("event_type"), col("n_events"), col("total_value"))
          .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
            r.getDouble(3))).toSet
        assert(got == batchExpected)
      } finally q.stop()
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("stream-stream interval join ≡ batch on the same data") {
    import s.implicits._
    case class E3(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
    val input = Tables.events(s, sf)
      .select(col("user_id"), col("ts"), col("event_id"))
      .collect().map(r => EvJ(r.getLong(0), r.getTimestamp(1), r.getLong(2)))

    val batchExpected = Events.queries("d4_interval_join")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val m1 = MemoryStream[EvJ](s)
    val m2 = MemoryStream[EvJ](s)
    val q = Events.intervalJoinStream(m1.toDF(), m2.toDF())
      .writeStream.format("memory").queryName("d4_stream")
      .outputMode("append").start()
    try {
      m1.addData(input.toIndexedSeq)
      m2.addData(input.toIndexedSeq)
      q.processAllAvailable()
      val got = s.table("d4_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == batchExpected)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: null-padded rows emit after the watermark passes") {
    import s.implicits._
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    // u1: event 1 followed by event 2 inside 5 min (matched pair);
    // u2: a single event with NO follow-up (must surface null-padded,
    //     but only once the watermark proves nothing can still match)
    val real = Seq(
      EvJ(1, t("00:00"), 1), EvJ(1, t("00:03"), 2), EvJ(2, t("00:01"), 3))
    val m1 = MemoryStream[EvJ](s)
    val m2 = MemoryStream[EvJ](s)
    val q = Events.intervalJoinOuterStream(m1.toDF(), m2.toDF())
      .writeStream.format("memory").queryName("d6_stream")
      .outputMode("append").start()
    try {
      m1.addData(real.toIndexedSeq); m2.addData(real.toIndexedSeq)
      q.processAllAvailable()
      // sentinel far in the future advances the watermark past
      // ts + interval + delay for every real row → outer rows flush
      val sentinel = EvJ(999, t("03:00"), 9)
      m1.addData(sentinel); m2.addData(sentinel)
      q.processAllAvailable()
      m1.addData(EvJ(998, t("05:00"), 10)); m2.addData(EvJ(998, t("05:00"), 10))
      q.processAllAvailable()
      val got = s.table("d6_stream").where(col("user_id") < 900)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      val batchExpected = Events.intervalJoinTransform(
          real.toDF("user_id", "ts", "event_id"),
          real.toDF("user_id", "ts", "event_id"), "left_outer")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(got == batchExpected, s"got=$got expected=$batchExpected")
      // the unmatched u2 row is present, null-padded
      assert(got.contains((2L, 3L, -1L, -1L)))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment ≡ batch join") {
    import s.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val batchExpected = Tables.events(s, sf)
      .join(broadcast(dim), "event_type")
      .groupBy(col("event_type"))
      .agg(sum((col("value").cast("decimal(18,2)") * col("weight").cast("decimal(18,2)")))
        .cast("double").as("weighted"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet

    val input = Tables.events(s, sf)
      .select(col("ts"), col("event_type"), col("value")).as[EvIn].collect()
    val mem = MemoryStream[EvIn](s)
    val q = mem.toDF()
      .join(broadcast(dim), "event_type") // stream-static: no state, no watermark
      .groupBy(col("event_type"))
      .agg(sum((col("value").cast("decimal(18,2)") * col("weight").cast("decimal(18,2)")))
        .cast("double").as("weighted"))
      .writeStream.format("memory").queryName("d5_stream")
      .outputMode("complete").start()
    try {
      mem.addData(input.toIndexedSeq)
      q.processAllAvailable()
      val got = s.table("d5_stream")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(got == batchExpected)
    } finally q.stop()
  }

  test("transformWithState running totals: state persists across micro-batches (RocksDB)") {
    import s.implicits._
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[graft.streaming.Events.EvV](s)
      val q = graft.streaming.Events.runningTotalsStream(s, mem.toDF())
        .writeStream.format("memory").queryName("d7_stream")
        .outputMode("update").start()
      try {
        import graft.streaming.Events.EvV
        mem.addData(EvV(1, 10.25), EvV(1, 0.75), EvV(2, 3.50))
        q.processAllAvailable()
        mem.addData(EvV(1, 5.00), EvV(3, 1.10))
        q.processAllAvailable()
        // LAST emission per user = lifetime totals across both batches
        val latest = s.table("d7_stream")
          .groupBy(col("user_id"))
          .agg(max(struct(col("n_events"), col("total_cents"))).as("t"))
          .select(col("user_id"), col("t.n_events"), col("t.total_cents"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(latest == Set((1L, 3L, 1600L), (2L, 1L, 350L), (3L, 1L, 110L)), latest)
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D27 saved-search fanout: two stored search bodies route a live item " +
      "stream; an item matching both is delivered to both subscriptions") {
    import s.implicits._
    val searches = Seq(
      "s1" -> """{"collections": ["click"],
                |  "filter": {"op": ">", "args": [{"property": "value"}, 100]}}""".stripMargin,
      "s2" -> """{"bbox": [0.0, 0.0, 50.0, 50.0]}""")
    val mem = MemoryStream[D27ItemEvt](s)
    val q = graft.streaming.Events.savedSearchFanout(s, mem.toDF(), searches)
      .writeStream.format("memory").queryName("d27_routes")
      .outputMode("append").start()
    try {
      mem.addData(
        D27ItemEvt("i1", "click", -90.0, 10.0, 150.0),  // s1 only (out of bbox)
        D27ItemEvt("i2", "view", 10.0, 10.0, 50.0))     // s2 only (not click)
      q.processAllAvailable()
      mem.addData(
        D27ItemEvt("i3", "click", 20.0, 20.0, 500.0),   // BOTH
        D27ItemEvt("i4", "view", -90.0, -10.0, 1.0))    // neither
      q.processAllAvailable()
      val got = s.sql("SELECT search_id, id FROM d27_routes").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("s1", "i1"), ("s2", "i2"), ("s1", "i3"), ("s2", "i3")),
        got.toString)
    } finally q.stop()
  }

  test("D28 streaming tolerant ingest: payloads classify in one stateless " +
      "pass — ok / missing_id / unparseable routed with the payload recovered " +
      "for the validation reject") {
    import s.implicits._
    def feature(id: Option[String]) =
      """{"type":"Feature","stac_version":"1.0.0",""" +
        id.map(i => s""""id":"$i",""").getOrElse("") +
        """"collection":"c1","bbox":[1.0,2.0,1.0,2.0],""" +
        """"properties":{"datetime":"2024-01-02T03:04:05.000000Z","value":7.5,"user_id":3}}"""
    val rows = Seq(
      D28Payload(1L, feature(Some("item-1"))),                    // ok
      D28Payload(2L, feature(None)),                              // missing_id
      D28Payload(3L, feature(Some("item-3")).dropRight(8)))       // unparseable
    val mem = MemoryStream[D28Payload](s)
    val q = graft.streaming.Events.tolerantIngestStream(mem.toDF())
      .writeStream.format("memory").queryName("d28_ingest")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2)); q.processAllAvailable()
      mem.addData(rows.drop(2)); q.processAllAvailable()
      val got = s.sql("SELECT rec_id, status, parsed_id, parsed_datetime " +
        "FROM d28_ingest").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)),
          Option(r.getTimestamp(3)))).sortBy(_._1)
      assert(got.map(g => (g._1, g._2)).toSeq ==
        Seq((1L, "ok"), (2L, "missing_id"), (3L, "unparseable")), got.toSeq)
      assert(got(0)._3.contains("item-1"))
      // the validation reject still yields its parseable payload
      assert(got(1)._3.isEmpty && got(1)._4.nonEmpty, got(1).toString)
      assert(got(2)._3.isEmpty && got(2)._4.isEmpty, got(2).toString)
    } finally q.stop()
  }

  test("D14 streaming free-text alerting ≡ the same q filter as a batch query") {
    import s.implicits._
    import graft.streaming.Events.CdcIn
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val rows = Seq(
      CdcIn(1, 1, t("00:01"), "click", 1.0),
      CdcIn(2, 2, t("00:02"), "purchase", 2.0),
      CdcIn(3, 3, t("00:03"), "view", 3.0),
      CdcIn(4, 4, t("00:04"), "error", 4.0),
      CdcIn(5, 5, t("00:05"), "signup", 5.0))
    val q = "(click OR view) -error"
    val mem = MemoryStream[CdcIn](s)
    val query = graft.streaming.Events
      .freeTextAlertStream(mem.toDF(), q, Seq("event_type"))
      .writeStream.format("memory").queryName("d14_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(2)); query.processAllAvailable()
      mem.addData(rows.drop(2)); query.processAllAvailable()
      val got = s.table("d14_stream").select("event_id")
        .collect().map(_.getLong(0)).toSet
      val batch = rows.toDF()
        .where(graft.cql.FreeText.parse(q, Seq("event_type")).toColumn)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(got == batch && got == Set(1L, 3L), s"stream=$got batch=$batch")
    } finally query.stop()
  }

  test("D30 streaming CDC with deletes: tombstoned keys retract, a newer upsert " +
      "resurrects, served view ≡ B41 batch compaction") {
    import s.implicits._
    import graft.streaming.Events.CdcIn
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val b1 = Seq(
      CdcIn(1, 10, t("00:10"), "click", 1.0),
      CdcIn(2, 11, t("00:12"), "view", 2.0),
      CdcIn(3, 12, t("00:14"), "click", 3.0))
    val b2 = Seq(
      CdcIn(1, 13, t("00:20"), "error", 0.0),   // tombstone: key 1 retracts
      CdcIn(2, 14, t("00:21"), "error", 0.0),   // tombstone...
      CdcIn(2, 15, t("00:30"), "purchase", 9.0)) // ...then resurrected
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[CdcIn](s)
    val q = Events.cdcWithDeletesStream(s, mem.toDF())
      .writeStream.format("memory").queryName("d30_stream")
      .outputMode("update").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      // final emission per key (max n_versions), then the served view
      val fin = s.table("d30_stream")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_versions"), col("last_event_id"),
          col("last_type"), col("deleted"))).as("t"))
        .select(col("user_id"), col("t.last_event_id"),
          col("t.last_type"), col("t.deleted"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getBoolean(3))).toSet
      // key 1: latest = tombstone → retracted; key 2: resurrected;
      // key 3: never touched by a delete
      assert(fin.contains((1L, 13L, "error", true)), fin)
      assert(fin.contains((2L, 15L, "purchase", false)), fin)
      assert(fin.contains((3L, 12L, "click", false)), fin)
      // served view ≡ B41's batch form over the same rows
      val served = fin.filter(!_._4).map(r => (r._1, r._2))
      val batch = (b1 ++ b2).toDF()
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("ts"), col("event_id"), col("event_type")),
          struct(col("ts"), col("event_id"))).as("last"))
        .where(col("last.event_type") =!= "error")
        .select(col("user_id"), col("last.event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == batch, s"stream=$served batch=$batch")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D13 streaming CDC latest-per-key (RocksDB) ≡ B25 batch compaction, " +
      "out-of-order and same-ts versions included") {
    import s.implicits._
    import graft.streaming.Events.CdcIn
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val b1 = Seq(
      CdcIn(1, 10, t("00:10"), "click", 1.0),
      CdcIn(1, 11, t("00:20"), "view", 2.0),
      CdcIn(2, 12, t("00:15"), "click", 3.0))
    val b2 = Seq(
      CdcIn(1, 9, t("00:05"), "signup", 9.0),   // out-of-order: older, must not replace
      CdcIn(2, 14, t("00:15"), "purchase", 4.0), // same ts: higher event_id wins
      CdcIn(3, 15, t("00:30"), "error", 5.0))
    val prevProvider = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[CdcIn](s)
      val q = Events.latestPerKeyStream(s, mem.toDF())
        .writeStream.format("memory").queryName("d13_stream")
        .outputMode("update").start()
      try {
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        // final state per key = the max-n_versions emission
        val got = s.table("d13_stream")
          .groupBy(col("user_id"))
          .agg(max(struct(col("n_versions"), col("last_event_id"), col("last_ts"),
            col("last_type"), col("last_value"))).as("t"))
          .select(col("user_id"), col("t.last_event_id"), col("t.last_ts"),
            col("t.last_type"), col("t.last_value"), col("t.n_versions"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4), r.getLong(5))).toSet
        // B25's batch compaction of the same rows
        val batch = (b1 ++ b2).toDF()
          .groupBy(col("user_id"))
          .agg(max_by(struct(col("ts"), col("event_id"), col("event_type"), col("value")),
            struct(col("ts"), col("event_id"))).as("last"),
            count(lit(1)).as("n_versions"))
          .select(col("user_id"), col("last.event_id"), col("last.ts"),
            col("last.event_type"), col("last.value"), col("n_versions"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
            r.getString(3), r.getDouble(4), r.getLong(5))).toSet
        assert(got == batch, s"stream=$got batch=$batch")
        // the out-of-order pitfalls specifically
        assert(got.exists(r => r._1 == 1L && r._2 == 11L && r._6 == 3L))
        assert(got.exists(r => r._1 == 2L && r._2 == 14L && r._4 == "purchase"))
      } finally q.stop()
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("D10 streaming grid aggregation (append mode) ≡ the same groupBy as a batch query") {
    import s.implicits._
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    val rows = Seq(
      GridIn(t("00:05"), 10.0, 10.0, 5.25), GridIn(t("00:15"), 10.2, 10.1, 1.75),
      GridIn(t("00:20"), -120.0, 45.0, 2.00), GridIn(t("01:10"), 10.0, 10.0, 3.00),
      GridIn(t("01:30"), 170.5, -60.0, 0.50))
    val mem = MemoryStream[GridIn](s)
    val q = Events.gridAggStream(s, mem.toDF(), watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("d10_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(3))
      q.processAllAvailable()
      mem.addData(rows.drop(3))
      q.processAllAvailable()
      // sentinel far in the future finalizes every real window; its own
      // window stays open and must NOT appear in the append output
      mem.addData(GridIn(t("09:00"), 0.0, 0.0, 0.0))
      q.processAllAvailable()
      val got = s.table("d10_stream").collect()
        .map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val batch = rows.toDF()
        .withColumn("zcell", graft.search.StacSearch.zCellColumn)
        .groupBy(window(col("ts"), "1 hour"), col("zcell"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
        .select(col("window.start"), col("zcell"), col("n_items"), col("cents"))
        .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == batch, s"stream=$got batch=$batch")
      assert(got.nonEmpty && got.size >= 4) // distinct (window, cell) buckets
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import s.implicits._
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")
    val mem = MemoryStream[EvDup](s)
    val q = Events.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("d3_stream")
      .outputMode("append").start()
    try {
      mem.addData(EvDup(1, t(0), 1.0), EvDup(2, t(1), 2.0), EvDup(1, t(2), 99.0), EvDup(3, t(3), 3.0))
      q.processAllAvailable()
      val got = s.table("d3_stream").select("event_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }
}
