package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables

/** D-series: streaming over the `events` table (SURVEY.md §2.D).
  *
  * Each streaming computation ships as a TRANSFORM that applies to either a
  * batch or a `readStream` DataFrame; the gate queries run the batch form
  * against the DuckDB oracle, and EventsSpec runs the streaming form
  * (watermark + state) asserting stream ≡ batch on the same fixture.
  *
  * Scale notes (SURVEY.md §5): watermarks bound state; session-window
  * state is per-key and evicted by the watermark; the batch sessionizer
  * shuffles ONCE on user_id — both window functions and the session
  * groupBy reuse the same hash partitioning (no second exchange in the
  * plan).
  */
object Events {

  // ------------------------------------------------- D1 windowed agg
  /** Tumbling 1-hour window per event_type: count + exact (decimal) sum.
    * `window(ts, '1 hour')` is epoch-aligned ≡ DuckDB `date_trunc('hour')`.
    */
  def windowAggTransform(e: DataFrame): DataFrame =
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  def d1EventWindow(s: SparkSession, d: String): DataFrame =
    windowAggTransform(Tables.events(s, d))
      .orderBy(col("window_start"), col("event_type"))

  // ------------------------------ D25 SLIDING event-time windows
  /** D25: SLIDING-window aggregation — D1's tumbling windows can't
    * answer "the trailing 6 hours, refreshed every 2" (the moving
    * dashboard pane); `window(ts, '6 hours', '2 hours')` assigns each
    * event to its 3 overlapping panes in one Expand + aggregate, the
    * engine-native slide (the same operator streams under D1's
    * watermark contract — state per open pane, closed panes emitted and
    * dropped). The oracle derives pane membership arithmetically —
    * start = 2h-grid-floor(ts) − k·2h for k ∈ 0..2 over integer epoch
    * micros — so the gate pins Spark's window-assignment semantics
    * against an independent restatement, decimal-exact sums included.
    */
  def d25SlidingWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  val d25Sql: String =
    """SELECT make_timestamp(es - k * 7200000000) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM (SELECT event_type, value,
      |        epoch_us(ts) - epoch_us(ts) % 7200000000 AS es FROM events),
      |     (SELECT unnest(range(3)) AS k)
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // ----------------------- D26 trending panes (sliding top-k)
  /** D26: TRENDING readout over the sliding panes — the top-2 event
    * types per 6-hour pane (what a "trending now" widget serves): D25's
    * pane aggregate plus one rank window over the tiny pane frame
    * (|panes × types| rows, never events). Deterministic tiebreak
    * (count desc, type); the oracle ranks the same arithmetic pane
    * derivation.
    */
  def d26TrendingPanes(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    Tables.events(s, d)
      .groupBy(window(col("ts"), "6 hours", "2 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 2)
      .orderBy(col("window_start"), col("rk"))
  }

  val d26Sql: String =
    """SELECT window_start, event_type, n_events, rk FROM (
      |  SELECT window_start, event_type, n_events,
      |    ROW_NUMBER() OVER (PARTITION BY window_start
      |                       ORDER BY n_events DESC, event_type) AS rk
      |  FROM (
      |    SELECT make_timestamp(es - k * 7200000000) AS window_start,
      |      event_type, COUNT(*) AS n_events
      |    FROM (SELECT event_type,
      |            epoch_us(ts) - epoch_us(ts) % 7200000000 AS es FROM events),
      |         (SELECT unnest(range(3)) AS k)
      |    GROUP BY 1, 2))
      |WHERE rk <= 2 ORDER BY window_start, rk""".stripMargin

  val d1Sql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** Streaming form of D1: watermark bounds window state. */
  def windowAggStream(stream: DataFrame): DataFrame =
    windowAggTransform(stream.withWatermark("ts", "2 hours"))

  // --------------------- D27 saved-search fanout (A62's bodies live)
  /** D27: SAVED-SEARCH notification fanout — N stored search documents
    * (exactly the A62 POST-body format) matched against the live item
    * stream, emitting (search_id, item) routes: the subscription
    * feature of a production catalog ("tell me when a scene matching MY
    * search lands"). Each body parses ONCE at plan time through
    * [[graft.search.SearchParams.fromSearchBody]] and compiles to the
    * same typed predicates the batch gates prove; the stream evaluates
    * all N as a union of stateless filters — no state store, no
    * watermark, no shuffle, one pass over the stream per micro-batch
    * (Spark collapses the shared scan), N bounded by the subscription
    * table. Stream ≡ batch filter by construction (D14's contract,
    * widened from one hard-coded query to data-driven bodies;
    * EventsSpec routes a two-subscription stream).
    */
  def savedSearchFanout(s: SparkSession, stream: DataFrame,
                        searches: Seq[(String, String)]): DataFrame = {
    import graft.search.{SearchParams, StacApi}
    searches.map { case (id, body) =>
      StacApi.plan(stream, SearchParams.fromSearchBody(body))
        .withColumn("search_id", lit(id))
    }.reduce(_ unionByName _)
  }

  // ------------------- D28 streaming tolerant ingest (A57 live)
  /** D28: A57's permissive-parse rejects channel at the STREAM ingest
    * gate — the shape a real catalog feed runs (payloads arrive, every
    * record is classified in the same stateless pass that parses it,
    * rejects route to a dead-letter sink with a typed reason instead of
    * killing the query): the stream carries raw feature text, the
    * SHARED [[graft.search.StacSearch.a57Classify]] transform parses
    * once and stamps `status` (unparseable / missing_id / ok), and the
    * caller splits the one output by status — no state store, no
    * watermark, no second parse. Stream ≡ batch classification by
    * construction (same transform; EventsSpec routes a corrupted
    * three-payload stream and pins each record's class and the
    * recovered-payload contract for the missing_id reject).
    */
  def tolerantIngestStream(stream: DataFrame): DataFrame =
    graft.search.StacSearch.a57Classify(stream)
      .select(col("rec_id"), col("status"), col("it.id").as("parsed_id"),
        col("dt").as("parsed_datetime"))

  // ------------------------------------------------- D2 sessionization
  private val gapMinutes = 30

  /** Batch sessionizer, gaps-and-islands: a session breaks after a >30 min
    * silence per user. Both windows and the final groupBy hash-partition on
    * user_id — one shuffle total.
    */
  def sessionizeBatch(e: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val runSum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL '$gapMinutes' MINUTE"), 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(runSum))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start"))).as("dur_us"))
  }

  def d2Sessionize(s: SparkSession, d: String): DataFrame =
    sessionizeBatch(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_start"))

  val d2Sql: String =
    s"""WITH marked AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |         OR ts > lag(ts) OVER w + INTERVAL $gapMinutes MINUTE
       |      THEN 1 ELSE 0 END AS is_new
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT user_id, ts,
       |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sess
       |  FROM marked)
       |SELECT user_id, session_start, session_end, n_events,
       |  epoch_us(session_end) - epoch_us(session_start) AS dur_us
       |FROM (
       |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       |    COUNT(*) AS n_events
       |  FROM sessions GROUP BY user_id, sess)
       |ORDER BY user_id, session_start""".stripMargin

  // ------------------------------------------- D4 stream-stream join
  /** Follow-up events: pairs of events by the same user within 5 minutes
    * (e.g. click → purchase attribution). Batch form is the oracle gate;
    * the streaming form is the same TRANSFORM over two watermarked streams
    * — the interval condition bounds join state on both sides.
    */
  private val followMinutes = 5

  def intervalJoinTransform(e1: DataFrame, e2: DataFrame,
                            joinType: String = "inner"): DataFrame = {
    val a = e1.select(col("user_id").as("u1"), col("ts").as("ts1"),
      col("event_id").as("id1"))
    val b = e2.select(col("user_id").as("u2"), col("ts").as("ts2"),
      col("event_id").as("id2"))
    a.join(b,
      col("u1") === col("u2") &&
        col("ts2") >= col("ts1") &&
        col("ts2") <= col("ts1") + expr(s"INTERVAL '$followMinutes' MINUTE") &&
        col("id1") < col("id2"), joinType)
      .select(col("u1").as("user_id"), col("id1"), col("id2"),
        (unix_micros(col("ts2")) - unix_micros(col("ts1"))).as("gap_us"))
  }

  /** BATCH interval join with a time-BUCKETED equi-key. The streaming
    * form's (user_id = user_id AND ts-range) join is the right shape for
    * a stream — watermark eviction bounds per-user state to the window —
    * but in batch the only hash key is user_id, so the join materializes
    * per-user CARTESIAN candidates before the range filter: quadratic in
    * per-user density. The r10 sf1 sweep measured it — at 10× event
    * density (same span) d4 went 1.2 s → 70 s for only 53× more output
    * rows (~667 events/user ⇒ ~667²×1500 ≈ 667M candidates for 79k
    * results). Bucketing time by the window width (bucket = unix_micros
    * DIV window; the left side explodes to {bk, bk+1}, which covers every
    * ts2 ∈ [ts1, ts1+W]) adds the time axis to the shuffle key, so
    * candidates are per-(user, 5-minute-bucket)² — linear in density per
    * bucket, and the 100 TB shuffle partitions by (user, time) instead of
    * pinning each hot user to one task. Exact predicates unchanged; each
    * qualifying pair matches exactly ONE left copy (bucket(ts2) is
    * single-valued), so no dedup step is needed.
    */
  private val followUs = followMinutes * 60L * 1000000L

  private[graft] def intervalJoinBatch(e1: DataFrame, e2: DataFrame): DataFrame = {
    val a = e1.select(col("user_id").as("u1"), col("ts").as("ts1"),
        col("event_id").as("id1"))
      .withColumn("bk1", explode(array(
        expr(s"unix_micros(ts1) DIV $followUs"),
        expr(s"unix_micros(ts1) DIV $followUs + 1"))))
    val b = e2.select(col("user_id").as("u2"), col("ts").as("ts2"),
        col("event_id").as("id2"))
      .withColumn("bk2", expr(s"unix_micros(ts2) DIV $followUs"))
    a.join(b,
      col("u1") === col("u2") && col("bk1") === col("bk2") &&
        col("ts2") >= col("ts1") &&
        col("ts2") <= col("ts1") + expr(s"INTERVAL '$followMinutes' MINUTE") &&
        col("id1") < col("id2"))
      .select(col("u1").as("user_id"), col("id1"), col("id2"),
        (unix_micros(col("ts2")) - unix_micros(col("ts1"))).as("gap_us"))
  }

  def d4IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    intervalJoinBatch(e, e).orderBy(col("user_id"), col("id1"), col("id2"))
  }

  val d4Sql: String =
    s"""SELECT a.user_id AS user_id, a.event_id AS id1, b.event_id AS id2,
       |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
       |FROM events a JOIN events b
       |  ON a.user_id = b.user_id
       | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $followMinutes MINUTE
       | AND a.event_id < b.event_id
       |ORDER BY user_id, id1, id2""".stripMargin

  /** Streaming form: both sides watermarked; the ts bound lets Spark evict
    * join state older than watermark + interval.
    */
  def intervalJoinStream(s1: DataFrame, s2: DataFrame): DataFrame =
    intervalJoinTransform(
      s1.withWatermark("ts", "10 minutes"),
      s2.withWatermark("ts", "10 minutes"))

  // -------------------------------------- D6 stream-stream OUTER join
  /** D6: LEFT OUTER stream-stream interval join — events with NO follow-up
    * inside the window surface with null id2/gap. In a live stream the
    * outer (null-padded) rows can only be emitted once the watermark
    * proves no matching right row can still arrive — the state-eviction
    * reasoning the inner join doesn't need. Batch form is the oracle gate;
    * the streaming form is the same transform over watermarked streams
    * (multi-batch equivalence asserted in EventsSpec).
    */
  def d6IntervalJoinOuter(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    // LEFT OUTER decomposed over the bucketed inner join: the exploded
    // left copies make a direct left_outer wrong (a row with a match in
    // one bucket copy would still null-pad from the other), so outer =
    // inner ∪ (events with no follow → null-padded), the standard
    // outer-join-over-replicated-build decomposition. The anti join's
    // build side is the DISTINCT matched-id1 set — |results|, tiny.
    val inner = intervalJoinBatch(e, e)
    val unmatched = e
      .select(col("user_id"), col("event_id").as("id1"))
      .join(inner.select(col("id1")).distinct(), Seq("id1"), "left_anti")
      .select(col("user_id"), col("id1"),
        lit(null).cast("long").as("id2"), lit(null).cast("long").as("gap_us"))
    inner.unionByName(unmatched)
      .orderBy(col("user_id"), col("id1"), col("id2"))
  }

  val d6Sql: String =
    s"""SELECT a.user_id AS user_id, a.event_id AS id1, b.event_id AS id2,
       |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
       |FROM events a LEFT JOIN events b
       |  ON a.user_id = b.user_id
       | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL $followMinutes MINUTE
       | AND a.event_id < b.event_id
       |ORDER BY user_id, id1, id2""".stripMargin

  def intervalJoinOuterStream(s1: DataFrame, s2: DataFrame): DataFrame =
    intervalJoinTransform(
      s1.withWatermark("ts", "10 minutes"),
      s2.withWatermark("ts", "10 minutes"), "left_outer")

  // ---------------------- D7 transformWithState running aggregates
  /** D7: per-user RUNNING totals on Spark 4's transformWithState API (the
    * successor to flatMapGroupsWithState: typed state handles, TTL,
    * timers, RocksDB-backed). Each micro-batch emits the user's updated
    * lifetime (count, total) — the "live counters" shape. Totals are kept
    * in CENTS (long) so the running sum is exact and order-independent,
    * matching a batch decimal aggregate.
    */
  case class EvV(user_id: Long, value: Double)
  case class RunningTotal(user_id: Long, n_events: Long, total_cents: Long)

  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvV, RunningTotal] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var st: ValueState[RunningTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RunningTotal]("totals",
        E.product[RunningTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EvV],
                                 tv: TimerValues): Iterator[RunningTotal] = {
      val prev = if (st.exists()) st.get() else RunningTotal(key, 0L, 0L)
      var n = prev.n_events
      var cents = prev.total_cents
      rows.foreach { r => n += 1; cents += math.rint(r.value * 100.0).toLong }
      val next = RunningTotal(key, n, cents)
      st.update(next)
      Iterator.single(next)
    }
  }

  /** Streaming entry: requires the RocksDB state store provider (set by
    * the caller/test: spark.sql.streaming.stateStore.providerClass).
    */
  def runningTotalsStream(s: SparkSession, stream: DataFrame): Dataset[RunningTotal] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    stream.select(col("user_id"), col("value")).as[EvV]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** D3: streaming dedup — watermark-bounded state keyed on event_id. */
  def dedupStream(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  // ----------------------- D14 streaming free-text alerting (A53 live)
  /** D14: A53's free-text q predicate over an ITEM STREAM — the saved-
    * search alerting shape ("notify me when an item matching my query
    * lands"). The q grammar parses ONCE to the shared CQL AST and its
    * Catalyst Column drops into the stream as a stateless filter: no
    * state store, no watermark, and the predicate sits in the same
    * micro-batch projection a batch scan would run — so stream ≡ batch
    * filter by construction (asserted in EventsSpec), and at scale the
    * filter evaluates at ingest rate with zero shuffle.
    */
  def freeTextAlertStream(stream: DataFrame, q: String,
                          fields: Seq[String]): DataFrame =
    stream.where(graft.cql.FreeText.parse(q, fields).toColumn)

  // --------------------- D13 streaming CDC latest-per-key (B25 live)
  /** D13: STREAMING changelog compaction — B25's "current state per key"
    * maintained live over the changelog stream (the CDC upsert-view
    * shape: each micro-batch emits the keys it touched with their new
    * latest row, Update mode — exactly what a downstream MERGE/upsert
    * sink consumes). State per key is ONE row: the (ts, event_id)-max
    * version seen so far plus the version count — the same monoid B25's
    * batch `max_by` folds, so arrival order and micro-batch boundaries
    * cannot change the answer and the final state ≡ the batch compaction
    * of the same rows (EventsSpec proves it, out-of-order arrivals
    * included). No watermark: a changelog's latest-value view never
    * expires; state is O(keys), the table's natural size.
    */
  case class CdcIn(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                   event_type: String, value: Double)
  case class CdcLatest(user_id: Long, last_event_id: Long,
                       last_ts: java.sql.Timestamp, last_type: String,
                       last_value: Double, n_versions: Long)

  class LatestPerKeyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CdcIn, CdcLatest] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    @transient private var st: ValueState[CdcLatest] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcLatest]("latest",
        E.product[CdcLatest], TTLConfig.NONE)

    private def newer(aTs: java.sql.Timestamp, aId: Long,
                      bTs: java.sql.Timestamp, bId: Long): Boolean = {
      val c = aTs.compareTo(bTs)
      c > 0 || (c == 0 && aId > bId)
    }

    override def handleInputRows(key: Long, rows: Iterator[CdcIn],
                                 tv: TimerValues): Iterator[CdcLatest] = {
      var cur = if (st.exists()) st.get() else null
      rows.foreach { r =>
        val replaces = cur == null ||
          newer(r.ts, r.event_id, cur.last_ts, cur.last_event_id)
        val n = if (cur == null) 1L else cur.n_versions + 1L
        cur =
          if (replaces) CdcLatest(key, r.event_id, r.ts, r.event_type, r.value, n)
          else cur.copy(n_versions = n)
      }
      st.update(cur)
      Iterator.single(cur)
    }
  }

  /** Streaming entry (RocksDB-backable like any transformWithState op). */
  def latestPerKeyStream(s: SparkSession, stream: DataFrame): Dataset[CdcLatest] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    stream.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value")).as[CdcIn]
      .groupByKey(_.user_id)
      .transformWithState(new LatestPerKeyProcessor, TimeMode.None(), OutputMode.Update())
  }

  // --------------- D30 streaming CDC with DELETE tombstones (B41 live)
  /** D30: B41 live — the Update-mode CDC view WITH deletes: the same
    * latest-per-key state machine as D13 (one state row per key, monoid
    * fold, no watermark), with the delete decision made at EMISSION from
    * the winning revision's type. A key whose latest revision is a
    * tombstone emits `deleted = true` — the retraction a downstream
    * MERGE sink consumes to remove the key — and comes back alive if a
    * newer non-tombstone revision lands later (latest-wins, the same
    * comparison the batch merge makes; deleting inside the state machine
    * instead would forget n_versions and break resurrection). EventsSpec
    * proves the final served view (rows with deleted = false) ≡ B41's
    * batch compaction, tombstone-then-resurrect included.
    */
  def cdcWithDeletesStream(s: SparkSession, stream: DataFrame): DataFrame =
    latestPerKeyStream(s, stream).toDF()
      .withColumn("deleted", col("last_type") === "error")

  // ------------------------- D10 streaming grid aggregation (A46 live)
  /** D10: A46's Z-cell grid aggregation over an ITEM STREAM — the live
    * dashboard shape (tiles updating as items land). Tumbling windows ×
    * Z-cells, watermark-bounded state: a (window, cell) bucket finalizes
    * and emits once the watermark passes its window end, so state is
    * O(cells per open window), never O(history). Counts and exact cent
    * sums only — monoid partials (B21's rule), so the streaming aggregate
    * is map-side-combined per micro-batch exactly like the batch plan.
    * EventsSpec asserts stream ≡ the same groupBy run as a batch query.
    */
  def gridAggStream(s: SparkSession, stream: DataFrame,
                    watermarkDelay: String = "1 hour",
                    windowDur: String = "1 hour"): DataFrame =
    stream
      .withColumn("zcell", graft.search.StacSearch.zCellColumn)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur), col("zcell"))
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("cents"))
      .select(col("window.start").as("w_start"), col("zcell"),
        col("n_items"), col("cents"))

  /** File-source stream over an events parquet directory: the real
    * `readStream` entry point. `readStream` needs an explicit schema, so
    * probe the directory's ACTUAL footer schema with a batch read and
    * apply the same per-generation `ts` normalization as the batch loader
    * (graft.core.Tables.events): TIMESTAMP(NANOS) fixtures read as raw
    * long nanos (`nanosAsLong`) floored to µs; TIMESTAMP(MICROS)
    * fixtures read as TIMESTAMP_NTZ and re-label to TIMESTAMP under the
    * UTC session zone. The round-7 fixture regeneration flipped this
    * type and a hard-coded long schema here read µs AS ns (1970-dated
    * events) — the probe makes the stream source track whatever the
    * batch loader sees.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileSchema = s.read.parquet(dir).schema
    val src = s.readStream.schema(fileSchema).parquet(dir)
    fileSchema("ts").dataType match {
      case LongType =>
        src.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        src.withColumn("ts", col("ts").cast("timestamp"))
      case _ => src
    }
  }

  // ---------------- D12 native session windows (D2 via session_window)
  /** D12: D2's sessionization through Spark's NATIVE `session_window`
    * aggregation — the built-in merging-session state, and the streaming
    * sessionizer of this object. One expression serves batch and stream;
    * in streaming mode the engine keeps per-key open sessions, merges
    * them as events land, and append-mode emits each session once the
    * watermark passes session_end + gap, with state merging, eviction,
    * and output timing owned by the engine (and RocksDB-backable like any
    * streaming aggregate).
    *
    * session_window's window.end is last_ts + gap, so session_end is the
    * aggregate max(ts), not the window bound. Gap semantics match D2's
    * gaps-and-islands exactly (an event AT prev + gap extends the
    * session, strictly later breaks it); the gate runs the batch form
    * against the SAME oracle as D2 — two algorithms, one result — and
    * EventsSpec asserts stream ≡ batch across micro-batches.
    */
  private[streaming] def sessionWindowAgg(e: DataFrame): DataFrame =
    e.groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start")))
          .as("dur_us"))

  def d12SessionWindow(s: SparkSession, d: String): DataFrame =
    sessionWindowAgg(Tables.events(s, d))
      .orderBy(col("user_id"), col("session_start"))

  /** Streaming form: watermark-bounded native session state, append mode
    * emits each closed session exactly once.
    */
  def sessionWindowStream(stream: DataFrame,
                          watermarkDelay: String = "1 hour"): DataFrame =
    sessionWindowAgg(stream.withWatermark("ts", watermarkDelay))

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_event_window"  -> (d1EventWindow _),
    "d25_sliding_window" -> (d25SlidingWindow _),
    "d26_trending_panes" -> (d26TrendingPanes _),
    "d2_sessionize"    -> (d2Sessionize _),
    "d4_interval_join" -> (d4IntervalJoin _),
    "d6_interval_join_outer" -> (d6IntervalJoinOuter _),
    "d12_session_window" -> (d12SessionWindow _)
  )

  val oracle: Map[String, String] = Map(
    "d1_event_window"  -> d1Sql,
    "d25_sliding_window" -> d25Sql,
    "d26_trending_panes" -> d26Sql,
    "d2_sessionize"    -> d2Sql,
    "d4_interval_join" -> d4Sql,
    "d6_interval_join_outer" -> d6Sql,
    // deliberately the SAME oracle as d2: the native session_window
    // aggregation and the gaps-and-islands window must agree row-for-row
    "d12_session_window" -> d2Sql
  )
}
