package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B24: MATERIALIZED incremental aggregation state — B21 as a table
  * layout. B21 proved merge ∘ partial ≡ aggregate in one plan; here the
  * per-slice partial states actually live on disk as a parquet table
  * PARTITIONED BY slice (month), which is how a 100 TB pipeline runs it:
  *  - nightly: aggregate ONLY the new slice of raw data and write one
  *    new partition of monoid state (count / exact cents sum / min / max
  *    — never a derived metric);
  *  - query: merge the state table — |slices × groups| rows, independent
  *    of raw history size — and derive metrics (avg) after the merge.
  * Raw history is never re-read; appending a slice is a directory add
  * (IncrementalStateSpec proves slice-wise append ≡ full recompute).
  */
object IncrementalState {

  /** (st, cents, d) rows → (slice, st) monoid partials. */
  private def aggPartials(rows: DataFrame): DataFrame =
    rows
      .withColumn("slice", date_format(col("d"), "yyyy-MM"))
      .groupBy(col("slice"), col("st"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
        min(col("d")).as("dmin"), max(col("d")).as("dmax"))

  /** Per-slice partial states for the orders aggregate (B21's monoids),
    * slice = month of o_orderdate.
    */
  def partials(spark: SparkSession, dir: String): DataFrame =
    aggPartials(Tables.orders(spark, dir).select(
      col("o_orderstatus").as("st"),
      expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
      col("o_orderdate").as("d")))

  /** D11: the STREAMING feeder for the state table — called from a
    * `foreachBatch` sink, it aggregates one micro-batch's (st, cents, d)
    * rows to (slice, st) monoid partials and APPENDS them as-is. No
    * watermark, no stateful operator, no cross-batch coordination:
    * partials-of-partials merge on read by the same monoid ops, so the
    * state TABLE is the only state (IncrementalStateSpec proves a
    * two-batch stream merges to the direct aggregate even when batches
    * split a slice).
    */
  def appendBatchPartials(batch: DataFrame, path: String): Unit =
    aggPartials(batch).write.mode("append").partitionBy("slice").parquet(path)

  /** Materialize the state table, staged once per fixture snapshot. */
  def materialize(spark: SparkSession, dir: String): String =
    Staged("state", 1, dir, "orders")(
      partials(spark, dir).write.partitionBy("slice").parquet(_))

  /** The nightly append: add the partials of the slices matching
    * `slicePred` to the state table at `path`.
    */
  def appendSlices(spark: SparkSession, dir: String, path: String,
                   slicePred: String): Unit =
    partials(spark, dir).where(slicePred)
      .write.mode("append").partitionBy("slice").parquet(path)

  /** B26: state COMPACTION — merge-at-rest, the small-files answer for
    * this table. D11's streaming appends leave one partial file per
    * micro-batch per slice; because the state rows are monoids,
    * compaction is a SEMANTIC merge, not a byte-level file rewrite:
    * re-aggregate each slice's partials-of-partials down to ONE row per
    * (slice, group) and rewrite each slice directory with one file
    * (`repartition(slice)` → one task owns a slice; dynamic partition
    * overwrite swaps only the compacted slices). Merge-on-read results
    * are unchanged — merge is associative, so merging at rest then at
    * read ≡ merging everything at read (IncrementalStateSpec asserts
    * it) — while per-query read fan-in drops from O(micro-batches)
    * files to O(slices). The localCheckpoint materializes the compacted
    * rows BEFORE the overwrite job, which is what makes read-then-
    * overwrite-the-same-path safe.
    */
  def compactSlices(spark: SparkSession, statePath: String): Unit = {
    val compacted = spark.read.parquet(statePath)
      .groupBy(col("slice"), col("st"))
      .agg(sum(col("n")).as("n"), sum(col("c")).as("c"),
        min(col("dmin")).as("dmin"), max(col("dmax")).as("dmax"))
      .repartition(col("slice"))
      .localCheckpoint(true)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try compacted.write.mode("overwrite").partitionBy("slice").parquet(statePath)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Merge-on-read: aggregate the state table's monoids, derive avg from
    * the merged exact integers. Output ≡ B21 ≡ a direct aggregate over
    * all of raw `orders` — that equality is the gate.
    */
  def mergedFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("st"))
      .agg(sum(col("n")).as("n_orders"), sum(col("c")).as("total_cents"),
        min(col("dmin")).as("first_date"), max(col("dmax")).as("last_date"))
      .withColumn("avg_cents", expr("total_cents DIV n_orders"))
      .orderBy(col("st"))

  def b24MergeOnRead(spark: SparkSession, dir: String): DataFrame =
    mergedFrom(spark, materialize(spark, dir))

  /** Oracle: the direct single-pass aggregate over raw orders (B21's). */
  val b24Sql: String =
    """SELECT o_orderstatus AS st, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
      |  min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    // COUNT(*) AS avg_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------- B35 incremental JOIN view
  /** B35: INCREMENTALLY-MAINTAINED JOIN VIEW — B24's state-table pattern
    * lifted from a single-table aggregate to a denormalized join
    * (revenue by nation = orders ⋈ customer ⋈ nation): legal because a
    * join DISTRIBUTES over union on the fact side — orders = ∪ slices ⇒
    * view = ∪ (slice ⋈ dims) — so the nightly refresh joins ONLY the new
    * month against the (broadcast) dims and appends nation-level monoid
    * partials under a new slice partition; raw fact history is never
    * re-joined. Serving merges |slices × nations| tiny rows. The dims
    * are STATIC by contract here (the star-schema norm); a dim change
    * invalidates affected slices — mutable-dim serving is B25/D13's
    * changelog path, not this table.
    *
    * Gate: merge-on-read ≡ the oracle's direct three-table join over ALL
    * raw orders — that equality is the maintenance proof (A54's
    * pattern). The spec drives the day-1-materialize / day-2-append walk.
    */
  private def b35Partials(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
        date_format(col("o_orderdate"), "yyyy-MM").as("slice"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("slice"), col("n_name"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))

  /** Materialize the join-view state, staged once per fixture snapshot. */
  def b35Materialize(spark: SparkSession, dir: String): String =
    Staged("state_b35", 1, dir, "orders", "customer", "nation")(
      b35Partials(spark, dir).write.partitionBy("slice").parquet(_))

  /** [[appendSlices]] for the join-view state. */
  def b35AppendSlices(spark: SparkSession, dir: String, path: String,
                      slicePred: String): Unit =
    b35Partials(spark, dir).where(slicePred)
      .write.mode("append").partitionBy("slice").parquet(path)

  def b35MergedFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("n_name"))
      .agg(sum(col("n")).as("n_orders"), sum(col("c")).as("total_cents"))
      .orderBy(col("n_name"))

  def b35JoinView(spark: SparkSession, dir: String): DataFrame =
    b35MergedFrom(spark, b35Materialize(spark, dir))

  val b35Sql: String =
    """SELECT n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ------------------------------------------- B27 sketch-typed state
  /** B27: MERGEABLE DISTINCT-COUNT state — the one metric B24's monoid
    * row (count/sum/min/max) cannot carry, because COUNT(DISTINCT) does
    * not decompose over slices. The state-table answer is a SKETCH-typed
    * partial: each (slice, group) row stores a Datasketches HLL sketch
    * (`hll_sketch_agg`, a commutative monoid over BINARY — register-wise
    * max), and merge-on-read is `hll_union_agg` → estimate. Appending a
    * slice stays a directory add; the union is associative and
    * order-insensitive like every other column in the state row, and at
    * 100 TB the read still touches |slices × groups| rows — each carrying
    * a ~KB sketch — never raw history.
    *
    * Exactness contract (IncrementalStateSpec): the merged estimate
    * equals the DIRECT whole-corpus sketch estimate bit-for-bit — both
    * paths hash the same values into register-wise max at the same lgK,
    * so slicing cannot change the registers — and tracks exact
    * COUNT(DISTINCT) within the configured accuracy.
    */
  private val hllLgK = 12

  /** Per-(slice, st) sketch partials over orders' distinct customers. */
  def sketchPartials(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("slice", date_format(col("o_orderdate"), "yyyy-MM"))
      .groupBy(col("slice"), col("o_orderstatus").as("st"))
      .agg(expr(s"hll_sketch_agg(o_custkey, $hllLgK)").as("cust_sketch"),
        count(lit(1)).as("n"))

  /** D16: the STREAMING feeder for the sketch-state table (D11's shape
    * with a sketch-typed partial): each micro-batch aggregates its rows
    * to (slice, st) HLL partials and appends them as-is — no watermark,
    * no stateful operator; `hll_union_agg` is associative, so
    * partials-of-partials union on read to exactly the direct
    * whole-corpus sketch even when batches split a slice
    * (IncrementalStateSpec proves bit-equality).
    */
  def appendBatchSketchPartials(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("slice", date_format(col("d"), "yyyy-MM"))
      .groupBy(col("slice"), col("st"))
      .agg(expr(s"hll_sketch_agg(k, $hllLgK)").as("cust_sketch"),
        count(lit(1)).as("n"))
      .write.mode("append").partitionBy("slice").parquet(path)

  /** Merge-on-read over a materialized sketch-state table. */
  def sketchMergedFrom(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .groupBy(col("st"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(cust_sketch))")
          .as("approx_customers"),
        sum(col("n")).as("n_orders"))
      .orderBy(col("st"))

  /** The direct (no state table) whole-corpus sketch — the equality
    * target for [[sketchMergedFrom]].
    */
  def sketchDirect(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus").as("st"))
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(o_custkey, $hllLgK))")
          .as("approx_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("st"))

  // --------------------------------------- B28 heavy-hitter summaries
  /** B28: MERGEABLE HEAVY-HITTER state — Misra-Gries summaries as state
    * rows (Agarwal et al. 2013, "Mergeable Summaries"): top-k frequent
    * keys with guaranteed error, the second metric (after B27's distinct
    * count) that doesn't decompose over slices as a plain monoid.
    *
    * Per slice: exact (key, count) group counts — a slice fits, that's
    * the state-table premise — TRUNCATED to an MG summary: subtract the
    * (k+1)-th largest count from everything, keep the ≤ k keys still
    * positive. Merge-on-read: sum the summaries' counters per key
    * (counter addition is the monoid part), then apply the SAME
    * truncation once more — the Agarwal et al. merge, closed under
    * slicing. Guarantee (spec-pinned): every surviving estimate is an
    * UNDER-count by at most n/(k+1) of the TOTAL stream, and every key
    * with true frequency > n/(k+1) survives. State per (slice, group) is
    * ≤ k rows regardless of key cardinality — the compression that makes
    * frequent-token tracking viable at 100 TB.
    */
  def mgTruncate(counts: DataFrame, k: Int, sliceCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = sliceCol.map(c => Window.partitionBy(col(c)))
      .getOrElse(Window.partitionBy())
      .orderBy(col("cnt").desc, col("key"))
    val keep = Seq(col("key"), col("est")) ++ sliceCol.map(col)
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("thr", max(when(col("rk") === k + 1, col("cnt"))
        .otherwise(lit(0L))).over(
        sliceCol.map(c => Window.partitionBy(col(c))).getOrElse(Window.partitionBy())))
      .where(col("rk") <= k && col("cnt") > col("thr"))
      .withColumn("est", col("cnt") - col("thr"))
      .select(keep: _*)
  }

  /** Per-slice MG summaries from raw (slice, key) rows. */
  def mgSummaries(rows: DataFrame, k: Int): DataFrame =
    mgTruncate(
      rows.groupBy(col("slice"), col("key")).agg(count(lit(1)).as("cnt")),
      k, Some("slice"))

  /** Merge-on-read: sum the per-slice counters, re-truncate. */
  def mgMerged(summaries: DataFrame, k: Int): DataFrame =
    mgTruncate(
      summaries.groupBy(col("key")).agg(sum(col("est")).as("cnt")),
      k, None)

  // ------------------------------------ B30 histogram-state quantiles
  /** B30: MERGEABLE QUANTILE state — the third non-monoid metric
    * (after B27's distinct count and B28's heavy hitters), answered with
    * the simplest summary that IS a monoid: a fixed-width histogram.
    * Each (slice) partial is bin → count (pure counter addition under
    * merge — no sketch algebra, no accuracy interaction across merges);
    * a quantile reads off the merged histogram as the smallest bin whose
    * cumulative count covers p% of the total, with error bounded by ONE
    * BIN WIDTH — a bound that slicing provably cannot widen (counters
    * add exactly). All-integer arithmetic (`cum·100 ≥ total·p`), so the
    * gate is hash-exact; the spec pins the error bound against exact
    * percentiles.
    */
  private val histWidth = 2500L // o_totalprice bin width
  private val histPcts = Seq(50, 95, 99)

  def b30HistQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // per-slice monoid partials (the state rows)…
    val partials = Tables.orders(spark, dir)
      .withColumn("slice", date_format(col("o_orderdate"), "yyyy-MM"))
      .withColumn("bin", expr(s"CAST(FLOOR(o_totalprice / $histWidth) AS BIGINT)"))
      .groupBy(col("slice"), col("bin")).agg(count(lit(1)).as("n"))
    // …merged on read: plain counter addition, then the quantile read-off
    val hist = partials.groupBy(col("bin")).agg(sum(col("n")).as("n"))
      .withColumn("cum", sum(col("n")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
    val pcts = histPcts.toDF("p")
    hist.crossJoin(broadcast(pcts))
      .where(col("cum") * 100 >= col("total") * col("p"))
      .groupBy(col("p")).agg(min(col("bin")).as("bin"))
      .withColumn("est_lo", col("bin") * histWidth)
      .orderBy(col("p"))
  }

  val b30Sql: String =
    s"""WITH partials AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS slice,
       |    CAST(FLOOR(o_totalprice / $histWidth) AS BIGINT) AS bin, COUNT(*) AS n
       |  FROM orders GROUP BY 1, 2),
       |hist AS (
       |  SELECT bin, CAST(SUM(n) AS BIGINT) AS n FROM partials GROUP BY bin),
       |c AS (
       |  SELECT bin,
       |    SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(n) OVER () AS total
       |  FROM hist)
       |SELECT p, CAST(MIN(bin) AS BIGINT) AS bin,
       |  CAST(MIN(bin) * $histWidth AS BIGINT) AS est_lo
       |FROM c, (VALUES (50), (95), (99)) AS pv(p)
       |WHERE cum * 100 >= total * p
       |GROUP BY p ORDER BY p""".stripMargin

  /** The b28 gate: month-sliced MG summaries of orders' customers, merged
    * — both the per-slice truncation and the Agarwal merge are pure
    * relational algebra, so the ORACLE re-runs the whole algorithm in
    * SQL (window rank + threshold join, twice) and must agree exactly,
    * ties included (rank order (cnt DESC, key) is total).
    */
  private val mgK = 16

  def b28HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir).select(
      date_format(col("o_orderdate"), "yyyy-MM").as("slice"),
      col("o_custkey").cast("string").as("key"))
    mgMerged(mgSummaries(rows, mgK), mgK)
      .orderBy(col("est").desc, col("key"))
  }

  val b28Sql: String = {
    val k = mgK
    s"""WITH c AS (
       |  SELECT strftime(o_orderdate, '%Y-%m') AS slice,
       |    CAST(o_custkey AS VARCHAR) AS key, COUNT(*) AS cnt
       |  FROM orders GROUP BY 1, 2),
       |r AS (SELECT slice, key, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY slice ORDER BY cnt DESC, key) AS rk FROM c),
       |thr AS (SELECT slice, cnt AS thr FROM r WHERE rk = ${k + 1}),
       |summ AS (
       |  SELECT r.slice, r.key, r.cnt - COALESCE(thr, 0) AS est
       |  FROM r LEFT JOIN thr USING (slice)
       |  WHERE rk <= $k AND cnt > COALESCE(thr, 0)),
       |m AS (SELECT key, CAST(SUM(est) AS BIGINT) AS cnt FROM summ GROUP BY key),
       |r2 AS (SELECT key, cnt,
       |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk FROM m),
       |t2 AS (SELECT COALESCE(MAX(cnt), 0) AS thr FROM r2 WHERE rk = ${k + 1})
       |SELECT key, CAST(cnt - thr AS BIGINT) AS est
       |FROM r2, t2 WHERE rk <= $k AND cnt > thr
       |ORDER BY est DESC, key""".stripMargin
  }
}
