package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B22: bucketed-table materialization — the zero-shuffle fact⋈fact join
  * (SURVEY.md §2.B, round-7 candidate; the storage counterpart of
  * [[ItemsLayout]]/[[DocumentsLayout]] for the relational fact tables).
  *
  * B4 joins orders⋈lineitem by shuffling BOTH facts on the order key —
  * at 100 TB that shuffle IS the query cost (every byte of both tables
  * crosses the wire once per query). Bucketing moves that cost to write
  * time, once: both tables are hash-bucketed AND sorted by the join key
  * with the same bucket count, so every join/groupBy on that key reads
  * co-located, pre-sorted buckets — SortMergeJoin with NO Exchange and
  * NO per-query Sort (asserted in BucketedLayoutSpec).
  *
  * Write shape: `repartition(buckets, key)` uses the same murmur3 hash
  * partitioning as `bucketBy`, so each write task holds exactly one
  * bucket's rows and writes exactly ONE file per bucket — the
  * one-file-per-bucket layout Spark requires before it trusts the
  * written sort order (otherwise a per-query Sort reappears).
  *
  * At 100 TB: bucket count scales with table size (buckets ≈ table-bytes /
  * target-file-bytes, same count on both tables); the join parallelism
  * equals the bucket count, and adding executors never re-shuffles data.
  * Cf. reference database_logic.py:831-853 — its per-collection file scan
  * has no co-location story at all; every join re-reads and re-hashes.
  */
object BucketedLayout {

  /** Bucket count at test scale; production = table-bytes / ~256 MB. */
  val buckets = 8

  /** One side of the orders/lineitem pair, bucketed and sorted by `key`,
    * staged once per fixture snapshot ([[Staged.table]]).
    */
  private def bucketed(spark: SparkSession, which: String, dir: String,
                       rows: => DataFrame, key: String): String =
    Staged.table(spark, s"bucketed_$which", 1, dir, "orders", "lineitem")(
      Staged.Bucketed(buckets, key, key), rows.repartition(buckets, col(key)))

  /** Materialize orders + lineitem bucketed and sorted by the order key. */
  def materialize(spark: SparkSession, dir: String): (String, String) = (
    bucketed(spark, "orders", dir, Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
      "o_orderkey"),
    bucketed(spark, "lineitem", dir, Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_quantity")),
      "l_orderkey"))

  /** The audited join: orders⋈lineitem on the bucket key, then a
    * per-order aggregate on the SAME key — both reuse the bucketing, so
    * the whole plan (join + aggregate) carries zero Exchange. The final
    * orderBy is the gate's determinism requirement only;
    * BucketedLayoutSpec audits the pre-sort plan.
    */
  def joinAggregate(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = materialize(spark, dir)
    spark.table(ot)
      .join(spark.table(lt), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_items"))
  }

  def b22BucketedJoin(spark: SparkSession, dir: String): DataFrame =
    joinAggregate(spark, dir).orderBy(col("o_orderkey"))

  // ------------------------------------------------- B23 bucketed as-of
  /** B23: ZERO-shuffle, ZERO-sort as-of join — B18's union-merge shape
    * pushed into the storage layout. B18 pays one shuffle+sort per query
    * to interleave events with orders on (key, time, side-tag); here the
    * two sides are UNIONED AT WRITE TIME into one table bucketed by the
    * key and sorted by (k, t, tag), so the as-of window (running
    * last-non-null order id) runs directly over the sorted bucketed scan:
    * no Exchange, no Sort, one streaming pass (asserted in
    * BucketedLayoutSpec). This is the classic time-series-store shape
    * (co-located per-key merge); at 100 TB the per-query cost is a scan,
    * and appending a day of either side is a per-bucket merge rewrite.
    *
    * tag 0 (orders) sorts before tag 1 (events) at equal t, making the
    * match inclusive (ts >= order time) — exactly ASOF `>=`; the right
    * side is pre-deduped to one row per (k, t), as B18.
    */
  def materializeAsof(spark: SparkSession, dir: String): String =
    Staged.table(spark, "bucketed_asof", 1, dir, "events", "orders")(
      Staged.Bucketed(buckets, "k", "k", "t", "tag"),
      asofRows(spark, dir).repartition(buckets, col("k")))

  private def asofRows(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id").cast("bigint").as("k"), col("ts").as("t"),
        lit(1).as("tag"), col("event_id"), lit(null).cast("bigint").as("ok"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").cast("bigint").as("k"),
        col("o_orderdate").cast("timestamp").as("t"), col("o_orderkey"))
      .groupBy(col("k"), col("t")).agg(max(col("o_orderkey")).as("ok"))
      .select(col("k"), col("t"), lit(0).as("tag"),
        lit(null).cast("bigint").as("event_id"), col("ok"))
    e.unionAll(o)
  }

  /** The audited as-of: window over the sorted bucketed scan. The final
    * orderBy is the gate's determinism requirement only.
    */
  def asofWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mt = materializeAsof(spark, dir)
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.table(mt)
      .withColumn("asof_ok", last(col("ok"), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("k").as("user_id"), col("event_id"), col("t").as("ts"),
        col("asof_ok").as("o_orderkey"))
  }

  def b23BucketedAsof(spark: SparkSession, dir: String): DataFrame =
    asofWindow(spark, dir).orderBy(col("user_id"), col("event_id"))

  /** Oracle: DuckDB's NATIVE ASOF LEFT JOIN on the raw parquet — an
    * independent implementation of the semantics (b18's oracle), proving
    * the write-time interleave changed the physics, not the answer.
    */
  val b23Sql: String =
    """WITH od AS (
      |  SELECT CAST(o_custkey AS BIGINT) AS k, CAST(o_orderdate AS TIMESTAMP) AS t,
      |         max(o_orderkey) AS ok
      |  FROM orders GROUP BY 1, 2)
      |SELECT CAST(e.user_id AS BIGINT) AS user_id, e.event_id, e.ts, od.ok AS o_orderkey
      |FROM events e
      |ASOF LEFT JOIN od ON CAST(e.user_id AS BIGINT) = od.k AND e.ts >= od.t
      |ORDER BY user_id, event_id""".stripMargin

  /** Oracle: same join on the raw parquet — bucketing must not change
    * results, only the plan.
    */
  val b22Sql: String =
    """SELECT o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_orderdate ORDER BY o_orderkey""".stripMargin
}
