package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B36: DYNAMIC PARTITION PRUNING over a month-partitioned fact layout —
  * the scan-elimination mechanism that makes star-schema queries viable
  * at 100 TB: the fact table is laid out partitioned by month, the query
  * filters a (broadcast) month dimension, and Spark injects a runtime
  * `dynamicpruning` subquery into the fact scan's PARTITION FILTERS — so
  * the scan reads only the months the dim filter selects, without the
  * query ever naming them statically. A static predicate can't do this
  * when the filter lives on dim attributes (here: "Q1 months"); DPP
  * derives the partition list at runtime from the dim side.
  *
  * The gate's oracle states the SAME semantics as a direct static filter
  * over raw orders — equality proves pruning changed nothing;
  * PartitionedLayoutSpec asserts the `dynamicpruningexpression` actually
  * reached the fact scan (the 100 TB guarantee is the plan shape, B22's
  * doctrine) and that the pruned scan reads 3 of 12+ month directories.
  */
object PartitionedLayout {

  /** Materialize orders partitioned by month slice, staged once per
    * fixture snapshot ([[Staged.table]]); returns the table name.
    */
  def materialize(spark: SparkSession, dir: String): String =
    Staged.table(spark, "part_orders", 1, dir, "orders")(
      Staged.Partitioned("slice"),
      Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          date_format(col("o_orderdate"), "yyyy-MM").as("slice")))

  /** The month dimension — derived distinct slices with a quarter
    * attribute the query filters on. Small by construction (one row per
    * month in the data): always broadcastable.
    */
  private def monthDim(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("d_slice"))
      .distinct()
      .withColumn("q1", expr("substr(d_slice, 6, 2) IN ('01','02','03')"))

  /** The audited query: Q1 revenue by month, the month list known only
    * through the dim filter — DPP must prune the fact partitions.
    */
  def prunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = materialize(spark, dir)
    spark.table(t)
      .join(broadcast(monthDim(spark, dir).where(col("q1"))),
        col("slice") === col("d_slice"))
      .groupBy(col("slice"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .orderBy(col("slice"))
  }

  def b36DppJoin(spark: SparkSession, dir: String): DataFrame =
    prunedJoin(spark, dir)

  val b36Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m') AS slice, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders
      |WHERE strftime(o_orderdate, '%m') IN ('01', '02', '03')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------- B39 schema-evolution (mergeSchema) read
  /** B39: SCHEMA-EVOLUTION read — a long-lived lake table's files never
    * all share one schema (a column added in 1995 doesn't exist in the
    * 1992 files), and rewriting history to add it is exactly what a
    * 100 TB table can't afford: the old generation here carries
    * (key, cents), the new generation adds `status`, and
    * `mergeSchema=true` reads both as ONE relation with nulls where the
    * old files have no column — schema-on-read, no rewrite. The gate
    * aggregates across the boundary (nulls folded to a sentinel) and
    * the oracle restates the same semantics from raw orders with the
    * generation rule as a CASE — equality proves the merged read loses
    * and invents nothing.
    */
  private val b39Cut = "1995-01"

  def b39MergeSchemaRead(spark: SparkSession, dir: String): DataFrame = {
    val base = Staged("evolved", 1, dir, "orders") { p =>
      val src = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          col("o_orderstatus").as("status"),
          date_format(col("o_orderdate"), "yyyy-MM").as("slice"))
      src.where(col("slice") < b39Cut).select(col("o_orderkey"), col("cents"))
        .write.parquet(s"$p/v1")
      src.where(col("slice") >= b39Cut)
        .select(col("o_orderkey"), col("cents"), col("status"))
        .write.parquet(s"$p/v2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
      .groupBy(coalesce(col("status"), lit("pre-evolution")).as("status"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
      .orderBy(col("status"))
  }

  val b39Sql: String =
    """SELECT CASE WHEN strftime(o_orderdate, '%Y-%m') >= '1995-01'
      |            THEN o_orderstatus ELSE 'pre-evolution' END AS status,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}
