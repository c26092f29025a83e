package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet layouts of the items corpus that turn search predicates into
  * Spark's own file-source pruning (SURVEY.md §3.1):
  *
  *  - `partitionBy(collection)` — a collections filter prunes directories
  *    before any file is opened (`PartitionFilters` in the scan);
  *  - sorted within partitions by `(datetime, id)` — parquet row-group
  *    min/max stats make datetime ranges skip row groups
  *    (`PushedFilters`), and the id tiebreak keeps keyset pagination
  *    aligned with the physical order;
  *  - z-ordered: a stored z-cell column whose ranges skip row groups.
  *
  * FILE-level pruning of the items catalog is not here: the exported
  * GeoParquet catalog (core/GeoParquet.export) is read through the
  * `geocatalog` scan, whose footer prune (sources/GeoCatalogSource) is the
  * one place a search's file set is decided.
  */
object ItemsLayout {

  /** Materialize an items DataFrame partitioned by collection. */
  def materialize(items: DataFrame, path: String): Unit =
    items
      .repartition(col("collection"))
      .sortWithinPartitions(col("collection"), col("datetime"), col("id"))
      .write.partitionBy("collection").mode("overwrite").parquet(path)

  /** Read back a materialized items table. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Z-ordered spatial layout: the Z-cell is STORED and the data is
    * range-partitioned + sorted by it, so a bbox query's OR-of-BETWEENs
    * over the merged z-ranges (StacSearch.zRangesSplit) push down and
    * skip row groups on parquet min/max stats of the sorted column;
    * ItemsLayoutSpec audits the pushed filters.
    */
  def materializeZOrdered(items: DataFrame, zcell: org.apache.spark.sql.Column,
                          path: String): Unit =
    items.withColumn("zcell", zcell)
      .repartitionByRange(col("zcell"), col("id"))
      .sortWithinPartitions(col("zcell"), col("id"))
      .write.mode("overwrite").parquet(path)
}
