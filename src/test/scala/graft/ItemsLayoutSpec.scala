package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.core.{ItemsLayout, Tables}

class ItemsLayoutSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("materialized layout: collection filter is a partition prune, datetime pushes down") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_items_layout").toString
    try {
      val items = Tables.items(s, sf)
      ItemsLayout.materialize(items, tmp)
      val back = ItemsLayout.read(s, tmp)
      assert(back.count() == items.count())

      val q = back.where(col("collection") === "click")
        .where(col("datetime") >= lit("2024-01-10 00:00:00").cast("timestamp"))
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // directory-level pruning on the partition column
      assert(p.contains("PartitionFilters") &&
        p.split('\n').exists(l => l.contains("PartitionFilters") && l.contains("collection")), p)
      // row-group-level pruning on the sorted datetime column
      assert(p.split('\n').exists(l => l.contains("PushedFilters") &&
        l.contains("GreaterThanOrEqual(datetime")), p)
      // result equality vs the unmaterialized view
      val expected = Tables.items(s, sf)
        .where(col("collection") === "click")
        .where(col("datetime") >= lit("2024-01-10 00:00:00").cast("timestamp"))
        .select("id").collect().map(_.getString(0)).toSet
      val got = q.select("id").collect().map(_.getString(0)).toSet
      assert(got == expected)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("zRangesSplit (bigmin-style recursion) ≡ enumerate+merge zRanges") {
    import graft.search.StacSearch
    val boxes = Seq(
      (-90.5, -45.25, 90.5, 45.25),
      (-180.0, -90.0, 180.0, 90.0),
      (-10.0, -10.0, 10.0, 10.0),
      (100.0, 20.0, 170.0, 80.0),
      (-170.0, -85.0, -100.0, -30.0))
    boxes.foreach { case (w, s0, e, n) =>
      assert(StacSearch.zRangesSplit(w, s0, e, n) == StacSearch.zRanges(w, s0, e, n),
        s"cover mismatch for bbox ($w,$s0,$e,$n)")
    }
  }

  test("z-sorted layout: OR-of-BETWEENs over merged z-ranges prunes row groups") {
    import graft.search.StacSearch
    val tmp = java.nio.file.Files.createTempDirectory("graft_zlayout").toString
    try {
      val items = Tables.items(s, sf)
      ItemsLayout.materializeZOrdered(items, StacSearch.zCellColumn, tmp)
      val back = ItemsLayout.read(s, tmp)

      val bbox = (-90.5, -45.25, 90.5, 45.25)
      val ranges = StacSearch.zRangesSplit(bbox._1, bbox._2, bbox._3, bbox._4)
      val nCells = ranges.map { case (a, b) => b - a + 1 }.sum
      assert(ranges.length > 1 && ranges.length < nCells,
        s"ranges: ${ranges.length} over $nCells cells")
      val rangePred = ranges.map { case (a, b) => col("zcell").between(a, b) }
        .reduce(_ || _)
      val q = back.where(rangePred)
        .where(col("lon") >= bbox._1 && col("lon") <= bbox._3 &&
          col("lat") >= bbox._2 && col("lat") <= bbox._4)
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // the range predicate reaches parquet as pushed filters on the STORED
      // sorted column → row-group min/max stats prune
      assert(p.split('\n').exists(l => l.contains("PushedFilters") && l.contains("zcell")), p)
      // correctness: z-range prune + exact bbox ≡ plain bbox on the view
      val expected = items
        .where(col("lon") >= bbox._1 && col("lon") <= bbox._3 &&
          col("lat") >= bbox._2 && col("lat") <= bbox._4)
        .select("id").collect().map(_.getString(0)).toSet
      val got = q.select("id").collect().map(_.getString(0)).toSet
      assert(got == expected)
    } finally {
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  /** (kept, total) files of the `geocatalog` scan under `df`, read off
    * the scan's own explain accounting.
    */
  private def footerPruned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("A63 z-sharded catalog search: the gate's own scan SKIPS files at plan time") {
    import graft.search.StacSearch
    val a63 = StacSearch.a63CoveringIndex(s, sf)
    assert(a63.count() > 0, "a63 gate bbox matched nothing — widen it")
    val (kept, total) = footerPruned(a63)
    assert(kept > 0 && kept < total, s"no pruning: $kept of $total files kept")
  }

  test("A64 time-sharded catalog search: the gate's own scan SKIPS files at plan time") {
    import graft.search.StacSearch
    val a64 = StacSearch.a64ManifestDatetime(s, sf)
    assert(a64.count() > 0, "a64 datetime window matched nothing")
    val (kept, total) = footerPruned(a64)
    assert(kept > 0 && kept < total, s"no pruning: $kept of $total files kept")
  }

  test("GeoParquet 1.1: geo footer metadata round-trips, covering column " +
      "matches the WKB-decoded envelope on every row") {
    import graft.core.{GeoParquet, Tables}
    val s = TestSpark.spark
    val file = GeoParquet.stage(s, TestSpark.sf)
    val meta = GeoParquet.readGeoMeta(file)
    // the spec'd fields land exactly where the writer put them
    assert(meta.version == "1.1.0")
    assert(meta.primaryColumn == "geometry")
    assert(meta.encoding == "WKB")
    assert(meta.geometryTypes == Seq("Point", "Polygon"))
    assert(meta.crsAuthority == "OGC" && meta.crsCode == "CRS84")
    assert(meta.covering == Map(
      "xmin" -> Seq("bbox", "xmin"), "ymin" -> Seq("bbox", "ymin"),
      "xmax" -> Seq("bbox", "xmax"), "ymax" -> Seq("bbox", "ymax")))
    // footer bbox = the union of all geometry envelopes (recomputed
    // independently from the covering column by Spark)
    import org.apache.spark.sql.functions._
    val env = s.read.parquet(file)
      .agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
        max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
    assert(meta.bbox == Seq(env.getDouble(0), env.getDouble(1),
      env.getDouble(2), env.getDouble(3)))
    // ingest: every row's WKB-decoded envelope equals its covering cell,
    // and the row count matches the source corpus
    val (df, _) = GeoParquet.ingestItems(s, TestSpark.sf)
    val bad = df.where(col("g_xmin") =!= col("c_xmin") ||
      col("g_ymin") =!= col("c_ymin") || col("g_xmax") =!= col("c_xmax") ||
      col("g_ymax") =!= col("c_ymax")).count()
    assert(bad == 0, s"$bad rows where WKB envelope != covering column")
    assert(df.count() == Tables.items(s, TestSpark.sf).count())
    // a non-GeoParquet file is refused with a clear message
    val e = intercept[IllegalArgumentException](
      GeoParquet.readGeoMeta(s"${TestSpark.sf}/events.parquet"))
    assert(e.getMessage.contains("geo"), e.getMessage)
  }

  test("A82 distributed GeoParquet export: sharded per-collection files, " +
      "each footer's bbox exactly its own rows' envelope union, " +
      "shard union = collection bbox, idempotent re-export") {
    import graft.core.{GeoParquet, Tables}
    import org.apache.spark.sql.functions._
    val s = TestSpark.spark
    // shards=2 exercises the hot-collection valve: every (collection,
    // shard) bucket becomes its own independently-valid GeoParquet file
    val out = GeoParquet.export(s, TestSpark.sf, shards = 2)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    val collections = Tables.items(s, TestSpark.sf)
      .select("collection").distinct()
      .collect().map(_.getString(0)).sorted
    assert(files.toSeq ==
      collections.flatMap(c => Seq(s"$c-0.parquet", s"$c-1.parquet")).toSeq)
    // per-FILE footer bbox == min/max of that file's own covering rows,
    // and the file holds exactly its (collection, shard) slice
    files.foreach { name =>
      val path = s"$out/$name"
      val meta = GeoParquet.readGeoMeta(path)
      assert(meta.version == "1.1.0" && meta.encoding == "WKB")
      val rows = s.read.parquet(path)
      val Array(c, shard) = name.stripSuffix(".parquet").split("-")
      assert(rows.where(col("collection") =!= c ||
        pmod(col("id_num"), lit(2)) =!= shard.toInt).count() == 0)
      val env = rows.agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
        max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
      assert(meta.bbox == Seq(env.getDouble(0), env.getDouble(1),
        env.getDouble(2), env.getDouble(3)),
        s"$name footer bbox drifted from its rows")
    }
    // nothing lost in the shuffle: directory scan == source corpus, and
    // the shard-file footers union to the collection envelope
    val src = Tables.items(s, TestSpark.sf)
    assert(s.read.parquet(out).count() == src.count())
    val byColl = GeoParquet.footerBboxes(out).toSeq
      .groupBy { case (stem, _) => stem.split("-")(0) }
    collections.foreach { c =>
      val parts = byColl(c).map(_._2)
      val want = s.read.parquet(s"$out/$c-0.parquet", s"$out/$c-1.parquet")
        .agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
          max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
      assert(parts.map(_(0)).min == want.getDouble(0) &&
        parts.map(_(1)).min == want.getDouble(1) &&
        parts.map(_(2)).max == want.getDouble(2) &&
        parts.map(_(3)).max == want.getDouble(3))
    }
    // idempotent: a second call sees _SUCCESS and returns without rewrite
    val before = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(GeoParquet.export(s, TestSpark.sf, shards = 2) == out)
    val after = new java.io.File(out).listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "re-export must be a metadata no-op")
  }
}
