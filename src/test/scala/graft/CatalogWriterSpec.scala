package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GeoParquet, Tables}
import graft.search.StacSearch

/** Every GeoParquet writer goes through the one catalog file writer: each
  * file it leaves carries the `geo` and `graft` footer keys, the `geo`
  * bbox is the fold of the file's own `bbox` column, and the `geo` text is
  * the GeoParquet 1.1 document pinned here for the file's CRS.
  *
  * The spec stages into a private `java.io.tmpdir`, so every writer runs
  * rather than serving state an earlier run left behind.
  */
class CatalogWriterSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private val mapper = new ObjectMapper()

  private val tmp = java.nio.file.Files.createTempDirectory("graft_writerspec").toFile
  private var oldTmp: String = _
  override def beforeAll(): Unit = {
    oldTmp = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = tmp.getPath
  }
  override def afterAll(): Unit = {
    sys.props("java.io.tmpdir") = oldTmp
    org.apache.commons.io.FileUtils.deleteQuietly(tmp)
  }

  // the PROJJSON `crs` member per CRS, as the writer emits it
  private val crs84 =
    """{"type":"GeographicCRS","name":"WGS 84 (CRS84)","id":{"authority":"OGC","code":"CRS84"}}"""
  private val utm33n =
    """{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 33N","id":{"authority":"EPSG","code":"32633"}}"""
  private val utm33s =
    """{"type":"ProjectedCRS","name":"WGS 84 / UTM zone 33S","id":{"authority":"EPSG","code":"32733"}}"""
  private val mercator =
    """{"type":"ProjectedCRS","name":"WGS 84 / Pseudo-Mercator","id":{"authority":"EPSG","code":"3857"}}"""

  /** The `geo` footer text for a file in `crs` with file bbox `bbox`. */
  private def geoText(crs: String, bbox: Seq[Double]): String =
    """{"version":"1.1.0","primary_column":"geometry","columns":{"geometry":""" +
      """{"encoding":"WKB","geometry_types":["Point","Polygon"],"crs":""" + crs +
      ""","bbox":[""" + bbox.mkString(",") + """],"covering":{"bbox":""" +
      """{"xmin":["bbox","xmin"],"ymin":["bbox","ymin"],"xmax":["bbox","xmax"],""" +
      """"ymax":["bbox","ymax"]}}}}}"""

  private def footer(file: String): Map[String, String] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      new org.apache.hadoop.conf.Configuration()))
    try reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap
    finally reader.close()
  }

  /** Check one written file and return its `geo` text. */
  private def check(file: String, crs: String): String = {
    val kv = footer(file)
    assert(kv.contains("geo") && kv.contains("graft"), s"$file footer keys: ${kv.keySet}")
    val rows = s.read.parquet(file)
    val f = rows.agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
      max(col("bbox.xmax")), max(col("bbox.ymax")),
      min(col("id_num")), max(col("id_num")), count(lit(1))).head()
    val fold = (0 until 4).map(f.getDouble)
    assert(kv("geo") == geoText(crs, fold), s"$file geo drifted")
    // the sidecar's id_num range is the file's own
    val graft = mapper.readTree(kv("graft"))
    assert(graft.get("id_min").asLong == f.getLong(4) &&
      graft.get("id_max").asLong == f.getLong(5), s"$file graft: $graft")
    assert(f.getLong(6) > 0, s"$file is empty")
    kv("geo")
  }

  private def parquetFiles(dir: String): Seq[String] =
    new File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  test("stage: the CRS84 fixture's footer is the pinned text, with the graft sidecar") {
    val geo = check(GeoParquet.stage(s, sf), crs84)
    assert(geo == geoText(crs84, Seq(-180.42, -90.6, 147.52999999999997, 89.7)))
  }

  test("stageUtm: the 33N and 33S fixtures' footers are the pinned texts, with the graft sidecar") {
    val north = check(GeoParquet.stageUtm(s, sf, zone = 33), utm33n)
    assert(north == geoText(utm33n, Seq(651228.008968306, -6354031.622317954,
      665924.5893978318, -6286806.381987465)))
    val south = check(GeoParquet.stageUtm(s, sf, zone = 33, south = true), utm33s)
    assert(south == geoText(utm33s, Seq(651228.008968306, 3645968.377682046,
      665924.5893978318, 3713193.6180125354)))
  }

  test("stageMercator: the EPSG:3857 fixture's footer is the pinned text, with the graft sidecar") {
    val geo = check(GeoParquet.stageMercator(s, sf), mercator)
    assert(geo == geoText(mercator, Seq(-2.0084262528922416E7, -1.8495425501732815E7,
      1.6422964476731649E7, 1.8295677409824163E7)))
  }

  test("export and compact: every per-collection file carries the CRS84 footers") {
    val out = GeoParquet.export(s, sf, shards = 2)
    val exported = parquetFiles(out)
    assert(exported.nonEmpty)
    exported.foreach(check(_, crs84))
    val compacted = parquetFiles(GeoParquet.compact(s, out, sf, 3, StacSearch.zShard(3), tag = "w"))
    assert(compacted.nonEmpty)
    compacted.foreach(check(_, crs84))
    assert(s.read.parquet(compacted: _*).count() == s.read.parquet(exported: _*).count())
  }

  test("appendBatch and maintainBatch: batch files and generation files carry the CRS84 footers") {
    val dir = new File(tmp, "stream").getPath
    val items = Tables.items(s, sf)
    GeoParquet.appendBatch(items.where(col("id_num") % 2 === 0), dir, 0L)
    GeoParquet.appendBatch(items.where(col("id_num") % 2 === 1), dir, 1L)
    val batches = parquetFiles(dir)
    assert(batches.exists(_.endsWith("-0.parquet")) && batches.exists(_.endsWith("-1.parquet")))
    batches.foreach(check(_, crs84))
    val merged = GeoParquet.maintainBatch(s, dir, 1L, maxSmallFiles = 1)
    assert(merged.nonEmpty && merged.forall(_.endsWith("-g1.parquet")), merged)
    parquetFiles(dir).foreach(check(_, crs84))
    assert(s.read.parquet(parquetFiles(dir): _*).count() == items.count())
  }

  test("the geocatalog write target: append and overwrite files carry the CRS84 footers") {
    val fmt = "graft.sources.GeoCatalogSource"
    val dir = new File(tmp, "dsv2").getPath
    val src = s.read.format(fmt).load(GeoParquet.export(s, sf))
    src.repartition(col("collection")).write.format(fmt).mode("append").save(dir)
    val appended = parquetFiles(dir)
    assert(appended.nonEmpty)
    appended.foreach(check(_, crs84))
    src.where(col("collection") === "click").repartition(1)
      .write.format(fmt).mode("overwrite").save(dir)
    val overwritten = parquetFiles(dir)
    assert(overwritten.size == 1 && !appended.contains(overwritten.head), overwritten)
    overwritten.foreach(check(_, crs84))
  }
}
