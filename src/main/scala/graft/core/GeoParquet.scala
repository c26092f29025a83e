package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupWriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import com.fasterxml.jackson.databind.ObjectMapper

import graft.spatial.{Shape, Wkb}

/** GeoParquet 1.1, the reference's data plane, written and read.
  *
  * The reference's every search is `read_parquet(<geoparquet url>)` over
  * files with a WKB `geometry` column and a `geo` footer metadata key
  * (database_logic.py:171, 401, 441; geoparquet/download_geoparquet.py
  * materializes them).
  *
  * WRITE: one writer, [[CatalogFileWriter]], produces every file of the
  * catalog schema — the single-file fixtures ([[stage]], [[stageUtm]],
  * [[stageMercator]]), the per-collection catalog ([[export]],
  * [[compact]]), streaming ingest ([[appendBatch]], [[maintainBatch]])
  * and the `geocatalog` write target. It renders each catalog-schema
  * `InternalRow` and folds, in the same pass, the two footer keys it
  * writes at close:
  *  - `geo`: version, primary column, WKB encoding, geometry types, the
  *    PROJJSON id of the file's [[Crs]], the exact file bbox and the 1.1
  *    covering block pointing at the `bbox` struct column;
  *  - `graft`: the file's one collection, its datetime extremes, and its
  *    id_num order and range — what the `geocatalog` scan prunes on.
  * Files land under a `.tmp` name; [[publish]] renames them into view.
  *
  * READ: footer first. [[footerInfo]] and [[readGeoMeta]] parse the
  * footers (metadata plane, one open per file); [[ingestFile]] routes the
  * declared primary column through the codegen'd WKB decode, re-projecting
  * UTM and EPSG:3857 geometry to CRS84 on the way.
  */
object GeoParquet {

  /** Parsed `geo` footer metadata (the fields the spec requires plus the
    * 1.1 covering extension).
    */
  final case class GeoMeta(
      version: String,
      primaryColumn: String,
      encoding: String,
      geometryTypes: Seq[String],
      crsAuthority: String,
      crsCode: String,
      bbox: Seq[Double],
      covering: Map[String, Seq[String]])

  /** Datetime extremes folded per file at write (micros, NTZ): the
    * file-level form of the reference's datetime-overlap semantics
    * (database_logic.py:279-312) — a range search [lo, hi] can match a
    * file iff (some datetime row: dtMin <= hi ∧ dtMax >= lo) OR (some
    * interval row: sdMin <= hi ∧ edMax >= lo). A64 proved this rule on a
    * manifest table; here it lives in the files' own footers.
    */
  final case class FooterDt(
      dtMin: Option[Long], dtMax: Option[Long],
      sdMin: Option[Long], edMax: Option[Long],
      hasNullDt: Boolean)

  /** One catalog file's footer-served metadata: the spec'd `geo` bbox +
    * row count, and the engine's `graft` sidecar key — the file's single
    * collection (every writer keys files on (collection, shard)) and its
    * datetime extremes. `collection`/`dt` are None for files written by
    * older layouts — absent metadata can only DISABLE a prune, never
    * lose a row.
    */
  final case class GeoFooter(bbox: Seq[Double], rows: Long,
      collection: Option[String], dt: Option[FooterDt],
      sortedById: Boolean,
      /** Per-file id_num extremes — what lets a consumed KEYSET predicate
        * (`id_num > token`) prune FILES at plan time, so a deep page
        * opens O(page-covering files), never O(files) (r12).
        */
      idRange: Option[(Long, Long)] = None)

  /** The coordinate reference systems graft writes and ingests: OGC:CRS84
    * natively, UTM WGS84 zones (EPSG:326zz/327zz) and EPSG:3857
    * re-projected. Every other CRS is a typed refusal at ingest.
    */
  private[graft] sealed trait Crs
  private[graft] object Crs {
    case object Crs84 extends Crs
    final case class Utm(zone: Int, south: Boolean) extends Crs
    case object PseudoMercator extends Crs
  }

  /** A CRS84 WKB geometry re-expressed in `crs`. */
  private def fromCrs84(crs: Crs, wkb: Array[Byte]): Array[Byte] = crs match {
    case Crs.Crs84 => wkb
    case Crs.Utm(zone, south) => graft.spatial.Utm.wkbFromCrs84(wkb, zone, south)
    case Crs.PseudoMercator => graft.spatial.Mercator3857.wkbFromCrs84(wkb)
  }

  /** Deterministic footprint half-extents — the SAME formula as the
    * items-view envelope columns (StacSearch.envelopeSqlCols), so the
    * oracle can re-derive every envelope WKB-free from (lon, lat,
    * user_id, id_num).
    */
  private def halfW(userId: Long): Double = (userId % 10).toDouble / 10.0 + 0.1
  private def halfH(idNum: Long): Double = (idNum % 7).toDouble / 10.0 + 0.1

  private val mapper = new ObjectMapper()

  /** The `geo` footer JSON (GeoParquet 1.1): primary geometry column in
    * WKB, mixed Point/Polygon types, the PROJJSON id of `crs`, the
    * file-level bbox (in `crs` units), and the covering block pointing
    * at the `bbox` struct column.
    */
  private def geoJson(bbox: (Double, Double, Double, Double), crs: Crs): String = {
    val (kind, name, authority, code) = crs match {
      case Crs.Crs84 => ("GeographicCRS", "WGS 84 (CRS84)", "OGC", "CRS84")
      case Crs.Utm(zone, south) =>
        ("ProjectedCRS", s"WGS 84 / UTM zone $zone${if (south) "S" else "N"}", "EPSG",
          graft.spatial.Utm.epsgOf(zone, south).toString)
      case Crs.PseudoMercator => ("ProjectedCRS", "WGS 84 / Pseudo-Mercator", "EPSG", "3857")
    }
    val root = mapper.createObjectNode()
    root.put("version", "1.1.0")
    root.put("primary_column", "geometry")
    val cols = root.putObject("columns")
    val g = cols.putObject("geometry")
    g.put("encoding", "WKB")
    val types = g.putArray("geometry_types")
    types.add("Point"); types.add("Polygon")
    val crsNode = g.putObject("crs")
    crsNode.put("type", kind)
    crsNode.put("name", name)
    val crsId = crsNode.putObject("id")
    crsId.put("authority", authority); crsId.put("code", code)
    val bb = g.putArray("bbox")
    bb.add(bbox._1); bb.add(bbox._2); bb.add(bbox._3); bb.add(bbox._4)
    val covering = g.putObject("covering")
    val cbb = covering.putObject("bbox")
    Seq("xmin", "ymin", "xmax", "ymax").foreach { f =>
      val arr = cbb.putArray(f); arr.add("bbox"); arr.add(f)
    }
    mapper.writeValueAsString(root)
  }

  private def schema: MessageType = {
    // NTZ micros, matching the fixture corpus's physical convention:
    // DuckDB reads plain TIMESTAMP (naive), Spark reads TIMESTAMP_NTZ
    // which the ingest re-labels under the UTC session zone — both
    // engines see identical naive instants (Tables.events doctrine)
    val ts = LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)
    Types.buildMessage()
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("id")
      .required(INT64).named("id_num")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("collection")
      .optional(INT64).as(ts).named("datetime")
      .optional(INT64).as(ts).named("start_datetime")
      .optional(INT64).as(ts).named("end_datetime")
      .required(DOUBLE).named("value")
      .required(INT64).named("user_id")
      .required(DOUBLE).named("lon")
      .required(DOUBLE).named("lat")
      .requiredGroup()
        .required(DOUBLE).named("xmin")
        .required(DOUBLE).named("ymin")
        .required(DOUBLE).named("xmax")
        .required(DOUBLE).named("ymax")
        .named("bbox")
      .required(BINARY).named("geometry")
      .named("geoparquet_items")
  }

  // ------------------------------------------------------------- writer

  /** Renders catalog-schema rows (the 12 fields of [[schema]], in order;
    * timestamps as micros) into parquet-mr Groups, folding the footer
    * keys as they pass; emits `geo` (in `crs`) and `graft` when
    * parquet-mr closes the file, so the exact file bbox needs no second
    * scan.
    */
  private class GeoWriteSupport(crs: Crs) extends WriteSupport[InternalRow] {
    private val inner = new GroupWriteSupport()
    private val factory = new SimpleGroupFactory(schema)
    private var w = Double.MaxValue; private var s = Double.MaxValue
    private var e = -Double.MaxValue; private var n = -Double.MaxValue
    // `graft` sidecar folds (same single pass as the bbox): the file's
    // one collection and its datetime extremes — the metadata the
    // collection/datetime FILE prune (GeoCatalogSource) reads
    private var coll: UTF8String = null; private var mixed = false
    private var dtMin = Long.MaxValue; private var dtMax = Long.MinValue
    private var sdMin = Long.MaxValue; private var edMax = Long.MinValue
    private var hasNullDt = false
    // detected, not assumed: STRICTLY id_num-ascending files advertise
    // the order so a pushed TopN can early-stop their readers (unsorted
    // DSv2-write input simply doesn't advertise). Strict, not weak:
    // strictness proves id_num unique per file, which is what makes a
    // COMPOUND order with leading id_num early-stoppable (tiebreakers
    // can never fire) — r12, the A92 DESC/multi-key extension
    private var prevId = Long.MinValue; private var sortedById = true
    private var idMin = Long.MaxValue; private var idMax = Long.MinValue
    override def init(conf: org.apache.hadoop.conf.Configuration): WriteSupport.WriteContext = {
      GroupWriteSupport.setSchema(schema, conf)
      inner.init(conf)
    }
    override def prepareForWrite(rc: org.apache.parquet.io.api.RecordConsumer): Unit =
      inner.prepareForWrite(rc)
    override def write(r: InternalRow): Unit = {
      val bb = r.getStruct(10, 4)
      w = math.min(w, bb.getDouble(0)); s = math.min(s, bb.getDouble(1))
      e = math.max(e, bb.getDouble(2)); n = math.max(n, bb.getDouble(3))
      val c = r.getUTF8String(2)
      if (coll == null) coll = c.clone() else if (coll != c) mixed = true
      val idn = r.getLong(1)
      if (idn <= prevId && prevId != Long.MinValue) sortedById = false
      prevId = idn
      if (idn < idMin) idMin = idn
      if (idn > idMax) idMax = idn
      if (!r.isNullAt(3)) {
        val v = r.getLong(3)
        if (v < dtMin) dtMin = v; if (v > dtMax) dtMax = v
      } else hasNullDt = true
      if (!r.isNullAt(4)) sdMin = math.min(sdMin, r.getLong(4))
      if (!r.isNullAt(5)) edMax = math.max(edMax, r.getLong(5))
      inner.write(render(r))
    }
    /** The one row renderer: a catalog-schema row → a Group of [[schema]]. */
    private def render(r: InternalRow): Group = {
      val g = factory.newGroup()
      g.append("id", r.getUTF8String(0).toString)
      g.append("id_num", r.getLong(1))
      g.append("collection", r.getUTF8String(2).toString)
      if (!r.isNullAt(3)) g.append("datetime", r.getLong(3))
      if (!r.isNullAt(4)) g.append("start_datetime", r.getLong(4))
      if (!r.isNullAt(5)) g.append("end_datetime", r.getLong(5))
      g.append("value", r.getDouble(6))
      g.append("user_id", r.getLong(7))
      g.append("lon", r.getDouble(8))
      g.append("lat", r.getDouble(9))
      val b = r.getStruct(10, 4)
      val bb = g.addGroup("bbox")
      bb.append("xmin", b.getDouble(0)); bb.append("ymin", b.getDouble(1))
      bb.append("xmax", b.getDouble(2)); bb.append("ymax", b.getDouble(3))
      g.append("geometry", Binary.fromConstantByteArray(r.getBinary(11)))
      g
    }
    override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
      val graft = mapper.createObjectNode()
      if (coll != null && !mixed) graft.put("collection", coll.toString)
      if (dtMin != Long.MaxValue) { graft.put("dt_min", dtMin); graft.put("dt_max", dtMax) }
      if (sdMin != Long.MaxValue) graft.put("sd_min", sdMin)
      if (edMax != Long.MinValue) graft.put("ed_max", edMax)
      graft.put("has_null_dt", hasNullDt)
      graft.put("sorted_by_id_num", sortedById)
      if (idMin != Long.MaxValue) {
        graft.put("id_min", idMin); graft.put("id_max", idMax)
      }
      val kv = new java.util.HashMap[String, String]()
      kv.put("geo", geoJson((w, s, e, n), crs))
      kv.put("graft", mapper.writeValueAsString(graft))
      new WriteSupport.FinalizedWriteContext(kv)
    }
  }

  private class GeoWriterBuilder(path: Path, crs: Crs)
      extends ParquetWriter.Builder[InternalRow, GeoWriterBuilder](path) {
    override def self(): GeoWriterBuilder = this
    override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration) =
      new GeoWriteSupport(crs)
  }

  /** The one catalog-file writer: a parquet-mr writer over [[schema]]
    * at `tmp`, rows from catalog-schema `InternalRow`s, `geo` (in `crs`)
    * and `graft` footers folded at [[close]]. OVERWRITE: a retried task
    * (a replayed streaming batch, a speculative attempt) rewrites its own
    * tmp file instead of failing. [[publish]] makes the file visible.
    */
  private[graft] final class CatalogFileWriter(val tmp: String, crs: Crs) {
    private val writer = new GeoWriterBuilder(new Path(tmp), crs)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    def write(r: InternalRow): Unit = writer.write(r)
    def close(): Unit = writer.close()
  }

  /** The one publish step: a closed catalog file moves from `tmp` onto
    * `fin` in one atomic rename. A concurrent reader (the D41
    * subscription lists the directory and opens footers between
    * micro-batches) never observes a half-written footer: `.tmp` names
    * don't match the `.parquet` listing filters, and the rename is
    * all-or-nothing. REPLACE_EXISTING keeps a replayed write idempotent.
    */
  private[graft] def publish(tmp: String, fin: String): Unit =
    Files.move(Paths.get(tmp), Paths.get(fin),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)

  /** Write `rows` (the [[catalogRows]] shape, each file's rows
    * contiguous) into `out`, one file per name `fileOf(collection,
    * shard)`: each task streams its rows through one
    * [[CatalogFileWriter]] at a time, publishing a file when the next row
    * names another. The name is asked for only when (collection, shard)
    * changes.
    */
  private def write(rows: DataFrame, out: String, crs: Crs,
                    fileOf: (String, Long) => String): Unit = {
    new java.io.File(out).mkdirs()
    val qe = rows.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("geoparquet write")) {
      qe.toRdd.foreachPartition { (it: Iterator[InternalRow]) =>
        var key: (UTF8String, Long) = null
        var file: String = null
        var writer: CatalogFileWriter = null
        def publishOpen(): Unit = if (writer != null) {
          writer.close()
          publish(writer.tmp, s"$out/$file")
          writer = null
        }
        try {
          it.foreach { r =>
            val c = r.getUTF8String(2)
            val shard = r.getLong(12)
            if (key == null || key._2 != shard || key._1 != c) {
              key = (c.clone(), shard)
              val f = fileOf(c.toString, shard)
              if (f != file) {
                publishOpen()
                file = f
                writer = new CatalogFileWriter(s"$out/$f.tmp", crs)
              }
            }
            writer.write(r)
          }
          publishOpen()
        } finally if (writer != null) writer.close() // error path: leave .tmp
      }
    }
  }

  /** [[write]] into the per-collection catalog: one file per
    * (collection, shard), each id_num-sorted, so it advertises its order
    * to the keyset TopN path.
    */
  private def writeCatalog(rows: DataFrame, out: String,
                           fileOf: (String, Long) => String): Unit =
    write(rows.repartition(col("collection"), col("shard"))
      .sortWithinPartitions(col("collection"), col("shard"), col("id_num")),
      out, Crs.Crs84, fileOf)

  /** The writers' one input shape: the catalog columns in [[schema]]
    * order, then the `shard` that keys the file.
    */
  private def catalogRows(df: DataFrame, shard: Column): DataFrame =
    df.select(col("id"), col("id_num"), col("collection"), col("datetime"),
      col("start_datetime"), col("end_datetime"), col("value"),
      col("user_id"), col("lon"), col("lat"), col("bbox"), col("geometry"),
      shard.cast("long").as("shard"))

  private[core] final case class Bbox(xmin: Double, ymin: Double, xmax: Double, ymax: Double)
  private[core] final case class Geometry(bbox: Bbox, geometry: Array[Byte])

  /** Items-view rows with their catalog `bbox` and `geometry` in `crs`:
    * the [[rowGeom]] shape forward-projected from CRS84, its envelope as
    * the covering bbox.
    */
  private def withGeometry(items: DataFrame, crs: Crs): DataFrame = {
    val geometry = udf { (idNum: Long, userId: Long, lon: Double, lat: Double) =>
      val wkb = fromCrs84(crs, Wkb.encode(rowGeom(idNum, userId, lon, lat)._1))
      val env = Wkb.envelope(wkb)
      Geometry(Bbox(env(0), env(1), env(2), env(3)), wkb)
    }
    items.withColumn("g", geometry(col("id_num"), col("user_id"), col("lon"), col("lat")))
      .withColumn("bbox", col("g.bbox")).withColumn("geometry", col("g.geometry"))
  }

  /** Per-row geometry: even id_num → Point, odd → footprint Polygon, with
    * its envelope (CRS84).
    */
  private[graft] def rowGeom(idNum: Long, userId: Long, lon: Double, lat: Double)
      : (Shape, (Double, Double, Double, Double)) =
    if (idNum % 2 == 0) (Shape.PointS(lon, lat), (lon, lat, lon, lat))
    else {
      val hw = halfW(userId); val hh = halfH(idNum)
      (Shape.PolyS(Array(Array(Array(
        lon - hw, lat - hh, lon + hw, lat - hh,
        lon + hw, lat + hh, lon - hw, lat + hh)))),
        (lon - hw, lat - hh, lon + hw, lat + hh))
    }

  // ------------------------------------------------------------- fixtures

  /** Stage the GeoParquet fixture for a fixture dir: every item, CRS84.
    * Geometry: even id_num → WKB Point(lon, lat); odd → WKB Polygon of
    * the deterministic footprint box (exercising both decode branches).
    * Returns the file path.
    */
  def stage(spark: SparkSession, dir: String): String = synchronized {
    stageFile(spark, dir, "geoparquet", "items.parquet", lit(true), Crs.Crs84)
  }

  /** Stage a PROJECTED GeoParquet file: the fixture items inside `zone`'s
    * 6° band, every geometry vertex FORWARD-projected to UTM metres
    * ([[graft.spatial.Utm.forward]]), covering bbox in metres, PROJJSON
    * EPSG:326zz — the file a real satellite archive hands the engine.
    */
  def stageUtm(spark: SparkSession, dir: String, zone: Int = 33,
               south: Boolean = false): String = synchronized {
    val cm = graft.spatial.Utm.centralMeridian(zone)
    val hemi = if (south) "s" else ""
    // a SOUTH (327zz) file additionally windows to southern latitudes —
    // the false-northing branch a real S-hemisphere archive exercises
    stageFile(spark, dir, s"geoparquet_utm$zone$hemi", s"items_utm$zone$hemi.parquet",
      col("lon") >= cm - 3.0 && col("lon") < cm + 3.0 &&
        (if (south) col("lat") < -1.5 else lit(true)),
      Crs.Utm(zone, south))
  }

  /** Stage an EPSG:3857 GeoParquet file: every fixture item whose
    * geometry fits the projection's ±85.05° validity band (a web-map
    * pipeline clips its sources the same way; polygon half-height is
    * ≤ 1.1°, so |lat| ≤ 83.9 keeps every vertex in band), geometry
    * vertices forward-projected to Pseudo-Mercator metres
    * ([[graft.spatial.Mercator3857.forward]]), covering bbox in metres,
    * PROJJSON EPSG:3857 — the file every web-map tile pipeline hands
    * the engine.
    */
  def stageMercator(spark: SparkSession, dir: String): String = synchronized {
    stageFile(spark, dir, "geoparquet_3857", "items_3857.parquet", abs(col("lat")) <= 83.9,
      Crs.PseudoMercator)
  }

  /** Stage a single-file GeoParquet fixture `file` under the [[Staged]]
    * dir `name`: the items matching `keep`, in id_num order, geometry in
    * `crs`, written by one task through the one writer — so the file
    * carries the `graft` sidecar like every catalog file (its collection
    * is omitted: the file mixes collections). Returns the file path.
    */
  // v2: the fixture gains the `graft` sidecar
  private def stageFile(spark: SparkSession, dir: String, name: String, file: String,
                        keep: Column, crs: Crs): String =
    Staged(name, 2, dir, "events") { p =>
      write(catalogRows(withGeometry(Tables.items(spark, dir).where(keep), crs), lit(0L))
        .repartition(1).sortWithinPartitions(col("id_num")),
        p, crs, (_, _) => file)
      require(new java.io.File(s"$p/$file").exists(), s"no fixture items for $file")
    } + s"/$file"

  // ------------------------------------------------------------- catalog
  // The WRITE side of the reference's data plane: its corpus IS one
  // GeoParquet file per collection (database_logic.py:831-853 plans a
  // per-collection scan; download_geoparquet.py materializes the files).
  // Every catalog writer shuffles once on (collection, shard) and streams
  // each task's sorted runs through the one writer ([[writeCatalog]]);
  // `shards` splits a hot collection across files (the 100 TB valve: one
  // collection never pins one task), and every shard file is
  // independently valid GeoParquet with its own exact footer bbox.

  /** Write the per-collection GeoParquet catalog (the reference's layout)
    * for a fixture dir: one file `<collection>-<shard>.parquet` per
    * (collection, shard). Staged per (fixture, tag, shards); `tag`
    * distinguishes shard strategies ("s" = id-hash, "z" = spatial).
    */
  // layout v4: footers carry the `graft` sidecar (collection + datetime
  // extremes + detected id_num sortedness); v5 (r12): the sidecar also
  // carries per-file id_num extremes
  def export(spark: SparkSession, dir: String, shards: Int = 1,
             shardCol: Option[Column] = None,
             tag: String = "s"): String = synchronized {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    Staged(s"geoparquet_export_$tag$shards", 5, dir, "events") { out =>
      // default shard = id-hash (uniform); a spatial caller passes a
      // z-bucket column instead so each file's footprint (⇒ footer bbox)
      // stays TIGHT and the geocatalog scan prunes files on it
      val sc = shardCol.getOrElse(pmod(col("id_num"), lit(shards.toLong)))
      writeCatalog(catalogRows(withGeometry(Tables.items(spark, dir), Crs.Crs84), sc),
        out, (c, sh) => s"$c-$sh.parquet")
    }
  }

  /** Projection of the catalog schema to the named top-level fields, in
    * schema order (`parquet.read.schema` form) — the DSv2 reader hands
    * this to parquet-mr so unrequested columns are never DECODED (the
    * geometry WKB and id strings dominate decode cost; a COUNT or a
    * narrow projection should not pay them).
    */
  def projectedSchema(names: Seq[String]): org.apache.parquet.schema.MessageType = {
    import scala.jdk.CollectionConverters._
    val keep = names.toSet
    new org.apache.parquet.schema.MessageType(schema.getName,
      schema.getFields.asScala.filter(f => keep(f.getName)).toList.asJava)
  }

  /** STREAMING catalog ingest (D40): land ONE micro-batch of items-shaped
    * rows as per-collection GeoParquet files
    * `<collection>-<batchId>.parquet` through the one writer — every
    * batch file is independently valid GeoParquet 1.1 with an exact
    * footer bbox the moment it closes, so the catalog is queryable (and
    * footer-prunable) mid-stream; [[compact]] later merges the
    * accumulated small batch files into canonical shards (A86's op — the
    * batch/stream pair every file-backed store runs). Batch-id file
    * naming + OVERWRITE writers make foreachBatch retries idempotent (a
    * replayed batch rewrites its own files).
    */
  def appendBatch(batch: DataFrame, outDir: String, batchId: Long): Unit =
    writeCatalog(catalogRows(withGeometry(batch, Crs.Crs84), lit(batchId)),
      outDir, (c, b) => s"$c-$b.parquet")

  /** STREAMING self-maintenance (D42): the foreachBatch companion of
    * [[appendBatch]] — after batch `gen` lands, any collection whose
    * small-file count (batch files + older generation files) exceeds
    * `maxSmallFiles` collapses them into ONE generation file
    * `<collection>-g<gen>.parquet` through the one writer, id_num-sorted
    * so the merged file advertises its order for the keyset TopN path.
    * The ingest stream self-maintains: file count per collection stays
    * ≤ maxSmallFiles + 1 at every batch boundary instead of growing with
    * the stream's lifetime.
    *
    * Crash safety (single writer — the owning foreachBatch):
    *  - the merged file is published (tmp + atomic rename), THEN the
    *    inputs delete: the directory never has a state with rows MISSING.
    *    A reader that lists AND opens inside the rename→delete window can
    *    see a merged row twice; a reader that plans against a listing
    *    and opens later can hit a vanished input (the standard
    *    in-place-compaction caveat of every non-MVCC file store —
    *    snapshot isolation needs a manifest layer, which this catalog
    *    does not have). [[footerInfo]] tolerates the vanish (skips and
    *    re-lists); schedule maintenance in the ingest loop's quiet point
    *    when batch queries run against the live directory;
    *  - a crash between rename and deletes leaves inputs behind — the
    *    RECOVERY SWEEP at the next call removes any file whose id is
    *    ≤ the collection's newest generation id (those rows are in the
    *    generation file by construction: the merge set is everything
    *    present at merge time, and batch ids are unique per checkpoint
    *    with a replayed batch rewriting identical content), so the
    *    sweep is idempotent and duplicates cannot persist.
    * A D41 subscriber treats a generation file as new (file-list
    * offsets): re-delivery after compaction is the documented
    * at-least-once caveat of combining the two — subscribe upstream of
    * maintenance when exactly-once matters.
    */
  def maintainBatch(spark: SparkSession, outDir: String, gen: Long,
                    maxSmallFiles: Int = 4): Seq[String] = {
    // <collection>-<batchId>.parquet | <collection>-g<genId>.parquet
    def parse(n: String): Option[(String, Boolean, Long)] = {
      val stem = n.stripSuffix(".parquet")
      val i = stem.lastIndexOf('-')
      if (!n.endsWith(".parquet") || i <= 0) None
      else {
        val tail = stem.substring(i + 1)
        val isGen = tail.startsWith("g")
        val digits = if (isGen) tail.drop(1) else tail
        if (digits.nonEmpty && digits.forall(_.isDigit))
          Some((stem.substring(0, i), isGen, digits.toLong))
        else None
      }
    }
    def smallFiles(): Map[String, Seq[(java.io.File, Boolean, Long)]] = {
      val fs = new java.io.File(outDir).listFiles()
      if (fs == null) Map.empty
      else fs.toSeq.flatMap(f => parse(f.getName).map {
        case (c, g, id) => (c, (f, g, id)) })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }
    // LINEAGE guard (r11 review finding): the sweep's soundness rests on
    // batch ids increasing monotonically within ONE checkpoint lineage —
    // a stream restarted with a FRESH checkpoint restarts ids at 0, and
    // a sweep that then read "0 ≤ newest generation 7" would delete
    // just-appended rows that are in no generation file. A gen below
    // anything already in the directory is that misuse: refuse TYPED,
    // before any delete.
    val maxExisting = smallFiles().values.flatten.map(_._3).foldLeft(-1L)(math.max)
    require(gen >= maxExisting,
      s"maintainBatch(gen=$gen) is behind the catalog's lineage (newest " +
        s"file id $maxExisting in $outDir): this directory belongs to a " +
        "different checkpoint lineage — resume the original checkpoint or " +
        "ingest into a fresh directory")
    // recovery sweep: anything at or before the newest generation is
    // already inside it
    smallFiles().foreach { case (_, files) =>
      val gens = files.filter(_._2)
      if (gens.nonEmpty) {
        val newest = gens.map(_._3).max
        files.foreach { case (f, isGen, id) =>
          if ((isGen && id < newest) || (!isGen && id <= newest)) f.delete()
        }
      }
    }
    val toMerge = smallFiles().filter(_._2.size > maxSmallFiles)
    if (toMerge.isEmpty) return Seq.empty
    val paths = toMerge.values.flatten.map(_._1.getAbsolutePath).toSeq
    writeCatalog(catalogRows(spark.read.parquet(paths: _*), lit(gen)),
      outDir, (c, g) => s"$c-g$g.parquet")
    // renames are done; now the inputs go
    toMerge.values.flatten.foreach(_._1.delete())
    toMerge.keys.map(c => s"$outDir/$c-g$gen.parquet").toSeq
  }

  /** Catalog COMPACTION (the 100 TB maintenance op — many small shard
    * files merged into few): reads the CATALOG FILES (the source view is
    * never consulted — pure data plane, geometry and bbox pass through
    * untouched), re-shards on the caller's column, re-sorts, and rewrites
    * through the one writer, so every output file's `geo` bbox is exact
    * by construction. Gated with the SOURCE catalog as the oracle side: a
    * compaction that drops, duplicates, or mutates a row is a hash
    * break.
    */
  def compact(spark: SparkSession, inDir: String, dir: String, toShards: Int,
              shardCol: Column,
              tag: String = "c"): String = synchronized {
    Staged(s"geoparquet_export_$tag$toShards", 5, dir, "events") { out =>
      writeCatalog(catalogRows(spark.read.parquet(inDir), shardCol),
        out, (c, sh) => s"$c-$sh.parquet")
    }
  }

  /** Footer `geo` bboxes of every file in an exported directory, keyed by
    * file stem (`<collection>-<shard>`) — metadata-plane only (one footer
    * open per file; file count = collections × shards, never rows).
    * Validates each footer is well-formed GeoParquet 1.1 on the way.
    */
  def footerBboxes(out: String): Map[String, Seq[Double]] =
    footerInfo(out).map { case (k, f) => k -> f.bbox }

  /** Read and parse the `geo` footer metadata — the metadata-plane step
    * a GeoParquet reader performs before planning the scan.
    */
  // constructing a Hadoop Configuration loads and parses the default
  // resources (~10-20 ms); the footer reads only consult it read-only,
  // so one shared instance serves every metadata-plane open
  private lazy val sharedConf = new org.apache.hadoop.conf.Configuration()

  // path → (listing signature, footer info): a catalog query consults the
  // footers several times (file prune, statistics, the explain pass), and
  // the metadata is immutable per file version — the signature (name,
  // length, mtime per file) invalidates on ANY rewrite, so a regenerated
  // or compacted catalog can never serve stale footers. Keyed on the
  // DIRECTORY alone with the signature stored in the value: a streaming
  // append changes the signature every micro-batch, and replacing the
  // entry (instead of keying on the signature) keeps driver memory at
  // O(directories), not O(batches × files).
  private val footerMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, GeoFooter])]()

  /** Parse the optional `graft` sidecar footer key. */
  private def parseGraftMeta(kv: java.util.Map[String, String])
      : (Option[String], Option[FooterDt], Boolean, Option[(Long, Long)]) = {
    val raw = kv.get("graft")
    if (raw == null) return (None, None, false, None)
    val n = mapper.readTree(raw)
    def l(f: String): Option[Long] = Option(n.get(f)).map(_.asLong())
    val dt = FooterDt(l("dt_min"), l("dt_max"), l("sd_min"), l("ed_max"),
      Option(n.get("has_null_dt")).exists(_.asBoolean()))
    val ids = for (lo <- l("id_min"); hi <- l("id_max")) yield (lo, hi)
    (Option(n.get("collection")).map(_.asText()), Some(dt),
      Option(n.get("sorted_by_id_num")).exists(_.asBoolean()), ids)
  }

  /** Per-file (geo bbox, row count) in ONE footer open per file — the
    * metadata-plane read every catalog decision (file prune, count,
    * bound extremes) is served from; the row-group counts live in the
    * same footer as the `geo` key, so splitting them into two passes
    * would double the open cost for nothing. Footers are read in
    * PARALLEL (each open is independent ~ms-scale I/O: sequential cost
    * measured 7.5 ms/file — minutes at a 100k-file catalog) and memoized
    * against the directory listing signature.
    */
  def footerInfo(out: String): Map[String, GeoFooter] = {
    val files = new java.io.File(out).listFiles()
    require(files != null, s"geocatalog path does not exist or is not a directory: $out")
    val parquet = files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val sig = parquet.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    footerMemo.compute(out, (_, prev) => {
      if (prev != null && prev._1 == sig) prev
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val info = Await.result(Future.traverse(parquet.toSeq) { f => Future {
          // a file can vanish between the listing and this open (the
          // maintainBatch rename→delete window): skip it — its rows are
          // in the generation file the NEXT listing serves, and the
          // signature of this listing can never match again anyway
          if (!f.exists()) None
          else {
            val in = HadoopInputFile.fromPath(new Path(f.getAbsolutePath), sharedConf)
            val reader = ParquetFileReader.open(in)
            try {
              val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
              val m = parseGeoMeta(f.getAbsolutePath, kv)
              require(m.version == "1.1.0" && m.primaryColumn == "geometry" &&
                m.encoding == "WKB" && m.bbox.length == 4,
                s"exported footer drifted: ${f.getName} → $m")
              val (coll, dt, sorted, ids) = parseGraftMeta(kv)
              Some(f.getName.stripSuffix(".parquet") ->
                GeoFooter(m.bbox, reader.getRecordCount, coll, dt, sorted, ids))
            } finally reader.close()
          }
        }}, Duration.Inf).flatten.toMap
        (sig, info)
      }
    })._2
  }

  def readGeoMeta(file: String): GeoMeta = {
    val in = HadoopInputFile.fromPath(new Path(file), sharedConf)
    val reader = ParquetFileReader.open(in)
    try parseGeoMeta(file, reader.getFooter.getFileMetaData.getKeyValueMetaData)
    finally reader.close()
  }

  private def parseGeoMeta(
      file: String, kv: java.util.Map[String, String]): GeoMeta = {
    val geo = kv.get("geo")
    require(geo != null, s"$file has no 'geo' footer metadata — not GeoParquet")
    val root = mapper.readTree(geo)
    val primary = root.get("primary_column").asText()
    val gcol = root.get("columns").get(primary)
    val crs = gcol.get("crs")
    import scala.jdk.CollectionConverters._
    val covering = Option(gcol.get("covering")).map { cov =>
      cov.get("bbox").fields().asScala.map { e =>
        e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty)
    GeoMeta(
      version = root.get("version").asText(),
      primaryColumn = primary,
      encoding = gcol.get("encoding").asText(),
      geometryTypes = gcol.get("geometry_types").elements().asScala.map(_.asText()).toSeq,
      crsAuthority = crs.get("id").get("authority").asText(),
      crsCode = crs.get("id").get("code").asText(),
      bbox = gcol.get("bbox").elements().asScala.map(_.asDouble()).toSeq,
      covering = covering)
  }

  /** Ingest the staged GeoParquet file: footer-driven — the geometry
    * column name comes from `primary_column`, the covering columns from
    * the covering block — through the codegen'd WKB decode expressions
    * into the envelope-column form every spatial predicate keys on.
    */
  def ingestItems(spark: SparkSession, dir: String): (DataFrame, GeoMeta) =
    ingestFile(spark, stage(spark, dir))

  /** Ingest ANY staged GeoParquet file, CRS-AWARE (A94 — the r10
    * verdict's last capability edge): OGC:CRS84 passes through;
    * EPSG:326xx/327xx (UTM WGS84) re-projects every geometry vertex to
    * CRS84 inside a codegen'd expression ([[graft.spatial.UtmWkbToCrs84]]
    * — scan parallelism, no driver work) before the A42 decode runs;
    * any OTHER CRS is a TYPED refusal naming the supported set, never a
    * silent planar misread. The covering columns stay in the FILE's CRS
    * (they are the file's own skip-index; the decoded `g_*` envelope is
    * the CRS84 form queries key on).
    */
  def ingestFile(spark: SparkSession, file: String): (DataFrame, GeoMeta) = {
    val meta = readGeoMeta(file)
    require(meta.encoding == "WKB",
      s"unsupported GeoParquet encoding '${meta.encoding}' (only WKB)")
    val raw = col(meta.primaryColumn)
    val geom = ingestCrs(meta) match {
      case Crs.Crs84            => raw
      case Crs.Utm(zone, south) => graft.spatial.UtmWkbToCrs84(raw, zone, south)
      case Crs.PseudoMercator   => graft.spatial.MercatorWkbToCrs84(raw)
    }
    def coveringCol(field: String) =
      col(meta.covering(field).mkString("."))
    val df = spark.read.parquet(file)
      .withColumn("gtype", graft.spatial.WkbType(geom))
      .withColumn("env", graft.spatial.WkbEnvelope(geom))
      .select(col("id"), col("collection"),
        col("datetime").cast("timestamp").as("datetime"),
        col("gtype"),
        col("env").getItem(0).as("g_xmin"), col("env").getItem(1).as("g_ymin"),
        col("env").getItem(2).as("g_xmax"), col("env").getItem(3).as("g_ymax"),
        coveringCol("xmin").as("c_xmin"), coveringCol("ymin").as("c_ymin"),
        coveringCol("xmax").as("c_xmax"), coveringCol("ymax").as("c_ymax"))
    (df, meta)
  }

  /** CRS dispatch for [[ingestFile]]: CRS84 passes through, UTM WGS84
    * and EPSG:3857 re-project at ingest, anything else a typed refusal
    * naming the supported set.
    */
  private[graft] def ingestCrs(meta: GeoMeta): Crs =
    (meta.crsAuthority, meta.crsCode) match {
      case ("OGC", "CRS84") => Crs.Crs84
      case ("EPSG", "3857") => Crs.PseudoMercator
      case ("EPSG", code) if code.forall(_.isDigit) && code.nonEmpty &&
          code.length <= 9 && graft.spatial.Utm.parseEpsg(code.toInt).isDefined =>
        val (zone, south) = graft.spatial.Utm.parseEpsg(code.toInt).get
        Crs.Utm(zone, south)
      case (auth, code) => throw new IllegalArgumentException(
        s"unsupported GeoParquet CRS $auth:$code — supported: OGC:CRS84 " +
          "(native), EPSG:326xx/327xx (UTM WGS84) and EPSG:3857 " +
          "(Pseudo-Mercator), both re-projected at ingest")
    }
}
