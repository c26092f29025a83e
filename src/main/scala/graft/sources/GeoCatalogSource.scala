package graft.sources

import java.util.{Map => JMap, Set => JSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics,
  SupportsPushDownAggregates, SupportsPushDownFilters,
  SupportsPushDownLimit, SupportsPushDownRequiredColumns,
  SupportsReportStatistics}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual,
  LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.GeoParquet

/** `geocatalog` — a DataSource V2 over the exported GeoParquet catalog
  * (core/GeoParquet.export) whose FILE PRUNE runs at PLANNING time from
  * pushed filters: `spark.read.format("geocatalog").load(dir).where(…)`
  * opens only files whose footers can contain a matching row. It is the
  * one place a search over the catalog decides which files it reads. This is the catalog-level analogue of parquet
  * row-group skipping expressed in the engine's own planning: at 100 TB
  * the metadata plane is O(files) and the data plane shrinks to the
  * query's region before the first row is read.
  *
  * Pushdown semantics are CONSERVATIVE and double-checked: a footer bbox
  * [W, S, E, N] folds min(xmin)/min(ymin)/max(xmax)/max(ymax) over the
  * file's rows, so exactly four filter shapes prune —
  * `bbox.xmin <= v` (needs W <= v), `bbox.xmax >= v` (needs E >= v),
  * `bbox.ymin <= v` (needs S <= v), `bbox.ymax >= v` (needs N >= v), in
  * <=/< and >=/> variants. Every filter (pruning or not) is ALSO
  * returned as a post-scan filter, so Spark re-evaluates rows and a
  * too-aggressive prune could only ever lose rows — which the A85-family
  * oracles (full scans) would catch as a hash break, and the footers are
  * written exact. Column pruning maps straight onto the reader: only
  * requested fields are materialized into rows.
  *
  * Reference: this is the engine-native form of the reference's
  * per-collection GeoParquet store (database_logic.py:831-853 plans
  * per-collection scans over downloaded files).
  */
class GeoCatalogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoCatalogSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GeoCatalogTable(properties.get("path"))
}

object GeoCatalogSource {
  /** The export writer's schema (core/GeoParquet.schema) in Spark types —
    * the writer and this source are two views of one fixed layout, so the
    * schema is declared, not inferred per file.
    */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("id_num", LongType, nullable = false),
    StructField("collection", StringType, nullable = false),
    StructField("datetime", TimestampNTZType, nullable = true),
    StructField("start_datetime", TimestampNTZType, nullable = true),
    StructField("end_datetime", TimestampNTZType, nullable = true),
    StructField("value", DoubleType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("bbox", StructType(Seq(
      StructField("xmin", DoubleType, nullable = false),
      StructField("ymin", DoubleType, nullable = false),
      StructField("xmax", DoubleType, nullable = false),
      StructField("ymax", DoubleType, nullable = false))), nullable = false),
    StructField("geometry", BinaryType, nullable = false)))
}

private class GeoCatalogTable(path: String) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null && path.nonEmpty, "geocatalog requires a path")
  override def name(): String = s"geocatalog($path)"
  override def schema(): StructType = GeoCatalogSource.schema
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GeoCatalogScanBuilder(path, Option(options.get("bbox")))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GeoCatalogWriteBuilder(path, info.schema(), info.queryId())
}

// ===================== SupportsWrite: the catalog as a write TARGET ====
// `df.write.format("geocatalog").mode(append|overwrite).save(dir)` (and
// `writeTo` against a registered table) through the one catalog file
// writer the export/compaction/streaming paths use
// (GeoParquet.CatalogFileWriter) — every committed file is independently
// valid GeoParquet 1.1 with an exact `geo` bbox and the `graft`
// collection/datetime sidecar, so A85/A87/A89 pruning works on written
// catalogs unchanged. Tasks write one file per collection seen
// (`<collection>-w<partition>-<job>.parquet`) at a task-unique `.tmp`
// name; the driver commit publishes each one (GeoParquet.publish, after
// clearing the directory under overwrite), aborts delete the tmps — a
// failed or speculative attempt can never surface a half-written footer
// to a concurrent reader.

private class GeoCatalogWriteBuilder(path: String, schema: StructType,
                                     queryId: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val want = GeoCatalogSource.schema
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      want.fields.map(f => (f.name, f.dataType)).toSeq,
      s"geocatalog write requires the catalog schema " +
        s"${want.simpleString} in declared order; got ${schema.simpleString}")
    new GeoCatalogWrite(path, doTruncate, queryId)
  }
}

private class GeoCatalogWrite(path: String, truncate: Boolean, queryId: String)
    extends org.apache.spark.sql.connector.write.Write {
  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
    new GeoCatalogBatchWrite(path, truncate, queryId)
}

private case class GeoCatalogCommitMsg(pairs: Seq[(String, String)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private class GeoCatalogBatchWrite(path: String, truncate: Boolean,
                                   queryId: String)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(path).mkdirs()
    // job token keeps append-mode file names unique across write jobs (a
    // second append must not overwrite the first's files): the FULL
    // queryId rides along, not a 32-bit hash of it — a hash collision
    // between two appends would REPLACE_EXISTING-overwrite the earlier
    // job's rows silently (r11 review finding). Non-alnum characters are
    // stripped for path safety; the leading 'j' keeps the token outside
    // maintainBatch's <coll>-<digits> / <coll>-g<digits> grammar.
    new GeoCatalogWriterFactory(path,
      "j" + queryId.filter(_.isLetterOrDigit))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (truncate) {
      val fs = new java.io.File(path).listFiles()
      if (fs != null) fs.filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    }
    messages.foreach {
      case GeoCatalogCommitMsg(pairs) =>
        pairs.foreach { case (tmp, fin) => GeoParquet.publish(tmp, fin) }
      case _ => ()
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GeoCatalogCommitMsg(pairs) =>
        pairs.foreach { case (tmp, _) => new java.io.File(tmp).delete() }
      case _ => ()
    }
}

private class GeoCatalogWriterFactory(path: String, job: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GeoCatalogDataWriter(path, job, partitionId, taskId)
}

/** One task's writer: one catalog file writer per collection seen
  * (catalog partitionings co-locate collections, so this is near-always
  * one), rows handed over as Spark gives them — the catalog schema is
  * the writer's row shape.
  */
private class GeoCatalogDataWriter(path: String, job: String,
                                   partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val open = scala.collection.mutable.LinkedHashMap.empty[
    String, (GeoParquet.CatalogFileWriter, String)]

  override def write(row: InternalRow): Unit = {
    val coll = row.getUTF8String(2).toString
    val (w, _) = open.getOrElseUpdate(coll, {
      // the collection value becomes part of a file NAME: refuse path
      // separators and control characters outright (typed, at the write
      // boundary) rather than writing outside the catalog directory
      require(coll.nonEmpty && coll.forall(c =>
        c > ' ' && c != '/' && c != '\\' && c != java.io.File.separatorChar),
        s"collection '$coll' cannot name a catalog file " +
          "(empty, path separator, or control character)")
      val fin = s"$path/$coll-w$partitionId-$job.parquet"
      (new GeoParquet.CatalogFileWriter(fin + s".tmp$taskId", GeoParquet.Crs.Crs84), fin)
    })
    w.write(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    GeoCatalogCommitMsg(open.values.map { case (w, fin) => w.close(); (w.tmp, fin) }.toSeq)

  override def abort(): Unit = open.values.foreach { case (w, _) =>
    try w.close() catch { case _: Exception => () }
    new java.io.File(w.tmp).delete()
  }

  override def close(): Unit = ()
}

private class GeoCatalogScanBuilder(path: String, bboxOpt: Option[String])
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  // `option("bbox", "w,s,e,n")` — the STREAMING prune channel: Spark does
  // not push Filters into MicroBatchStream scans, so a region-filtered
  // subscription states its region as a source option (the row-level
  // predicate still belongs in `where`, which Spark evaluates anyway —
  // the option can only SKIP files, never change answers)
  private val optFilters: Array[Filter] = bboxOpt.toArray.flatMap { s0 =>
    val p = s0.split(",").map(_.trim.toDouble)
    require(p.length == 4, s"bbox option must be 'w,s,e,n', got '$s0'")
    Array[Filter](LessThanOrEqual("bbox.xmin", p(2)),
      GreaterThanOrEqual("bbox.xmax", p(0)),
      LessThanOrEqual("bbox.ymin", p(3)),
      GreaterThanOrEqual("bbox.ymax", p(1)))
  }

  private var accepted: Array[Filter] = Array.empty
  private var required: StructType = GeoCatalogSource.schema
  private var aggKinds: Array[String] = Array.empty
  private var rowPreds: Array[GeoCatalogScan.IdNumPred] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(f => GeoCatalogScan.constraintOf(f).isDefined)
    // id_num comparisons (the keyset-page shape, A23: `id_num > last`)
    // are CONSUMED — evaluated inside the readers — so no residual
    // Filter sits between a Sort and the scan and the TopN can push; all
    // other filters stay post-scan (the prune is file-granular)
    val (handled, residual) = filters.partition(GeoCatalogScan.idNumPredOf(_).isDefined)
    rowPreds = handled.flatMap(GeoCatalogScan.idNumPredOf)
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private var limit: Int = Int.MaxValue
  private var topNLimit: Option[(Int, Seq[GeoCatalogScan.TopNKey])] = None
  // file-granular: each surviving file still reads whole, Spark applies
  // the exact limit above — but readers stop emitting at the bound, so a
  // catalog peek (`LIMIT 5`) opens one file and decodes 5 rows
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY <keys> LIMIT k — pushable for ANY order over plain
    * top-level scalar columns (r12; A92 pushed only `id_num ASC`):
    *
    *  - leading key `id_num ASC` on a file advertised STRICTLY sorted:
    *    its first k matching rows are its top-k under any compound order
    *    (strictness ⇒ id_num unique per file ⇒ tiebreakers never fire)
    *    — readers EARLY-STOP the decode (A92's path, now compound-safe);
    *  - leading key `id_num DESC` on a sorted file: the LAST k matching
    *    rows — readers keep a k-row tail ring while streaming (decode is
    *    O(file), emission O(k));
    *  - anything else (the A71 `value DESC, id ASC` page shape): readers
    *    keep a k-row bounded selection heap under the EXACT pushed
    *    ordering — per file, only the k best candidate rows reach Spark,
    *    and TakeOrderedAndProject merges the per-file heads. At catalog
    *    scale this bounds rows-to-Spark at k·files instead of the whole
    *    catalog; a superset per file is always safe under partial push.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case n: NamedReference if n.fieldNames.length == 1 =>
          GeoCatalogSource.schema.fields.find(_.name == n.fieldNames()(0))
            .filter(f => f.dataType match {
              case _: StructType => false
              case org.apache.spark.sql.types.BinaryType => false
              case _ => true
            })
            .map(f => GeoCatalogScan.TopNKey(f.name,
              o.direction() == SortDirection.ASCENDING,
              o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.nonEmpty && keys.forall(_.isDefined)) {
      topNLimit = Some((l, keys.map(_.get))); true
    } else false
  }

  /** Aggregates the FOOTERS can answer exactly, data plane untouched:
    * COUNT(*) (row-group record counts), and the four bound extremes a
    * `geo` bbox carries — MIN(bbox.xmin), MIN(bbox.ymin), MAX(bbox.xmax),
    * MAX(bbox.ymax) are precisely the folds the writer performed per
    * file, so the global answer is the same fold over footers. Anything
    * else (a MIN of a max-bound, a grouped count…) is refused and runs
    * as a normal scan. Spark offers the pushdown only when no post-scan
    * filters remain, which for this source means an UNFILTERED catalog —
    * the "how big is it / what does it cover" metadata queries.
    */
  private def kindsOf(agg: Aggregation): Option[Array[String]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    def boundOf(e: org.apache.spark.sql.connector.expressions.Expression,
                isMin: Boolean): Option[String] = e match {
      case n: NamedReference => (n.fieldNames.toSeq, isMin) match {
        case (Seq("bbox", "xmin"), true) => Some("min:0")
        case (Seq("bbox", "ymin"), true) => Some("min:1")
        case (Seq("bbox", "xmax"), false) => Some("max:2")
        case (Seq("bbox", "ymax"), false) => Some("max:3")
        case _ => None
      }
      case _ => None
    }
    val ks = agg.aggregateExpressions.map {
      case _: CountStar => Some("count")
      case m: Min => boundOf(m.column, isMin = true)
      case m: Max => boundOf(m.column, isMin = false)
      case _ => None
    }
    if (ks.forall(_.isDefined)) Some(ks.map(_.get)) else None
  }

  // CONSUMED id_num predicates make footer aggregates WRONG, not just
  // refused: Spark offers the pushdown when no post-scan filters remain,
  // and consuming a keyset `where` empties the residual — so an
  // id_num-filtered COUNT would be answered from UNFILTERED footer
  // totals. Any consumed predicate therefore vetoes the aggregate path
  // (r11 review finding; spec pins the filtered count).
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    rowPreds.isEmpty && kindsOf(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    if (rowPreds.nonEmpty) false
    else kindsOf(agg) match {
      case Some(ks) => aggKinds = ks; true
      case None => false
    }

  override def build(): Scan =
    if (aggKinds.nonEmpty) new GeoCatalogAggScan(path, aggKinds)
    else new GeoCatalogScan(path, accepted ++ optFilters, required, limit,
      rowPreds, topNLimit)
}

/** Footer-served aggregate scan: the answer row is computed at PLANNING
  * time from the catalog's parquet footers (record counts + `geo`
  * bboxes) — zero data pages read, one input partition carrying the
  * finished values.
  */
private class GeoCatalogAggScan(path: String, kinds: Array[String])
    extends Scan with Batch {

  override def readSchema(): StructType = StructType(kinds.zipWithIndex.map {
    case ("count", i) => StructField(s"agg_$i", LongType, nullable = false)
    case (_, i) => StructField(s"agg_$i", DoubleType, nullable = true)
  })

  override def toBatch: Batch = this

  private lazy val values: Array[Any] = {
    val info = GeoParquet.footerInfo(path).values.toSeq // ONE open per file
    kinds.map {
      case "count" => info.map(_.rows).sum: Any
      case k =>
        if (info.isEmpty) null
        else {
          val idx = k.split(':')(1).toInt
          val vals = info.map(_.bbox(idx))
          if (k.startsWith("min")) vals.min else vals.max
        }
    }
  }

  override def description(): String =
    s"geocatalog $path aggregates served from footers [${kinds.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GeoCatalogAggPartition(values))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val row = p.asInstanceOf[GeoCatalogAggPartition].values
          private var served = false
          override def next(): Boolean = { val r = !served; served = true; r }
          override def get(): InternalRow = new GenericInternalRow(row)
          override def close(): Unit = ()
        }
    }
}

private case class GeoCatalogAggPartition(values: Array[Any])
    extends InputPartition

/** Surviving files pack into byte-bounded partitions (see
  * [[GeoCatalogPartition]]); the footer prune happens HERE, at plan time
  * — `description()` records files kept/total so the decision is
  * visible in `explain`.
  */
private class GeoCatalogScan(path: String, pushed: Array[Filter],
                             required: StructType, limit: Int = Int.MaxValue,
                             rowPreds: Array[GeoCatalogScan.IdNumPred] = Array.empty,
                             topN: Option[(Int, Seq[GeoCatalogScan.TopNKey])] = None)
    extends Scan with Batch with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // RUNTIME file pruning (A93) — Spark's DSv2 dynamic-partition-pruning
  // contract, with the FILE as the partition: when the catalog joins a
  // dimension on `collection`, the broadcast side's keys arrive here as
  // an In filter at execution time and prune files on the same sidecar
  // constraint the static path uses (missing metadata answers true —
  // a runtime filter can only SKIP, never lose, and every filter still
  // re-evaluates post-scan). filterAttributes advertises only columns
  // the footers can actually answer.
  @volatile private var runtimeCs: Array[GeoParquet.GeoFooter => Boolean] =
    Array.empty
  // only advertise columns present in this scan's (pruned) output —
  // PartitionPruning resolves the refs against the scan output and a
  // projected-away column is an analysis error, not a skipped prune
  override def filterAttributes(): Array[NamedReference] =
    if (required.fieldNames.contains("collection"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("collection"))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit =
    runtimeCs = filters.flatMap(GeoCatalogScan.constraintOf)

  // (file path, footer) of every file the plan reads, off ONE listing:
  // statistics and the runtime filter read the footers kept here
  private lazy val (kept, total) = {
    val footers = GeoParquet.footerInfo(path).toSeq.sortBy(_._1)
    val cs = pushed.flatMap(GeoCatalogScan.constraintOf)
    val surviving = footers.filter { case (_, g) => GeoCatalogScan.admits(g, cs, rowPreds) }
    val ordered = GeoCatalogScan.orderPrune(surviving, rowPreds, topN, limit)
    // LIMIT-only cut: a bare `LIMIT k` (no order, no filters of any
    // kind — a pushed filter or consumed predicate means footer rows
    // are not guaranteed to survive) is satisfied by ANY k rows, so the
    // plan keeps files in listing order only until their exact footer
    // row counts cover the bound — a catalog peek schedules one or two
    // files, not every file's open
    val limited =
      if (topN.nonEmpty || rowPreds.nonEmpty || pushed.nonEmpty ||
          limit == Int.MaxValue) ordered
      else {
        var cum = 0L
        ordered.takeWhile { case (_, g) =>
          val need = cum < limit; cum += g.rows; need
        }
      }
    (limited.map { case (name, g) => (s"$path/$name.parquet", g) }, footers.size)
  }

  /** Post-prune statistics off the footers (record counts) and the
    * filesystem (byte sizes) — what lets Catalyst make a correct
    * broadcast call when the (pruned) catalog joins something bigger;
    * an un-stated DSv2 defaults to "unknown = huge" and never
    * broadcasts.
    */
  override def estimateStatistics(): Statistics = {
    val rows = kept.map(_._2.rows).sum
    val bytes = kept.map { case (f, _) => new java.io.File(f).length() }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def description(): String =
    s"geocatalog $path footer-pruned files ${kept.size}/$total, " +
      s"pushed [${pushed.mkString(", ")}]" +
      (if (rowPreds.nonEmpty) s", consumed [${rowPreds.mkString(", ")}]" else "") +
      (if (limit != Int.MaxValue) s", limit $limit" else "") +
      topN.map { case (k, keys) =>
        s", topN ${keys.map(_.render).mkString(", ")} $k"
      }.getOrElse("")

  // Spark's native file-source split coalescing, applied to whole files
  // (catalog files are small by construction — streaming batches and
  // shards): target = max(openCost, min(maxPartitionBytes,
  // total/defaultParallelism)), greedy fill in name order. 12.5k tiny
  // files collapse from 12.5k tasks to ~cores tasks; a catalog of
  // genuinely large files degenerates to one file per pack, exactly the
  // previous plan.
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val live = kept.filter { case (_, g) => GeoCatalogScan.admits(g, runtimeCs, Array.empty) }
    val sized = live.map { case (f, g) =>
      (f, g.sortedById, new java.io.File(f).length() + openCost) }
    val minParts = math.max(1, org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism)
    val target = math.max(openCost,
      math.min(conf.filesMaxPartitionBytes, sized.map(_._3).sum / minParts))
    val packs = Seq.newBuilder[InputPartition]
    var run = List.empty[(String, Boolean)]
    var bytes = 0L
    sized.foreach { case (f, sorted, b) =>
      if (run.nonEmpty && bytes + b > target) {
        packs += GeoCatalogPartition(run.reverse); run = Nil; bytes = 0L
      }
      run = (f, sorted) :: run; bytes += b
    }
    if (run.nonEmpty) packs += GeoCatalogPartition(run.reverse)
    packs.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoCatalogReaderFactory(required, limit, rowPreds, topN)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GeoCatalogMicroBatchStream(path, required, pushed)
}

/** SUBSCRIBE to the catalog: the streaming READ twin of the D40 streaming
  * ingest — each micro-batch serves exactly the catalog files that
  * appeared since the last offset (files are immutable once written, so
  * a file IS an exactly-once unit; a D40 retry rewrites the same name
  * and is by construction the same rows). The offset is the sorted file
  * list — O(files) JSON, restart-safe: a recovered query replays from
  * the checkpointed list. Pushed bbox filters prune NEW files on their
  * footers per batch — a region-filtered subscription never decodes a
  * file whose footprint can't match (every filter still re-evaluates
  * post-scan, so the prune can only skip, never lose). The "new items
  * in my region" feed every live STAC store serves, expressed as a
  * Structured Streaming source over the store's own files.
  */
private class GeoCatalogMicroBatchStream(path: String, required: StructType,
                                         pushed: Array[Filter])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val constraints = pushed.flatMap(GeoCatalogScan.constraintOf)

  private def listing(): Seq[String] = {
    val fs = new java.io.File(path).listFiles()
    if (fs == null) Seq.empty
    else fs.map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
  }

  override def initialOffset(): Offset = GeoCatalogOffset(Seq.empty)
  override def latestOffset(): Offset = GeoCatalogOffset(listing())
  override def deserializeOffset(json: String): Offset =
    GeoCatalogOffset(GeoCatalogOffset.parse(json))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val seen = start.asInstanceOf[GeoCatalogOffset].files.toSet
    val fresh = end.asInstanceOf[GeoCatalogOffset].files.filterNot(seen)
    val kept =
      if (constraints.isEmpty) fresh
      else {
        val footers = GeoParquet.footerInfo(path)
        fresh.filter { f =>
          footers.get(f.stripSuffix(".parquet"))
            .forall(GeoCatalogScan.admits(_, constraints, Array.empty))
        }
      }
    kept.map(f => GeoCatalogPartition(Seq(s"$path/$f" -> false))
      : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GeoCatalogReaderFactory(required)
}

/** The sorted file list as a JSON array — newline/quote-free by
  * construction (writer-controlled `<collection>-<shard>.parquet` names),
  * escaped anyway for safety.
  */
private case class GeoCatalogOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

private object GeoCatalogOffset {
  def parse(json: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    (0 until node.size()).map(i => node.get(i).asText())
  }
}

private object GeoCatalogScan {
  import GeoParquet.GeoFooter

  /** One pushed TopN ordering key: column name, polarity, null placement
    * (Spark's SortOrder rendered storage-side).
    */
  final case class TopNKey(name: String, asc: Boolean, nullsFirst: Boolean)
      extends Serializable {
    def render: String = s"$name ${if (asc) "ASC" else "DESC"}"
  }

  /** ORDER-prune (r12): under a pushed TopN whose LEADING key is id_num,
    * the sidecar id ranges admit a plan-time cut — a file F can never
    * reach the global top-k if the files lying WHOLLY before it in key
    * order (ASC: hi < F.lo; DESC: lo > F.hi) already GUARANTEE k
    * matching rows, where a file whose entire range satisfies every
    * consumed predicate contributes its exact footer row count. A deep
    * keyset page on an id-sharded catalog then opens O(files covering k
    * rows) instead of every file above the token; interleaved
    * per-collection shard chains prune independently through the same
    * prefix. Conservative by construction: a file without extremes is
    * never pruned and never contributes to the guarantee; over-lapping
    * ranges only weaken the prefix, never the answer.
    */
  def orderPrune(files: Seq[(String, GeoParquet.GeoFooter)],
                 preds: Array[IdNumPred],
                 topN: Option[(Int, Seq[TopNKey])],
                 limit: Int): Seq[(String, GeoParquet.GeoFooter)] = {
    val (k, asc) = topN match {
      case Some((n, keys)) if keys.head.name == "id_num" =>
        (math.min(n, limit).toLong, keys.head.asc)
      case _ => return files
    }
    // qualified contributors: full range matches every consumed pred
    val qualified = files.flatMap { case (_, g) =>
      g.idRange.collect {
        case (lo, hi) if preds.forall(_.matchesAll(lo, hi)) => (lo, hi, g.rows)
      }
    }
    if (qualified.isEmpty) return files
    // prefix of guaranteed rows by key position: ASC keyed on hi
    // (ascending), DESC keyed on lo (descending)
    val keyed = (if (asc) qualified.map(q => (q._2, q._3))
                 else qualified.map(q => (-q._1, q._3))).sortBy(_._1)
    val keys = keyed.map(_._1).toArray
    val prefix = keyed.scanLeft(0L)(_ + _._2).tail.toArray
    def guaranteedBefore(bound: Long): Long = {
      // rows in qualified files with key strictly below `bound`
      var lo = 0; var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (keys(mid) < bound) lo = mid + 1 else hi = mid
      }
      if (lo == 0) 0L else prefix(lo - 1)
    }
    files.filter { case (_, g) =>
      g.idRange match {
        case None => true
        case Some((lo, hi)) =>
          guaranteedBefore(if (asc) lo else -hi) < k
      }
    }
  }

  /** A consumed row predicate over id_num — the readers are its ONLY
    * evaluator (no residual Filter), which is what lets a Sort push past
    * a keyset `where`.
    */
  final case class IdNumPred(op: String, v: Long) extends Serializable {
    def matches(x: Long): Boolean = op match {
      case ">"  => x > v
      case ">=" => x >= v
      case "<"  => x < v
      case "<=" => x <= v
      case "="  => x == v
      case _    => true // IsNotNull on a non-nullable column
    }

    /** Can ANY id_num in the file's [lo, hi] extremes match? The footer
      * form of [[matches]] — used to prune FILES under a keyset page.
      */
    def canMatchIn(lo: Long, hi: Long): Boolean = op match {
      case ">"  => hi > v
      case ">=" => hi >= v
      case "<"  => lo < v
      case "<=" => lo <= v
      case "="  => lo <= v && v <= hi
      case _    => true
    }

    /** Does EVERY id_num in [lo, hi] match? The lower-bound form the
      * order-prune walk needs (a file wholly above the token contributes
      * its full row count toward the top-k guarantee).
      */
    def matchesAll(lo: Long, hi: Long): Boolean = op match {
      case ">"  => lo > v
      case ">=" => lo >= v
      case "<"  => hi < v
      case "<=" => hi <= v
      case "="  => lo == v && hi == v
      case _    => true
    }
    override def toString: String = s"id_num $op $v"
  }

  /** Can file `g` hold a row that passes every footer constraint `cs`
    * and every consumed id_num predicate? The sidecar's id_num extremes
    * answer the predicates (r12); a file without them (an older layout)
    * survives — absent metadata can only DISABLE a prune, never lose a
    * row.
    */
  def admits(g: GeoFooter, cs: Array[GeoFooter => Boolean], preds: Array[IdNumPred]): Boolean =
    cs.forall(_(g)) &&
      preds.forall(p => g.idRange.forall { case (lo, hi) => p.canMatchIn(lo, hi) })

  /** Translate a filter into a consumed id_num predicate (None = leave
    * it residual).
    */
  def idNumPredOf(f: Filter): Option[IdNumPred] = f match {
    case GreaterThan("id_num", v: Long) => Some(IdNumPred(">", v))
    case GreaterThanOrEqual("id_num", v: Long) => Some(IdNumPred(">=", v))
    case LessThan("id_num", v: Long) => Some(IdNumPred("<", v))
    case LessThanOrEqual("id_num", v: Long) => Some(IdNumPred("<=", v))
    case org.apache.spark.sql.sources.EqualTo("id_num", v: Long) =>
      Some(IdNumPred("=", v))
    case org.apache.spark.sql.sources.IsNotNull("id_num") =>
      Some(IdNumPred("notnull", 0L))
    case _ => None
  }

  /** Timestamp filter values arrive as the type Spark binds to
    * TIMESTAMP_NTZ columns (java.time.LocalDateTime) — fold to the
    * footer's naive micros.
    */
  private def micros(v: Any): Option[Long] = v match {
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case _ => None
  }

  /** The file-level constraint a pushed filter implies, as a predicate
    * over the file's footer metadata — None = not prunable. Soundness
    * rule throughout: the constraint must be TRUE whenever any file row
    * could satisfy the filter; missing metadata (an older file's footer)
    * therefore always answers true.
    *
    *  - bbox bounds: footer extremes are attained by real rows, so
    *    `xmin < v` admits a file iff W < v, etc.
    *  - collection =/IN: each writer keys files on (collection, shard),
    *    so the footer carries the file's one collection.
    *  - datetime bounds / IsNull / IsNotNull: the folded extremes — the
    *    leaf `datetime >= v` is row-false on NULL rows, so the file
    *    needs a non-null datetime reaching the bound; start/end bounds
    *    fold over their non-null rows.
    *  - And prunes on whichever conjuncts translate (a necessary
    *    condition stays necessary); Or needs BOTH branches translated
    *    (an unknown branch could match anything). This is exactly what
    *    the reference's datetime-overlap disjunction compiles to, so a
    *    full `collection IN … AND (datetime range OR interval overlap)`
    *    search prunes at file granularity.
    */
  def constraintOf(f: Filter): Option[GeoFooter => Boolean] = f match {
    case org.apache.spark.sql.sources.And(a, b) =>
      (constraintOf(a), constraintOf(b)) match {
        case (Some(ca), Some(cb)) => Some(g => ca(g) && cb(g))
        case (one, other)         => one.orElse(other)
      }
    case org.apache.spark.sql.sources.Or(a, b) =>
      for (ca <- constraintOf(a); cb <- constraintOf(b))
        yield (g: GeoFooter) => ca(g) || cb(g)
    case LessThanOrEqual("bbox.xmin", v: Double) => Some(g => g.bbox(0) <= v)
    case LessThan("bbox.xmin", v: Double) => Some(g => g.bbox(0) < v)
    case GreaterThanOrEqual("bbox.xmax", v: Double) => Some(g => g.bbox(2) >= v)
    case GreaterThan("bbox.xmax", v: Double) => Some(g => g.bbox(2) > v)
    case LessThanOrEqual("bbox.ymin", v: Double) => Some(g => g.bbox(1) <= v)
    case LessThan("bbox.ymin", v: Double) => Some(g => g.bbox(1) < v)
    case GreaterThanOrEqual("bbox.ymax", v: Double) => Some(g => g.bbox(3) >= v)
    case GreaterThan("bbox.ymax", v: Double) => Some(g => g.bbox(3) > v)
    case org.apache.spark.sql.sources.EqualTo("collection", v: String) =>
      Some(g => g.collection.forall(_ == v))
    case org.apache.spark.sql.sources.In("collection", vs) =>
      val set = vs.collect { case s: String => s }.toSet
      Some(g => g.collection.forall(set.contains))
    case org.apache.spark.sql.sources.IsNull("datetime") =>
      Some(g => g.dt.forall(_.hasNullDt))
    case org.apache.spark.sql.sources.IsNotNull("datetime") =>
      Some(g => g.dt.forall(_.dtMin.isDefined))
    // inner `exists`: a file whose footer says "no non-null value at
    // all" (None extreme) can never satisfy the row predicate — prune it
    case GreaterThanOrEqual("datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.dtMax.exists(_ >= m)))
    case GreaterThan("datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.dtMax.exists(_ > m)))
    case LessThanOrEqual("datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.dtMin.exists(_ <= m)))
    case LessThan("datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.dtMin.exists(_ < m)))
    case LessThanOrEqual("start_datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.sdMin.exists(_ <= m)))
    case LessThan("start_datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.sdMin.exists(_ < m)))
    case GreaterThanOrEqual("end_datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.edMax.exists(_ >= m)))
    case GreaterThan("end_datetime", v) =>
      micros(v).map(m => g => g.dt.forall(_.edMax.exists(_ > m)))
    case _ => None
  }
}

/** A PACK of catalog files served by one task. At 10⁴–10⁶ tiny files
  * (the streaming-ingest-before-compaction shape) one-task-per-file pays
  * the per-task scheduling floor thousands of times over (measured:
  * 18.9 s to count 12.5k tiny files at ~1.5 ms/task); packing by bytes
  * restores Spark's native split-coalescing economics while each file
  * keeps its own reader (so per-file early-stop bounds are unchanged).
  */
private case class GeoCatalogPartition(files: Seq[(String, Boolean)])
    extends InputPartition

private class GeoCatalogReaderFactory(required: StructType,
    limit: Int = Int.MaxValue,
    preds: Array[GeoCatalogScan.IdNumPred] = Array.empty,
    topN: Option[(Int, Seq[GeoCatalogScan.TopNKey])] = None)
    extends PartitionReaderFactory {

  /** Ordering-key field positions in the scan output; None when a key
    * column is not in the projection (cannot happen for a Spark-pushed
    * TopN — the global merge above needs the keys — but an unresolvable
    * push degrades to emit-all, never to a wrong answer).
    */
  private def keyIdx: Option[Seq[(Int, GeoCatalogScan.TopNKey)]] =
    topN.flatMap { case (_, keys) =>
      val idx = keys.map(k => required.fieldNames.indexOf(k.name) -> k)
      if (idx.forall(_._1 >= 0)) Some(idx) else None
    }

  /** The EXACT pushed ordering over output rows (typed per field; null
    * placement per key) — what the per-file selection heap ranks by.
    */
  private def comparatorOf(
      idx: Seq[(Int, GeoCatalogScan.TopNKey)]): java.util.Comparator[InternalRow] =
    new java.util.Comparator[InternalRow] with Serializable {
      override def compare(a: InternalRow, b: InternalRow): Int = {
        var j = 0
        while (j < idx.length) {
          val (i, k) = idx(j)
          val an = a.isNullAt(i); val bn = b.isNullAt(i)
          val c =
            if (an && bn) 0
            else if (an) { if (k.nullsFirst) -1 else 1 }
            else if (bn) { if (k.nullsFirst) 1 else -1 }
            else {
              val raw = required.fields(i).dataType match {
                case StringType => a.getUTF8String(i).compareTo(b.getUTF8String(i))
                case LongType | TimestampNTZType =>
                  java.lang.Long.compare(a.getLong(i), b.getLong(i))
                case DoubleType =>
                  // Spark's sort semantics (SQLOrderingUtil): ±0.0 EQUAL
                  // (so ties fall through to the next key, matching the
                  // global TakeOrdered), NaN greatest — plain
                  // Double.compare ranks -0.0 < 0.0 and could evict the
                  // row the global sort would return
                  org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                    .compareDoubles(a.getDouble(i), b.getDouble(i))
                case other => throw new IllegalStateException(
                  s"unorderable TopN key type $other")
              }
              if (k.asc) raw else -raw
            }
          if (c != 0) return c
          j += 1
        }
        0
      }
    }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GeoCatalogPartition]
    // per-TASK Configuration copy: the copy constructor clones props
    // without the 13 ms default-XML parse, and a task-private instance
    // keeps 32 concurrent readers off the shared instance's
    // synchronized getProps
    val conf = new Configuration(GeoCatalogReader.conf)
    val idxOpt = keyIdx

    // Candidate rows of ONE file under the pushed bounds. The bound
    // applies PER FILE: files in a pack are independent runs, each
    // contributes its own k candidates to the TakeOrdered merge above.
    val liveReaders = new java.util.ArrayList[GeoCatalogReader]()
    def fileRows(f: String, sorted: Boolean): Iterator[InternalRow] = {
      def streaming(stop: Int): Iterator[InternalRow] = {
        val r = new GeoCatalogReader(f, required, stop, preds, conf)
        liveReaders.add(r)
        new Iterator[InternalRow] {
          private var done = false
          private var ready = false
          override def hasNext: Boolean = {
            if (done) return false
            if (!ready) {
              ready = r.next()
              if (!ready) { r.close(); liveReaders.remove(r); done = true }
            }
            ready
          }
          override def next(): InternalRow = { ready = false; r.get() }
        }
      }
      (topN, idxOpt) match {
        case (Some((k, keys)), Some(idx)) =>
          val stop = math.min(limit, k)
          if (sorted && keys.head.name == "id_num" && keys.head.asc)
            // strictly id_num-sorted file, leading ASC key: first k
            // matches ARE its top-k (strictness ⇒ unique ⇒ compound
            // tiebreakers never fire) — EARLY-STOP the decode
            streaming(stop)
          else if (sorted && keys.head.name == "id_num" && !keys.head.asc) {
            // leading DESC key on a sorted file: the LAST k matches —
            // tail ring while streaming (decode O(file), emission O(k))
            val ring = new java.util.ArrayDeque[InternalRow](stop + 1)
            streaming(limit).foreach { row =>
              ring.addLast(row.copy())
              if (ring.size > stop) ring.removeFirst()
            }
            GeoCatalogMetrics.topNEmitted.addAndGet(ring.size.toLong)
            scala.jdk.CollectionConverters.IteratorHasAsScala(ring.iterator).asScala
          } else {
            // general order (the A71 value DESC, id ASC shape): bounded
            // selection heap under the EXACT pushed ordering — only the
            // k best candidate rows of this file reach Spark
            val cmp = comparatorOf(idx)
            val worstFirst = new java.util.PriorityQueue[InternalRow](
              stop + 1, cmp.reversed())
            streaming(limit).foreach { row =>
              // copy only rows that can actually enter the k-set — on
              // the per-row hot path most rows lose to the current
              // worst and need no allocation
              if (worstFirst.size < stop ||
                  cmp.compare(row, worstFirst.peek()) < 0) {
                worstFirst.offer(row.copy())
                if (worstFirst.size > stop) worstFirst.poll()
              }
            }
            GeoCatalogMetrics.topNEmitted.addAndGet(worstFirst.size.toLong)
            scala.jdk.CollectionConverters.IteratorHasAsScala(
              worstFirst.iterator).asScala
          }
        case _ =>
          // LIMIT-only (or unresolvable keys): sorted and unsorted files
          // alike stop emitting at the limit bound
          streaming(limit)
      }
    }

    val rows = part.files.iterator.flatMap { case (f, sorted) => fileRows(f, sorted) }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (!rows.hasNext) return false
        cur = rows.next(); true
      }
      override def get(): InternalRow = cur
      override def close(): Unit = {
        // a consumer stopping mid-stream leaves the current streaming
        // reader open — close whatever is still live
        scala.jdk.CollectionConverters.ListHasAsScala(liveReaders).asScala
          .foreach(r => try r.close() catch { case _: Exception => () })
        liveReaders.clear()
      }
    }
  }
}

/** Row reader over one catalog file via parquet-mr's example Group API —
  * the catalog's files are the engine's OWN export (fixed schema), so a
  * simple record reader suffices; only the fields the scan requires are
  * materialized.
  */
private object GeoCatalogReader {
  /** One Hadoop Configuration per executor JVM: `new Configuration()`
    * parses the default XMLs under class-wide locks — measured 13 ms per
    * instantiation, which WAS the per-file floor of a tiny-file catalog
    * scan (12.5k files = 19.7 s of config parsing). The object is
    * read-only once built; parquet-mr readers only get() from it.
    */
  lazy val conf = new Configuration()
}

/** File-open counter, for observability: the runtime-pruning spec proves
  * a prune by counting actual opens, not by trusting plan text.
  */
private[graft] object GeoCatalogMetrics {
  val opens = new java.util.concurrent.atomic.AtomicLong()
  /** Rows emitted by the buffered TopN selection paths (tail ring /
    * selection heap) — the spec proves the k·files emission bound by
    * counting, not by trusting plan text.
    */
  val topNEmitted = new java.util.concurrent.atomic.AtomicLong()
}

private class GeoCatalogReader(file: String, required: StructType,
                               limit: Int = Int.MaxValue,
                               preds: Array[GeoCatalogScan.IdNumPred] = Array.empty,
                               conf: Configuration = new Configuration(GeoCatalogReader.conf))
    extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] = {
    GeoCatalogMetrics.opens.incrementAndGet()
    // decode ONLY the columns this scan needs: the required projection,
    // plus id_num when a consumed keyset predicate reads it; an empty
    // projection (COUNT) still needs one column to drive row iteration —
    // id_num (8-byte plain) is the cheapest
    val names = required.fields.map(_.name) ++
      (if (preds.nonEmpty) Array("id_num") else Array.empty[String])
    val proj = GeoParquet.projectedSchema(
      if (names.isEmpty) Seq("id_num") else names.distinct.toSeq)
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      proj.toString)
    ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()
  }
  private var current: Group = _
  private var emitted = 0

  override def next(): Boolean = {
    // partially-pushed LIMIT/TopN: only rows matching the CONSUMED
    // predicates count toward the bound (and only they are emitted)
    while (emitted < limit) {
      current = reader.read()
      if (current == null) return false
      if (preds.isEmpty ||
          { val idn = current.getLong("id_num", 0); preds.forall(_.matches(idn)) }) {
        emitted += 1
        return true
      }
    }
    false
  }

  private def fieldValue(g: Group, f: StructField): Any = {
    val present = g.getType.containsField(f.name) &&
      g.getFieldRepetitionCount(f.name) > 0
    if (!present) return null
    f.dataType match {
      case StringType => UTF8String.fromString(g.getString(f.name, 0))
      case LongType => g.getLong(f.name, 0)
      case DoubleType => g.getDouble(f.name, 0)
      case TimestampNTZType => g.getLong(f.name, 0) // already micros
      case BinaryType => g.getBinary(f.name, 0).getBytes
      case st: StructType =>
        val sub = g.getGroup(f.name, 0)
        new GenericInternalRow(st.fields.map(sf => fieldValue(sub, sf)))
      case other => throw new IllegalStateException(s"unsupported $other")
    }
  }

  override def get(): InternalRow =
    new GenericInternalRow(required.fields.map(f => fieldValue(current, f)))

  override def close(): Unit = reader.close()
}
