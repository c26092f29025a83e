package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, GenericRowWithSchema, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.cql.Cql
import graft.spatial.Geo

/** The reference's search endpoint as a typed programmatic API
  * (cf. /root/reference/stac_fastapi/duckdb/database_logic.py:772-1022
  * `execute_search`): every POST /search parameter maps to a field of
  * [[SearchParams]]; [[StacApi.search]] returns the page, `numMatched`,
  * and a continuation token.
  *
  * Differences from the reference, by design (SURVEY.md §3):
  *  - the filter/sort/page pipeline is ONE Catalyst plan (pushdown works
  *    through every parameter), not SQL-string assembly;
  *  - two token schemes: `off:<n>` (reference parity, fetches limit+1
  *    rows to probe for a next page — database_logic.py:921-955) and
  *    `ks:<...>` keyset continuation, which compiles the last row's sort
  *    key into a lexicographic predicate — the 100 TB path: no scan of
  *    skipped rows, pruning stays effective at any page depth.
  */
final case class SortBy(field: String, desc: Boolean = false)

final case class SearchParams(
    collections: Seq[String] = Nil,
    ids: Seq[String] = Nil,
    bbox: Option[(Double, Double, Double, Double)] = None,
    // ANY GeoJSON geometry (Point/MultiPoint/LineString/MultiLineString/
    // Polygon incl. holes/MultiPolygon/GeometryCollection) — the same
    // Shape ADT the CQL2 s_intersects path compiles; construct with
    // SearchParams.geoJson(...) or SearchParams.ring(...).
    intersects: Option[graft.spatial.Shape] = None,
    datetime: Option[String] = None,          // "t" | "a/b" | "t/.." | "../t"
    filter: Option[String] = None,            // cql2-json
    // STAC "query" extension (legacy per-field ops; the reference stubs
    // this hook, database_logic.py:451-487) — {"field": {"op": v, ...}}
    query: Option[String] = None,
    sortBy: Seq[SortBy] = Nil,
    limit: Int = 10,
    token: Option[String] = None,
    // Fields extension (reference mounts FieldsExtension, app.py:34):
    // include/exclude accept properties.x / properties__x / x variants.
    include: Seq[String] = Nil,
    exclude: Seq[String] = Nil,
    // numMatched is a full-corpus aggregate over the filter — reference
    // parity keeps it on by default, but at scale a page fetch shouldn't
    // pay it unless asked (STAC's context extension treats `matched` as
    // optional).
    withCount: Boolean = true,
    // Pre-parsed CQL2 filter AST — the cql2-TEXT entry point (GET
    // /search's default filter-lang per OGC API-Features Part 3; the
    // json form arrives through `filter` above). Both compile through
    // the one Cql.resolve surface, so the two languages cannot drift.
    filterAst: Option[Cql] = None)

object SearchParams {
  /** GeoJSON geometry string → `intersects` value — accepts every GeoJSON
    * type, matching the reference's REST intersects
    * (database_logic.py:419-448).
    */
  def geoJson(json: String): Option[graft.spatial.Shape] =
    Some(Cql.parseGeoJsonShape(json))

  /** POST /search JSON body → typed params — the reference's primary
    * API surface (its search endpoints deserialize exactly this
    * document): collections, ids, bbox (2D, or 3D with elevation
    * dropped per the STAC spec), intersects (any GeoJSON), datetime,
    * filter (cql2-json passthrough), sortby [{field, direction}],
    * fields {include, exclude}, limit, token. Unknown members are
    * ignored (API forward-compatibility); absent members keep the
    * typed defaults.
    */
  def fromSearchBody(json: String): SearchParams = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    import scala.jdk.CollectionConverters._
    type Node = com.fasterxml.jackson.databind.JsonNode
    def node(f: String) = Option(m.get(f)).filterNot(_.isNull)
    // a member of the wrong JSON type is a 400, never silently ignored:
    // Jackson iterates a non-array as empty, which would widen the search
    def elements(n: Node, f: String): Seq[Node] = {
      if (!n.isArray) throw new IllegalArgumentException(s"$f must be a JSON array")
      n.elements().asScala.toSeq
    }
    def strs(f: String): Seq[String] =
      node(f).map(elements(_, f).map(_.asText)).getOrElse(Nil)
    val bbox = node("bbox").map(b => bboxOf(elements(b, "bbox").map(_.asDouble).toIndexedSeq))
    val sorts = node("sortby").map(elements(_, "sortby").map { sn =>
      val field = Option(sn.get("field")).filter(_.isTextual).getOrElse(
        throw new IllegalArgumentException("each sortby entry needs a string \"field\""))
      SortBy(field.asText, Option(sn.get("direction")).exists(_.asText == "desc"))
    }).getOrElse(Nil)
    val fieldsNode = node("fields")
    if (fieldsNode.exists(!_.isObject))
      throw new IllegalArgumentException("fields must be a JSON object")
    def fieldList(k: String): Seq[String] =
      fieldsNode.flatMap(fn => Option(fn.get(k)).filterNot(_.isNull))
        .map(elements(_, s"fields.$k").map(_.asText)).getOrElse(Nil)
    SearchParams(
      collections = strs("collections"),
      ids = strs("ids"),
      bbox = bbox,
      intersects = node("intersects").map(g => Cql.parseGeoJsonShape(g.toString)),
      datetime = node("datetime").map(_.asText),
      filter = node("filter").map(_.toString),
      query = node("query").map(_.toString),
      sortBy = sorts,
      // untrusted HTTP surface: non-positive → 400, huge → clamp (STAC's
      // suggested 10000 ceiling) so limit+1 can never overflow
      limit = StacHttp.clampLimit(node("limit").map(_.asInt).getOrElse(10)),
      token = node("token").map(_.asText),
      include = fieldList("include"),
      exclude = fieldList("exclude"))
  }

  /** A 2D (4) or 3D (6, elevation dropped per the STAC spec) bbox as
    * (minx, miny, maxx, maxy). The reference rejects malformed bboxes with
    * a 400/422 (tests/api/test_api.py:206-212), so any other arity is an
    * IllegalArgumentException rather than an index crash.
    */
  private[search] def bboxOf(a: IndexedSeq[Double]): (Double, Double, Double, Double) = {
    if (a.length != 4 && a.length != 6)
      throw new IllegalArgumentException(
        s"bbox must have 4 (2D) or 6 (3D) coordinates, got ${a.length}")
    if (a.length == 6) (a(0), a(1), a(3), a(4)) else (a(0), a(1), a(2), a(3))
  }

  /** Flat polygon ring [x0,y0,x1,y1,…] (closure vertex optional) →
    * `intersects` value — the pre-round-6 single-ring form, kept as a
    * convenience.
    */
  def ring(flat: Array[Double]): Option[graft.spatial.Shape] = {
    val n = flat.length
    val open =
      if (n >= 4 && flat(0) == flat(n - 2) && flat(1) == flat(n - 1))
        flat.dropRight(2)
      else flat
    Some(graft.spatial.Shape.PolyS(Array(Array(open))))
  }
}

/** `numMatched` is -1 when the search ran with `withCount = false`. */
final case class SearchResult(
    items: Array[Row], numMatched: Long, nextToken: Option[String])

/** One bucket of a frequency-distribution aggregation. */
final case class AggBucket(key: String, frequency: Long)

/** One computed aggregation (STAC Aggregation extension response
  * member): `value` for integer aggregations, `buckets` for frequency
  * distributions, min/max/sum for numeric stats.
  */
final case class Aggregation(
    name: String,
    value: Option[Long] = None,
    buckets: Seq[AggBucket] = Nil,
    min: Option[Double] = None,
    max: Option[Double] = None,
    sum: Option[Double] = None)

object StacApi {

  /** /collections: the static catalog (title/license/description/links)
    * broadcast-joined onto derived counts + extents — the reference's
    * collections directory (database_logic.py:58-138) with computed
    * extents instead of hand-maintained ones.
    */
  def collections(spark: SparkSession, dir: String): DataFrame =
    StacSearch.a26Collections(spark, dir)

  /** /collections with the reference's pagination contract
    * (database_logic.py:58-107: `token` = the id of the last collection
    * seen, `limit` = page size; returns the page plus the next token).
    * The reference walks its directory and SIMULATES the token (always
    * returns None, database_logic.py:104-105); this twin implements the
    * documented contract for real — keyset on the collection id, so a
    * token is a sargable filter (never an offset scan) over the derived
    * collections frame. Matches `search`'s page shape: fetch limit+1 to
    * decide whether a next page exists without a count.
    */
  def collectionsPage(spark: SparkSession, dir: String,
                      token: Option[String], limit: Int): (Array[Row], Option[String]) = {
    val base = collections(spark, dir) // already ordered by collection
    val after = token.map(t => base.where(col("collection") > lit(t))).getOrElse(base)
    val page = after.limit(limit + 1).collect()
    val items = page.take(limit)
    val next =
      if (page.length <= limit) None
      else Some(items.last.getString(items.last.fieldIndex("collection")))
    (items, next)
  }

  /** Filter-only plan: every search parameter as a Catalyst predicate. */
  def plan(items: DataFrame, p: SearchParams): DataFrame = {
    var df = items
    if (p.collections.nonEmpty) df = df.where(col("collection").isin(p.collections: _*))
    if (p.ids.nonEmpty) df = df.where(col("id").isin(p.ids: _*))
    p.bbox.foreach { case (w, s, e, n) =>
      df = df.where(Geo.bboxContains(col("lon"), col("lat"), w, s, e, n))
    }
    p.intersects.foreach { shape =>
      df = df.where(Geo.intersectsShape(col("lon"), col("lat"), shape))
    }
    p.datetime.foreach { dt => df = df.where(datetimePredicate(dt)) }
    // CQL2 property refs resolve properties.x / properties__x / x against
    // the live schema (database_logic.py:640-644)
    p.filter.foreach { json =>
      df = df.where(Cql.resolve(Cql.parseJson(json), df.columns.toSeq).toColumn)
    }
    p.filterAst.foreach { ast =>
      df = df.where(Cql.resolve(ast, df.columns.toSeq).toColumn)
    }
    // query-extension clauses translate into the same AST / same resolver
    // as CQL2, so both filter languages compile one predicate surface
    p.query.foreach { json =>
      df = df.where(Cql.resolve(Cql.parseStacQuery(json), df.columns.toSeq).toColumn)
    }
    df
  }

  /** Fields extension: include/exclude → a computed PLAN-level projection
    * (column pruning reaches the scan — the scale win the reference's
    * serialization-time filtering can't have). `id`/`collection` are always
    * kept (STAC minimum), and the active sort fields ride along so
    * continuation tokens stay well-defined (the spec allows returning more
    * than asked).
    */
  def applyFields(df: DataFrame, p: SearchParams): DataFrame =
    applyFields(df, p, sortCols(df, p))

  private def applyFields(df: DataFrame, p: SearchParams,
                          sorts: Seq[(String, Boolean)]): DataFrame = {
    if (p.include.isEmpty && p.exclude.isEmpty) df
    else {
      val schema = df.schema.fieldNames.toSeq
      val inc = p.include.flatMap(f => StacSearch.resolveField(f, schema))
      // include WINS over exclude on conflict (STAC Fields extension
      // semantics), and id/collection are never excludable (STAC minimum)
      val protectedFields = Set("id", "collection") ++ inc
      val exc = p.exclude.flatMap(f => StacSearch.resolveField(f, schema)).toSet
        .diff(protectedFields)
      val sortFields = sorts.map(_._1)
      val base = if (inc.nonEmpty) Seq("id", "collection") ++ inc else schema
      val kept = (base.filterNot(exc.contains) ++ sortFields)
        .distinct.filter(schema.contains)
      df.select(kept.map(col): _*)
    }
  }

  /** The aggregations this deployment advertises (name → data_type) —
    * the /aggregations capability document's content.
    */
  val supportedAggregations: Seq[(String, String)] = Seq(
    "total_count" -> "integer",
    "collection_frequency" -> "frequency_distribution",
    "datetime_frequency" -> "frequency_distribution",
    "value_stats" -> "numeric")

  /** Execute the requested named aggregations over ONE search (the
    * /aggregate endpoint of the STAC Aggregation extension): every
    * search parameter filters through [[plan]], then a SINGLE
    * grouping-sets pass produces every requested granularity — one scan
    * and one shuffle however many aggregations are asked for (A70's
    * shape; the reference-style engine pays one corpus scan per
    * aggregation). Unknown names are a typed error (the HTTP 400
    * contract). Result rows are bounded by |collections| + |months| + 1.
    */
  def aggregate(spark: SparkSession, dir: String, p: SearchParams,
                names: Seq[String]): Seq[Aggregation] =
    aggregateOn(Tables.items(spark, dir), p, names)

  /** [[aggregate]] over an explicit items frame (r12 — the transaction
    * overlay's serving path).
    */
  def aggregateOn(items: DataFrame, p: SearchParams,
                  names: Seq[String]): Seq[Aggregation] = {
    val supported = supportedAggregations.map(_._1).toSet
    val bad = names.filterNot(supported.contains)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown aggregation(s): ${bad.mkString(", ")} " +
          s"(supported: ${supportedAggregations.map(_._1).mkString(", ")})")
    if (names.isEmpty)
      throw new IllegalArgumentException("aggregations must name at least one aggregation")
    val base = plan(items, p)
      .select(col("collection"),
        coalesce(date_format(date_trunc("month",
          coalesce(col("datetime"), col("start_datetime"))), "yyyy-MM"),
          lit("__none__")).as("month_b"),
        col("value"))
    val wantColl = names.contains("collection_frequency")
    val wantMonth = names.contains("datetime_frequency")
    val sets = Seq(Seq.empty[Column]) ++
      (if (wantColl) Seq(Seq(col("collection"))) else Nil) ++
      (if (wantMonth) Seq(Seq(col("month_b"))) else Nil)
    val rows = base.groupingSets(sets, col("collection"), col("month_b"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max"),
        sum(col("value")).as("v_sum"))
      .collect()
    // gid bits: collection = MSB, month_b = LSB; 3 = the total row
    val total = rows.find(r => r.getLong(r.fieldIndex("gid")) == 3L)
    def bucketsOf(gid: Int, keyField: String): Seq[AggBucket] =
      rows.filter(r => r.getLong(r.fieldIndex("gid")) == gid)
        .map(r => AggBucket(
          Option(r.get(r.fieldIndex(keyField))).map(_.toString).getOrElse("__none__"),
          r.getLong(r.fieldIndex("n"))))
        .sortBy(_.key).toSeq
    names.map {
      case "total_count" =>
        Aggregation("total_count",
          value = Some(total.map(r => r.getLong(r.fieldIndex("n"))).getOrElse(0L)))
      case "collection_frequency" =>
        Aggregation("collection_frequency", buckets = bucketsOf(1, "collection"))
      case "datetime_frequency" =>
        Aggregation("datetime_frequency", buckets = bucketsOf(2, "month_b"))
      case "value_stats" =>
        val t = total.filter(r => !r.isNullAt(r.fieldIndex("v_min")))
        Aggregation("value_stats",
          value = total.map(r => r.getLong(r.fieldIndex("n"))),
          min = t.map(r => r.getDouble(r.fieldIndex("v_min"))),
          max = t.map(r => r.getDouble(r.fieldIndex("v_max"))),
          sum = t.map(r => r.getDouble(r.fieldIndex("v_sum"))))
    }
  }

  /** Reference datetime forms (database_logic.py:224-347). */
  def datetimePredicate(dt: String): Column = dt.split("/", -1) match {
    case Array(t)         => StacSearch.dtExact(t)
    case Array(a, "..")   => StacSearch.dtOpenStart(a)
    case Array("..", b)   => StacSearch.dtOpenEnd(b)
    case Array(a, b)      => StacSearch.dtRange(a, b)
    case _ => throw new IllegalArgumentException(s"bad datetime: $dt")
  }

  /** Sort columns with the reference's always-appended `id ASC` tiebreak
    * (database_logic.py:661-696), resolving `properties.x` name variants.
    */
  private def sortCols(df: DataFrame, p: SearchParams): Seq[(String, Boolean)] = {
    val schema = df.schema.fieldNames.toSeq
    val user = p.sortBy.flatMap { sb =>
      StacSearch.resolveField(sb.field, schema).map(f => (f, sb.desc))
    }
    user :+ ("id" -> false)
  }

  /** Keyset predicate: strict lexicographic "after (v1..vn)" under the
    * given sort directions — row-value comparison unrolled to an OR-chain
    * whose leading conjuncts are sargable (they push down and prune).
    *
    * NULL-aware, matching Spark's null ordering exactly (asc → nulls
    * FIRST, desc → nulls LAST), so pages containing null sort keys (e.g.
    * interval-only items under a datetime sort) neither drop rows nor
    * re-read them:
    *  - asc after value v:  x IS NOT NULL AND x > v   (nulls already seen)
    *  - asc after NULL:     x IS NOT NULL             (all values follow)
    *  - desc after value v: x IS NULL OR x < v        (nulls still follow)
    *  - desc after NULL:    false                     (tiebreak fields only)
    */
  private def keysetAfter(sorts: Seq[(String, Boolean)], last: Seq[Option[Any]]): Column =
    sorts.indices.map { i =>
      val eqPrefix = (0 until i).map { j =>
        last(j) match {
          case Some(v) => col(sorts(j)._1) === lit(v)
          case None    => col(sorts(j)._1).isNull
        }
      }.foldLeft(lit(true))(_ && _)
      val (f, desc) = sorts(i)
      val after = (last(i), desc) match {
        case (Some(v), false) => col(f).isNotNull && col(f) > lit(v)
        case (Some(v), true)  => col(f).isNull || col(f) < lit(v)
        case (None, false)    => col(f).isNotNull
        case (None, true)     => lit(false)
      }
      eqPrefix && after
    }.reduce(_ || _)

  private val ksSep = "\u0001"

  /** Execute a search: page of items + numMatched + continuation token. */
  def search(spark: SparkSession, dir: String, p: SearchParams): SearchResult =
    searchOn(Tables.items(spark, dir), p)

  /** [[search]] over an EXPLICIT items frame — what lets an HTTP server
    * with a transaction overlay (r12) serve its merged view through the
    * same plan/sort/page machinery.
    */
  def searchOn(items: DataFrame, p: SearchParams): SearchResult = {
    val filtered = plan(items, p)
    val sorts = sortCols(filtered, p)
    page(applyFields(filtered, p, sorts), sorts, p)
  }

  /** One search page with each item serialized as its full STAC Feature
    * JSON (A20's codegen'd document projection) — the HTTP layer's
    * /search body. Same filter plan, same sort/keyset machinery as
    * [[search]]. The pass reads only the columns the document needs plus
    * the sort columns; the document is then projected over the page rows
    * as a local relation (evaluated on the driver, no job), so JSON work
    * is bounded by `limit`, never by the match count.
    */
  def searchFeatures(spark: SparkSession, dir: String,
                     p: SearchParams): (Array[String], Long, Option[String]) =
    searchFeaturesOn(Tables.items(spark, dir), p)

  /** [[searchFeatures]] over an explicit items frame (r12 — the
    * transaction overlay's serving path).
    */
  def searchFeaturesOn(items: DataFrame,
                       p: SearchParams): (Array[String], Long, Option[String]) = {
    val filtered = plan(items, p)
    val sorts = sortCols(filtered, p)
    val cols = (StacSearch.featureCols ++ sorts.map(_._1)).distinct
    val r = page(filtered.select(cols.map(col): _*), sorts, p)
    val feats =
      if (r.items.isEmpty) Array.empty[String]
      else StacSearch.featureFrameOn(filtered.sparkSession.createDataFrame(
          java.util.Arrays.asList(r.items: _*), r.items.head.schema))
        .select(col("_feature")).collect().map(_.getString(0))
    (feats, r.numMatched, r.nextToken)
  }

  /** The pager: decodes the token, then [[topK]] answers the count and
    * the page in one pass. `off:` tokens continue as offsets; a first or
    * `ks:` page emits a keyset token.
    */
  private def page(frame: DataFrame, sorts: Seq[(String, Boolean)],
                   p: SearchParams): SearchResult = {
    val (after, off, offsetToken) = p.token match {
      case None => (None, 0, false)
      case Some(t) if t.startsWith("ks:") =>
        (Some(keysetAfter(sorts, decodeKeyset(t.drop(3), sorts, frame))), 0, false)
      case Some(t) if t.startsWith("off:") => (None, decodeOffset(t.drop(4), p.limit), true)
      case Some(other) => throw new IllegalArgumentException(s"bad token: $other")
    }
    val (matched, top) = topK(frame, sorts, after, off + p.limit + 1, p.withCount)
    val rows = top.drop(off)
    val items = rows.take(p.limit)
    val next =
      if (rows.length <= p.limit) None
      else if (offsetToken) Some(s"off:${off + p.limit}")
      else Some("ks:" + encodeKeyset(items.last, sorts))
    SearchResult(items, if (p.withCount) matched else -1L, next)
  }

  /** ONE Spark job over the executed plan of `frame`: each partition
    * counts every row and keeps, in a bounded heap, its best `k` rows
    * under `sorts` (asc = nulls first, desc = nulls last — the order of
    * `Column.asc`/`desc`) among those that pass `after`; the driver merges
    * the heaps (TakeOrderedAndProjectExec's shape). `after` only limits
    * which rows may enter the page: with a count it is evaluated per row,
    * without one it filters (and prunes) the scan.
    */
  private def topK(frame: DataFrame, sorts: Seq[(String, Boolean)],
                   after: Option[Column], k: Int,
                   withCount: Boolean): (Long, Array[Row]) = {
    // flag = the ordinal of the page-candidate column, -1 when every row is one
    val (scanned, flag) = after match {
      case Some(a) if withCount =>
        (frame.withColumn(pageFlag, coalesce(a, lit(false))), frame.schema.length)
      case Some(a) => (frame.where(a), -1)
      case None => (frame, -1)
    }
    val qe = scanned.queryExecution
    val out = qe.executedPlan.output
    val ord = new LazilyGeneratedOrdering(sorts.map { case (f, desc) =>
      SortOrder(out.find(_.name == f).get, if (desc) Descending else Ascending)
    }, out)
    val parts = SQLExecution.withNewExecutionId(qe, Some("search page")) {
      qe.toRdd.mapPartitions { it =>
        val heap = new java.util.PriorityQueue[InternalRow](ord.reverse)
        var n = 0L
        it.foreach { r =>
          n += 1
          if (flag < 0 || r.getBoolean(flag)) {
            if (heap.size < k) heap.add(r.copy())
            else if (ord.lt(r, heap.peek())) { heap.poll(); heap.add(r.copy()) }
          }
        }
        Iterator.single((n, heap.toArray(Array.empty[InternalRow])))
      }.collect()
    }
    val schema = frame.schema
    val conv = schema.fields.map(f => CatalystTypeConverters.createToScalaConverter(f.dataType))
    val rows = parts.flatMap(_._2).sorted(ord).take(k).map { r =>
      new GenericRowWithSchema(Array.tabulate[Any](conv.length)(i =>
        conv(i)(r.get(i, schema(i).dataType))), schema): Row
    }
    (parts.map(_._1).sum, rows)
  }

  private val pageFlag = "__graft_page_candidate"

  /** `off:<n>`: a non-negative offset whose page bound `n + limit + 1`
    * fits an Int (it sizes the pager's heap).
    */
  private def decodeOffset(s: String, limit: Int): Int = {
    val off = s.toInt
    if (off < 0) throw new IllegalArgumentException(s"bad token: negative offset $off")
    if (off.toLong + limit + 1 > Int.MaxValue)
      throw new IllegalArgumentException(s"bad token: offset $off + limit $limit is too large")
    off
  }

  /** NULL sort-key values encode as a dedicated sentinel so keyset
    * pagination walks straight through null runs (no offset fallback).
    */
  private val ksNull = "\u0002"

  private def encodeKeyset(row: Row, sorts: Seq[(String, Boolean)]): String =
    sorts.map { case (f, _) =>
      val v = row.get(row.fieldIndex(f))
      if (v == null) ksNull else v.toString
    }.mkString(ksSep)

  private def decodeKeyset(s: String, sorts: Seq[(String, Boolean)],
                           df: DataFrame): Seq[Option[Any]] = {
    import org.apache.spark.sql.types._
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val vals = s.split(ksSep, -1).toSeq
    if (vals.length != sorts.length)
      throw new IllegalArgumentException(
        s"bad token: ${vals.length} keyset values for ${sorts.length} sort fields")
    vals.zip(sorts).map { case (v, (f, _)) =>
      if (v == ksNull) None
      else Some(types(f) match {
        case LongType      => v.toLong
        case IntegerType   => v.toInt
        case DoubleType    => v.toDouble
        case TimestampType => java.sql.Timestamp.valueOf(v)
        case _             => v
      })
    }
  }
}
