package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Staged, Tables}
import graft.cql.{Cql, Cql2Text}
import graft.spatial.Geo

/** A-series: the reference's STAC search surface re-expressed Spark-first
  * (SURVEY.md §2.A). Each capability is a composable `Column` planner plus
  * the identical predicate in ANSI SQL for the DuckDB oracle.
  *
  * Reference behavior being preserved (cf. /root/reference/stac_fastapi/
  * duckdb/database_logic.py):
  *  - datetime semantics incl. null-datetime interval overlap (:224-347)
  *  - bbox / intersects spatial filters (:349-448)
  *  - CQL2 compile (:488-659) — here via [[graft.cql.Cql]]
  *  - sort w/ id tiebreak (:661-696), offset pagination (:921-955),
  *    count (:698-770), item lookup (:140-203)
  *
  * Scale re-architecture (SURVEY.md §3): collection filter = partition
  * pruning; datetime/bbox = plain-column range predicates that push to
  * parquet row-group stats; CQL2 → Catalyst `Column` (codegen + pushdown);
  * pagination scale path = keyset predicates (a23), not global OFFSET.
  */
object StacSearch {

  private val proj = Seq("id", "collection", "datetime", "lon", "lat", "value")
  private def projCols: Seq[Column] = proj.map(col)
  private val projSql = proj.mkString(", ")

  private def items(s: SparkSession, d: String): DataFrame = Tables.items(s, d)

  private def ts(t: String): Column = lit(t).cast("timestamp")

  // ------------------------------------------------- datetime semantics
  /** Exact datetime match: `datetime = t` OR, for interval-only items
    * (datetime NULL), containment of t in [start, end]
    * (database_logic.py:261-273).
    */
  def dtExact(t: String): Column =
    col("datetime") === ts(t) ||
      (col("datetime").isNull && col("start_datetime") <= ts(t) && col("end_datetime") >= ts(t))

  def dtExactSql(t: String): String =
    s"(datetime = TIMESTAMP '$t' OR (datetime IS NULL AND start_datetime <= TIMESTAMP '$t' AND end_datetime >= TIMESTAMP '$t'))"

  /** Closed range [lo, hi]: datetime in range OR null-datetime items whose
    * interval OVERLAPS the search range (database_logic.py:279-292).
    */
  def dtRange(lo: String, hi: String): Column =
    (col("datetime") >= ts(lo) && col("datetime") <= ts(hi)) ||
      (col("datetime").isNull && col("start_datetime") <= ts(hi) && col("end_datetime") >= ts(lo))

  def dtRangeSql(lo: String, hi: String): String =
    s"((datetime >= TIMESTAMP '$lo' AND datetime <= TIMESTAMP '$hi') OR " +
      s"(datetime IS NULL AND start_datetime <= TIMESTAMP '$hi' AND end_datetime >= TIMESTAMP '$lo'))"

  /** Open-ended `t/..` (database_logic.py:293-302). */
  def dtOpenStart(t: String): Column =
    col("datetime") >= ts(t) || (col("datetime").isNull && col("end_datetime") >= ts(t))

  def dtOpenStartSql(t: String): String =
    s"(datetime >= TIMESTAMP '$t' OR (datetime IS NULL AND end_datetime >= TIMESTAMP '$t'))"

  /** Open-ended `../t` (database_logic.py:303-312). */
  def dtOpenEnd(t: String): Column =
    col("datetime") <= ts(t) || (col("datetime").isNull && col("start_datetime") <= ts(t))

  def dtOpenEndSql(t: String): String =
    s"(datetime <= TIMESTAMP '$t' OR (datetime IS NULL AND start_datetime <= TIMESTAMP '$t'))"

  /** properties.x / properties__x / x name variants → schema name
    * (database_logic.py:856-919). Variant rule lives in
    * [[Cql.nameVariants]] — one copy for both the filter and sort paths.
    */
  def resolveField(name: String, schema: Seq[String]): Option[String] =
    Cql.nameVariants(name).find(schema.contains)

  /** A21 queryables: JSON-schema of filterable fields, derived from the
    * live DataFrame schema instead of the reference's static hand-written
    * map (filter_client.py:15-58) — new columns become queryable without
    * code changes.
    */
  def queryables(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    def jsonType(t: DataType): String = t match {
      case _: StringType => "string"
      case _: BooleanType => "boolean"
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType => "integer"
      case _: FloatType | _: DoubleType | _: DecimalType => "number"
      case _: TimestampType | _: DateType => "string"
      case _ => "object"
    }
    val props = df.schema.fields.map { f =>
      val fmt = f.dataType match {
        case _: TimestampType | _: DateType => ""","format":"date-time""""
        case _ => ""
      }
      s""""${f.name}":{"type":"${jsonType(f.dataType)}"$fmt}"""
    }.mkString(",")
    s"""{"$$schema":"https://json-schema.org/draft/2020-12/schema","type":"object","properties":{$props}}"""
  }

  /** A69 sortables: the Sort-extension companion of A21's queryables —
    * the JSON document advertising which fields a client may pass to
    * `sortby` (OGC API Records sortables / STAC sort conformance).
    * Derived from the live schema like A21, with the honest contract:
    * a field is sortable iff it is an ORDERABLE SCALAR the keyset-token
    * codec can encode (string/integer/number/timestamp/boolean) — array,
    * map, struct, and binary columns are omitted, so everything this
    * document advertises actually pages correctly through the typed API
    * (StacSearchSpec drives every advertised field through a search).
    */
  def sortables(df: DataFrame): String = {
    import org.apache.spark.sql.types._
    def jsonType(t: DataType): Option[String] = t match {
      case _: StringType => Some("string")
      case _: BooleanType => Some("boolean")
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType => Some("integer")
      case _: FloatType | _: DoubleType | _: DecimalType => Some("number")
      case _: TimestampType | _: DateType => Some("string")
      case _ => None // not orderable/tokenizable — not advertised
    }
    val props = df.schema.fields.flatMap { f =>
      jsonType(f.dataType).map { jt =>
        val fmt = f.dataType match {
          case _: TimestampType | _: DateType => ""","format":"date-time""""
          case _ => ""
        }
        s""""${f.name}":{"type":"$jt"$fmt}"""
      }
    }.mkString(",")
    s"""{"$$schema":"https://json-schema.org/draft/2020-12/schema","type":"object","properties":{$props}}"""
  }

  // --------------------------------------------------------- A1/A2/A3
  def a1ScanCollection(s: SparkSession, d: String): DataFrame =
    items(s, d).where(col("collection") === "click")
      .select(projCols: _*).orderBy(col("id"))

  val a1Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE collection = 'click' ORDER BY id")

  /** Multi-collection search. Reference: one scan per collection UNION
    * ALL'd (database_logic.py:831-853); here a single IN predicate that at
    * scale is partition pruning over a collection-partitioned table.
    */
  def a2MultiCollection(s: SparkSession, d: String): DataFrame =
    items(s, d).where(col("collection").isin("click", "error"))
      .select(projCols: _*).orderBy(col("id"))

  val a2Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE collection IN ('click', 'error') ORDER BY id")

  private val idList = Seq("1", "2", "3", "5", "8", "13", "21", "34", "55", "89")

  def a3IdsFilter(s: SparkSession, d: String): DataFrame =
    items(s, d).where(col("id").isin(idList: _*))
      .select(projCols: _*).orderBy(col("id"))

  val a3Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE id IN (${idList.map(i => s"'$i'").mkString(", ")}) ORDER BY id")

  // ------------------------------------------------------- A5/A6/A7
  private val tExact = "2024-01-15 12:00:00"
  private val tLo = "2024-01-10 00:00:00"
  private val tHi = "2024-01-20 00:00:00"
  private val tLate = "2024-01-25 00:00:00"
  private val tEarly = "2024-01-05 00:00:00"

  private val dtProj = Seq("id", "collection", "datetime", "start_datetime", "end_datetime")

  def a5DatetimeExact(s: SparkSession, d: String): DataFrame =
    items(s, d).where(dtExact(tExact))
      .select(dtProj.map(col): _*).orderBy(col("id"))

  val a5Sql: String = Tables.withItems(
    s"SELECT ${dtProj.mkString(", ")} FROM items WHERE ${dtExactSql(tExact)} ORDER BY id")

  def a6DatetimeRange(s: SparkSession, d: String): DataFrame =
    items(s, d).where(dtRange(tLo, tHi))
      .select(dtProj.map(col): _*).orderBy(col("id"))

  val a6Sql: String = Tables.withItems(
    s"SELECT ${dtProj.mkString(", ")} FROM items WHERE ${dtRangeSql(tLo, tHi)} ORDER BY id")

  /** Both open-range forms in one gate query, tagged. */
  def a7DatetimeOpen(s: SparkSession, d: String): DataFrame = {
    val it = items(s, d)
    val openStart = it.where(dtOpenStart(tLate))
      .select(lit("t_dotdot").as("form") +: dtProj.map(col): _*)
    val openEnd = it.where(dtOpenEnd(tEarly))
      .select(lit("dotdot_t").as("form") +: dtProj.map(col): _*)
    openStart.unionAll(openEnd).orderBy(col("form"), col("id"))
  }

  val a7Sql: String = Tables.withItems(
    s"""SELECT * FROM (
       |  SELECT 't_dotdot' AS form, ${dtProj.mkString(", ")} FROM items WHERE ${dtOpenStartSql(tLate)}
       |  UNION ALL
       |  SELECT 'dotdot_t' AS form, ${dtProj.mkString(", ")} FROM items WHERE ${dtOpenEndSql(tEarly)}
       |) ORDER BY form, id""".stripMargin)

  // ---------------------------------------------------------- A8/A9
  private val bbox = (-90.5, -45.25, 90.5, 45.25) // (west, south, east, north)

  def a8Bbox(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .select(projCols: _*).orderBy(col("id"))

  val a8Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)} ORDER BY id")

  // --------------------------- A62 POST /search body → typed plan
  /** A62: the POST /search JSON BODY through the whole stack — the
    * reference's primary API surface (clients send exactly this
    * document): [[StacApi.SearchParams.fromSearchBody]] deserializes
    * collections + bbox + datetime + cql2-json filter + sortby + limit
    * (unknown members ignored for forward-compatibility), and the
    * typed plan compiles the SAME predicates the per-param gates prove
    * individually. The oracle restates the body's semantics directly in
    * SQL — so this gate pins the request-document → plan translation,
    * the last hop a reference user needs to switch.
    */
  private val a62Body =
    """{"collections": ["click", "view"],
      |  "bbox": [-100.5, -50.5, 100.5, 50.5],
      |  "datetime": "2024-01-05 00:00:00/2024-01-25 00:00:00",
      |  "filter": {"op": ">", "args": [{"property": "value"}, 100]},
      |  "sortby": [{"field": "properties.value", "direction": "desc"}],
      |  "limit": 25,
      |  "some_future_extension": {"ignored": true}}""".stripMargin

  def a62SearchBody(s: SparkSession, d: String): DataFrame = {
    val p = SearchParams.fromSearchBody(a62Body)
    StacApi.plan(items(s, d), p)
      .select(projCols: _*)
      .orderBy(col("value").desc, col("id").asc) // body sort + id tiebreak
      .limit(p.limit)
  }

  val a62Sql: String = Tables.withItems(
    s"""SELECT $projSql FROM items
       |WHERE collection IN ('click', 'view')
       |  AND ${Geo.bboxContainsSql("lon", "lat", -100.5, -50.5, 100.5, 50.5)}
       |  AND ${dtRangeSql("2024-01-05 00:00:00", "2024-01-25 00:00:00")}
       |  AND value > 100
       |ORDER BY value DESC, id ASC LIMIT 25""".stripMargin)

  // --------------------------- A66 STAC "query" extension (legacy)
  /** A66: the legacy STAC "query" extension through the POST body path —
    * the per-field filter dialect the reference declares a hook for but
    * leaves stubbed (database_logic.py:451-487; its commented op table
    * is exactly this op set, `__` = nested path). Clauses translate into
    * the SAME AST and property resolver as CQL2
    * ([[graft.cql.Cql.parseStacQuery]]), so one predicate surface —
    * pushdown, codegen, and SQL rendering included — serves both filter
    * languages; the oracle renders the identical AST to ANSI SQL
    * (cqlQuery's doctrine) with the body's paging appended.
    */
  private val a66Query =
    """{"properties__value": {"gte": 120.5, "lt": 420.25},
      |"collection": {"in": ["click", "view", "purchase"]},
      |"properties__user_id": {"neq": 7},
      |"id": {"startsWith": "1"}}""".stripMargin

  /** The items view's column surface, for static oracle-side resolution
    * (the Spark side resolves against the live frame's schema — same
    * names by construction, [[graft.core.Tables.items]]).
    */
  private val itemsCols = Seq("id", "id_num", "collection", "datetime",
    "start_datetime", "end_datetime", "lon", "lat", "value", "user_id", "props")

  def a66StacqlQuery(s: SparkSession, d: String): DataFrame = {
    val p = SearchParams.fromSearchBody(
      s"""{"query": $a66Query, "limit": 40}""")
    StacApi.plan(items(s, d), p)
      .select(projCols: _*).orderBy(col("id")).limit(p.limit)
  }

  val a66Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE " +
      Cql.resolve(Cql.parseStacQuery(a66Query), itemsCols).toSql +
      " ORDER BY id LIMIT 40")

  // --------------------------- A61 antimeridian-crossing bbox
  /** A61: bbox ACROSS the antimeridian — the RFC 7946 §5.2 contract the
    * plain comparison silently gets wrong: a STAC search bbox with
    * west > east (here 150 → −150, a Pacific strip) means the box
    * CROSSES 180°, so the longitude predicate is the DISJUNCTION of the
    * two half-ranges, not an empty range. [[Geo.bboxContainsWrap]]
    * routes both cases (degenerating to the plain form when
    * west ≤ east, gated by a8); still a scan-level predicate — the OR
    * of two range tests stays pushable and codegen'd.
    */
  private val amBbox = (150.141, -60.223, -150.139, 60.177)

  def a61BboxAntimeridian(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.bboxContainsWrap(col("lon"), col("lat"),
        amBbox._1, amBbox._2, amBbox._3, amBbox._4))
      .select(projCols: _*).orderBy(col("id"))

  val a61Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.bboxContainsWrapSql("lon", "lat",
      amBbox._1, amBbox._2, amBbox._3, amBbox._4)} ORDER BY id")

  /** Convex CCW hexagon (off-grid coords so no point sits on an edge). */
  private val hexagon: Array[Double] = Array(
    80.137, 10.223,
    50.139, 55.177,
    -9.861, 55.177,
    -39.859, 10.223,
    -9.861, -34.731,
    50.139, -34.731)

  def a9Intersects(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.intersectsPolygon(col("lon"), col("lat"), hexagon))
      .select(projCols: _*).orderBy(col("id"))

  val a9Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.convexIntersectsSql("lon", "lat", hexagon)} ORDER BY id")

  // ------------------------------------------------------ A10..A15 CQL2
  /** Each gate query round-trips real cql2-json through the parser, then
    * compiles the SAME AST to both a Catalyst Column (Spark plan) and ANSI
    * SQL (oracle) — divergence in either backend fails the gate.
    */
  private def cqlQuery(json: String): ((SparkSession, String) => DataFrame, String) = {
    val ast = Cql.parseJson(json)
    val fn = (s: SparkSession, d: String) =>
      items(s, d).where(ast.toColumn).select(projCols: _*).orderBy(col("id"))
    val sql = Tables.withItems(
      s"SELECT $projSql FROM items WHERE ${ast.toSql} ORDER BY id")
    (fn, sql)
  }

  private val (a10Fn, a10Sql) = cqlQuery(
    """{"and":[
      |  {"or":[{"=":[{"property":"collection"},"click"]},
      |         {"=":[{"property":"collection"},"view"]}]},
      |  {"not":[{"<":[{"property":"value"},100.5]}]}
      |]}""".stripMargin)

  private val (a11Fn, a11Sql) = cqlQuery(
    """{"and":[
      |  {">=":[{"property":"value"},50.25]},
      |  {"<":[{"property":"value"},300.75]},
      |  {"<>":[{"property":"collection"},"error"]},
      |  {">":[{"property":"user_id"},10]},
      |  {"<=":[{"property":"user_id"},120]}
      |]}""".stripMargin)

  private val (a12Fn, a12Sql) = cqlQuery(
    """{"or":[
      |  {"like":[{"property":"props"},"{\"k\": 1%"]},
      |  {"ilike":[{"property":"collection"},"CLI%"]}
      |]}""".stripMargin)

  private val (a13Fn, a13Sql) = cqlQuery(
    """{"in":[{"property":"user_id"},[1,5,9,42,77]]}""")

  private val (a14Fn, a14Sql) = cqlQuery(
    """{"between":[{"property":"value"},50.5,150.5]}""")

  private val (a15Fn, a15Sql) = cqlQuery(
    """{"or":[
      |  {"isNull":{"property":"datetime"}},
      |  {"=":[{"property":"user_id"},3]}
      |]}""".stripMargin)

  /** CQL2 spatial extension: s_intersects with a GeoJSON Polygon inside
    * the filter tree (the reference handles intersects only as a separate
    * top-level search parameter). Convex CCW ring, closed GeoJSON-style.
    */
  private val (a28Fn, a28Sql) = cqlQuery(
    """{"and":[
      |  {"s_intersects":[{"property":"geometry"},
      |    {"type":"Polygon","coordinates":[[[70.137,0.223],[30.139,48.177],
      |     [-25.861,30.177],[-25.861,-28.731],[30.139,-46.731],[70.137,0.223]]]}]},
      |  {">":[{"property":"value"},40.5]}
      |]}""".stripMargin)

  /** A74: CQL2 INTERVAL temporal predicates (OGC 21-065 §4.9 `interval`
    * operands) — t_intersects of the item's validity interval
    * [start_datetime, end_datetime] with a query window (the STAC
    * datetime-range semantic as a first-class filter-tree predicate),
    * OR a t_contains clause ("validity window fully covers the query
    * window"). Rows with NULL interval bounds fall out under SQL
    * three-valued logic in BOTH engines identically — an unknown
    * interval is never claimed.
    */
  private val (a74Fn, a74Sql) = cqlQuery(
    """{"or":[
      |  {"t_intersects":[
      |    {"interval":[{"property":"start_datetime"},{"property":"end_datetime"}]},
      |    {"interval":["2024-01-10 00:00:00","2024-01-12 00:00:00"]}]},
      |  {"and":[
      |    {"t_contains":[
      |      {"interval":[{"property":"start_datetime"},{"property":"end_datetime"}]},
      |      {"interval":["2024-01-20 06:00:00","2024-01-20 18:00:00"]}]},
      |    {">":[{"property":"value"},120.5]}]}
      |]}""".stripMargin)

  /** A76: the COMPLETE Allen interval set (OGC 21-065 temporal
    * functions) as a per-row boolean battery — stronger than a filter
    * gate: every op is evaluated on EVERY item (nulls included, pinning
    * 3VL), so a drifted conjunct flips a cell instead of maybe-dropping
    * an already-excluded row. Each column is a real cql2-json parse
    * round-trip; property-pair sides (the item's validity interval
    * composed with itself / with open bounds) guarantee nonzero true
    * cells for the equality-based ops, literal windows exercise the
    * straddle-sensitive ones (5+ straddlers at sf0.01), and open bounds
    * ("..") exercise the shared ±∞ fold in both backends.
    */
  private val a76Ops: Seq[(String, String)] = {
    def ivProps = """{"interval":[{"property":"start_datetime"},{"property":"end_datetime"}]}"""
    def iv(lo: String, hi: String) = s"""{"interval":[$lo,$hi]}"""
    def sd = """{"property":"start_datetime"}"""
    def ed = """{"property":"end_datetime"}"""
    Seq(
      "t_eq"   -> s"""{"t_equals":[$ivProps,$ivProps]}""",
      "t_st"   -> s"""{"t_starts":[$ivProps,${iv(sd, "\"..\"")}]}""",
      "t_stb"  -> s"""{"t_startedby":[${iv(sd, "\"..\"")},$ivProps]}""",
      "t_fin"  -> s"""{"t_finishes":[$ivProps,${iv("null", ed)}]}""",
      "t_finb" -> s"""{"t_finishedby":[${iv("\"..\"", ed)},$ivProps]}""",
      "t_meet" -> s"""{"t_meets":[${iv("\"..\"", sd)},$ivProps]}""",
      "t_metb" -> s"""{"t_metby":[${iv(ed, "\"..\"")},$ivProps]}""",
      "t_ov"   -> s"""{"t_overlaps":[$ivProps,${iv("\"2024-01-10 12:00:00\"", "\"2024-01-20 00:00:00\"")}]}""",
      "t_ovb"  -> s"""{"t_overlappedby":[$ivProps,${iv("\"2024-01-05 00:00:00\"", "\"2024-01-15 12:00:00\"")}]}""",
      "t_dur"  -> s"""{"t_during":[$ivProps,${iv("\"2024-01-08 00:00:00\"", "\"..\"")}]}""",
      "t_cont" -> s"""{"t_contains":[$ivProps,${iv("\"2024-01-12 06:30:00\"", "\"2024-01-12 07:00:00\"")}]}""",
      "t_bef"  -> s"""{"t_before":[$ivProps,${iv("\"2024-01-16 00:00:00\"", "\"..\"")}]}""",
      "t_aft"  -> s"""{"t_after":[$ivProps,${iv("\"..\"", "\"2024-01-16 00:00:00\"")}]}""",
      "t_dis"  -> s"""{"t_disjoint":[$ivProps,${iv("\"2024-01-12 00:00:00\"", "\"2024-01-14 00:00:00\"")}]}"""
    )
  }
  private val a76Asts: Seq[(String, Cql)] =
    a76Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  /** Battery-gate source shape (a43/c26 doctrine, applied r11): the
    * fixture scan plans ONE partition, and a global ORDER BY ABOVE a
    * 20-50-kernel battery projection executes the battery TWICE (the
    * range exchange's bounds-sampling pass runs its child in full) and
    * single-threaded. Range-partition + sort BELOW the projection: the
    * sampling pass touches only the cheap source rows, the battery runs
    * once at full parallelism, and projections preserve the established
    * global id order (Verify's coalesce(1) concatenates partitions in
    * range order, so the written output is still globally ordered).
    */
  private def idOrdered(s: SparkSession, df: DataFrame): DataFrame =
    df.repartitionByRange(s.sparkContext.defaultParallelism, col("id"))
      .sortWithinPartitions(col("id"))

  def a76CqlAllen(s: SparkSession, d: String): DataFrame =
    idOrdered(s, items(s, d))
      .select(col("id") +: a76Asts.map { case (n, a) => a.toColumn.as(n) }: _*)

  val a76Sql: String = Tables.withItems(
    s"""SELECT id, ${a76Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM items ORDER BY id""".stripMargin)

  /** A80: CQL2 `accenti` accessor (OGC 21-065 Accent-insensitive
    * Comparison — `casei`'s sibling accessor, reference inherits it at
    * the same filter extension point as A32) as a per-row boolean
    * battery. The fixture corpus is ASCII, so the accented characters
    * live in the LITERALS — which is exactly what makes the gate a
    * cross-engine parity pin: every cell's truth value depends on the
    * Spark kernel ([[graft.functions.StripAccents]], NFD + drop
    * combining marks) and DuckDB's `strip_accents` (utf8proc) agreeing
    * bit-for-bit on the battery's characters, including the
    * load-bearing NO-DECOMPOSITION pass-through set (ß Ø Œ Æ Ł) and
    * multi-mark decompositions (ấ ǡ Ḹ). Composition with `casei` is
    * exercised in BOTH orders (LOWER∘strip and strip∘LOWER), which pins
    * the engines' Unicode lowercasing agreement on accented input too.
    */
  private val a80Ops: Seq[(String, String)] = Seq(
    // column-side accenti: strip(collection) is identity on ASCII data,
    // strip('vïew') = 'view' — true exactly on the view rows
    "ac_eq"    -> """{"=":[{"accenti":{"property":"collection"}},{"accenti":"vïew"}]}""",
    // casei ∘ accenti (LOWER(strip(x))): accent-then-case insensitive
    "ac_ci"    -> """{"=":[{"casei":{"accenti":{"property":"collection"}}},{"casei":{"accenti":"CLÏCK"}}]}""",
    // accenti ∘ casei (strip(LOWER(x))): pins Unicode lowercasing of
    // accented input (LOWER('SÏGNUP') must be 'sïgnup' in both engines)
    "ac_ic"    -> """{"=":[{"accenti":{"casei":{"property":"collection"}}},{"accenti":{"casei":"SÏGNUP"}}]}""",
    // IN with per-element accenti ('érror' strips to a real collection,
    // 'purchäse' to another; 'öops' to a non-value — stays false)
    "ac_in"    -> """{"in":[{"accenti":{"property":"collection"}},[{"accenti":"érror"},{"accenti":"purchäse"},{"accenti":"öops"}]]}""",
    // LIKE under accenti: '%ïe%' → '%ie%' matches only 'view'
    "ac_like"  -> """{"like":[{"accenti":{"property":"collection"}},{"accenti":"%ïe%"}]}""",
    // constant cells: the pass-through set survives strip_accents
    // unchanged in both engines (no canonical decomposition) …
    "ac_pass"  -> """{"=":[{"accenti":"ß-Øl-Œuvre-Æon"},"ß-Øl-Œuvre-Æon"]}""",
    // … mixed word: Ł passes through while ó/ź strip …
    "ac_mixed" -> """{"=":[{"accenti":"Łódź"},"Łodz"]}""",
    // … and multi-mark canonical decompositions strip fully
    "ac_multi" -> """{"=":[{"accenti":"ấǡḸ crème brûlée"},"aaL creme brulee"]}"""
  )
  private val a80Asts: Seq[(String, Cql)] =
    a80Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  def a80CqlAccenti(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .select(col("id") +: a80Asts.map { case (n, a) => a.toColumn.as(n) }: _*)
      .orderBy(col("id"))

  val a80Sql: String = Tables.withItems(
    s"""SELECT id, ${a80Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM items ORDER BY id""".stripMargin)

  /** A83: GENERATIVE conformance battery — 48 seeded-random CQL2 filter
    * trees (depth ≤ 3 over comparisons, + - * arithmetic, and/or/not,
    * LIKE, IN, BETWEEN, isNull, casei, accenti, instant temporal ops)
    * evaluated per row against the DuckDB rendering of the SAME parsed
    * AST. The hand-written gates each pin one operator's semantics; this
    * one pins the COMPOSITION space — operator nesting, 3VL propagation
    * through random logical trees, literal formatting — at a breadth no
    * hand enumeration reaches. The seed is FIXED, so the battery is the
    * same 48 trees every round (a deterministic gate, not flaky fuzz) —
    * regenerating with a new seed is a one-constant sweep when wanted.
    * Numeric literals are quarter-steps so `Double.toString` stays in
    * plain decimal form, the one rendering both engines parse equally.
    */
  private val a83Ops: Seq[(String, String)] = {
    val rnd = new scala.util.Random(20260815L)
    val colls = Vector("click", "view", "signup", "error", "purchase")
    val cmp = Vector("=", "<>", "<", "<=", ">", ">=")
    def numLit: String = ((rnd.nextInt(4001) - 2000) / 4.0).toString
    def intLit: String = (rnd.nextInt(2000) - 400).toString
    def tsLit: String = f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:00:00"
    def strLit: String = colls(rnd.nextInt(colls.length))
    def leaf(): String = rnd.nextInt(9) match {
      case 0 => s"""{"${cmp(rnd.nextInt(6))}":[{"property":"value"},$numLit]}"""
      case 1 => s"""{"${cmp(rnd.nextInt(6))}":[{"property":"user_id"},$intLit]}"""
      case 2 =>
        val aop = Vector("+", "-", "*")(rnd.nextInt(3))
        s"""{"${cmp(rnd.nextInt(6))}":[{"$aop":[{"property":"value"},$numLit]},$numLit]}"""
      case 3 => s"""{"=":[{"property":"collection"},"$strLit"]}"""
      case 4 =>
        if (rnd.nextBoolean())
          s"""{"=":[{"casei":{"property":"collection"}},{"casei":"${strLit.toUpperCase}"}]}"""
        else
          s"""{"=":[{"accenti":{"property":"collection"}},{"accenti":"$strLit"}]}"""
      case 5 =>
        val pats = Vector("cl%", "%ew", "%i%", "s_gnup", "%u%e%")
        s"""{"like":[{"property":"collection"},"${pats(rnd.nextInt(pats.length))}"]}"""
      case 6 =>
        val items = Seq.fill(1 + rnd.nextInt(3))("\"" + strLit + "\"").mkString(",")
        s"""{"in":[{"property":"collection"},[$items]]}"""
      case 7 =>
        if (rnd.nextBoolean()) s"""{"isNull":{"property":"datetime"}}"""
        else s"""{"${Vector("t_before", "t_after")(rnd.nextInt(2))}":[{"property":"datetime"},"$tsLit"]}"""
      case 8 => s"""{"between":[{"property":"value"},$numLit,$numLit]}"""
    }
    def tree(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"""{"and":[${tree(depth - 1)},${tree(depth - 1)}]}"""
        case 1 => s"""{"or":[${tree(depth - 1)},${tree(depth - 1)}]}"""
        case 2 => s"""{"not":[${tree(depth - 1)}]}"""
      }
    (0 until 48).map(i => f"f$i%02d" -> tree(3))
  }
  private val a83Asts: Seq[(String, Cql)] =
    a83Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  def a83CqlFuzz(s: SparkSession, d: String): DataFrame =
    idOrdered(s, items(s, d))
      .select(col("id") +: a83Asts.map { case (n, a) => a.toColumn.as(n) }: _*)

  val a83Sql: String = Tables.withItems(
    s"""SELECT id, ${a83Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM items ORDER BY id""".stripMargin)

  /** CQL2 casei accessor (case-insensitive equality/IN, extension). */
  private val (a32Fn, a32Sql) = cqlQuery(
    """{"or":[
      |  {"=":[{"casei":{"property":"collection"}},{"casei":"CLICK"}]},
      |  {"in":[{"casei":{"property":"collection"}},[{"casei":"VIEW"},{"casei":"Signup"}]]}
      |]}""".stripMargin)

  /** CQL2 temporal extension (beyond the reference's operator list). */
  private val (a27Fn, a27Sql) = cqlQuery(
    """{"or":[
      |  {"t_before":[{"property":"datetime"},"2024-01-03 00:00:00"]},
      |  {"t_during":[{"property":"start_datetime"},["2024-01-10 00:00:00","2024-01-12 00:00:00"]]},
      |  {"and":[{"t_after":[{"property":"datetime"},"2024-01-29 00:00:00"]},
      |          {">":[{"property":"value"},200.5]}]}
      |]}""".stripMargin)

  // -------------------------------------------------- A16..A19 shape ops
  /** Multi-field sort, always id ASC tiebreak (database_logic.py:661-696).
    * LIMITed, so planned as TakeOrderedAndProject — per-partition top-k +
    * merge of k, never a global sort (the 100 TB-safe plan).
    */
  def a16Sort(s: SparkSession, d: String): DataFrame =
    items(s, d).select(projCols: _*)
      .orderBy(col("value").desc, col("id").asc).limit(50)

  val a16Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items ORDER BY value DESC, id ASC LIMIT 50")

  /** Offset-token pagination, kept for reference parity (the reference
    * fetches limit+1 to probe for a next page, database_logic.py:921-955;
    * the probe row is a LIMIT arithmetic detail, not a plan shape).
    */
  def a17Paginate(s: SparkSession, d: String): DataFrame =
    items(s, d).select(projCols: _*).orderBy(col("id")).offset(100).limit(25)

  val a17Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items ORDER BY id LIMIT 25 OFFSET 100")

  /** numMatched: same filter subtree, COUNT over pruned columns — reads no
    * data columns beyond the filter's (database_logic.py:698-770).
    */
  def a18Count(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "purchase") && dtRange(tLo, tHi) &&
        Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .agg(count(lit(1)).as("matched"))

  val a18Sql: String = Tables.withItems(
    s"""SELECT COUNT(*) AS matched FROM items
       |WHERE collection IN ('click', 'purchase') AND ${dtRangeSql(tLo, tHi)}
       |  AND ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)}""".stripMargin)

  /** Single-item lookup (database_logic.py:140-203): id equality over the
    * partition-pruned collection scan; LIMIT 1.
    */
  def a19ItemLookup(s: SparkSession, d: String): DataFrame =
    items(s, d).where(col("id") === "43")
      .select(projCols: _*).limit(1)

  val a19Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE id = '43' LIMIT 1")

  // ------------------------------------------------------ A20 serialize
  /** Row → STAC Feature JSON as a distributed projection
    * (utilities.py:114-288 does this in a Python row loop; here it's
    * `to_json(named_struct(...))` inside codegen), with the full Feature
    * surface: stac_version, geometry, bbox, assets, links, properties.
    *
    * Driver-checkable gate: raw JSON text is engine-specific, so the query
    * serializes AND parses back — each emitted column is extracted from
    * the JSON string by path and cast to its type, and the oracle computes
    * the same values directly. A wrong key, path, or value in the
    * serialized Feature surfaces as a column mismatch.
    */
  /** Per-item WKB geometry (the reference's storage format): point items
    * (even id) carry Point WKB; area items (odd id) carry their Polygon
    * footprint as WKB — requires the [[withEnvelope]] columns.
    */
  private def wkbCol: Column =
    when(col("id_num") % 2 === 0, graft.spatial.WkbPoint(col("lon"), col("lat")))
      .otherwise(graft.spatial.WkbBox(
        col("xmin"), col("ymin"), col("xmax"), col("ymax")))

  /** Feature JSON with geometry decoded from WKB (utilities.py:139-147
    * decodes WKB → GeoJSON per row; here [[graft.spatial.WkbGeoJson]] is a
    * codegen'd expression). `to_json` can't hold a per-row variant struct
    * (Point vs Polygon coordinates differ in shape), so the geometry
    * member is spliced in as raw JSON text ahead of the uniform remainder.
    */
  private def featureJsonCol: Column = {
    val selfHref = concat(lit("https://example.com/collections/"), col("collection"),
      lit("/items/"), col("id").cast("string"))
    // stac_extensions passthrough (utilities.py:224 — defaults to []) and
    // proj:* fields in properties (utilities.py:177-205): area items (odd
    // id) declare the projection extension and carry proj:epsg/proj:shape;
    // point items carry neither (nulls drop out of to_json, mirroring the
    // reference's skip-None loop).
    val isArea = col("id_num") % 2 === 1
    val rest = to_json(struct(
      lit("Feature").as("type"),
      lit("1.0.0").as("stac_version"),
      when(isArea, array(
        lit("https://stac-extensions.github.io/projection/v1.1.0/schema.json")))
        .otherwise(array().cast("array<string>")).as("stac_extensions"),
      col("id"),
      col("collection"),
      when(col("id_num") % 2 === 0, array(col("lon"), col("lat"), col("lon"), col("lat")))
        .otherwise(array(col("xmin"), col("ymin"), col("xmax"), col("ymax"))).as("bbox"),
      struct(
        struct(concat(selfHref, lit("/data.tif")).as("href"),
          lit("image/tiff").as("type")).as("data")).as("assets"),
      array(
        struct(lit("self").as("rel"), selfHref.as("href")),
        struct(lit("collection").as("rel"),
          concat(lit("https://example.com/collections/"), col("collection")).as("href"))
      ).as("links"),
      struct(
        concat(date_format(col("datetime"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("Z"))
          .as("datetime"),
        col("value"), col("user_id"),
        when(isArea, lit(4326)).as("proj:epsg"),
        // proj:shape is [height, width] (row-major raster convention)
        when(isArea, array(((col("id_num") * 7) % 64 + 16).cast("int"),
          (col("id_num") % 64 + 16).cast("int"))).as("proj:shape")).as("properties")
    ))
    concat(lit("{\"geometry\":"), graft.spatial.WkbGeoJson(wkbCol),
      lit(","), substring(rest, 2, Int.MaxValue))
  }

  /** Any items-view frame → the same frame + its `_feature` STAC JSON
    * column (A20's document projection) — the serving path StacApi
    * .searchFeatures pages over.
    */
  private[search] def featureFrameOn(df: DataFrame): DataFrame =
    withEnvelope(df).withColumn("_feature", featureJsonCol)

  /** The items columns [[featureFrameOn]] reads. */
  private[search] val featureCols: Seq[String] =
    Seq("id", "id_num", "collection", "datetime", "lon", "lat", "value", "user_id")

  /** Raw Feature JSON (unit-tested by parsing in StacSearchSpec). */
  def a20FeatureJson(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d)).orderBy(col("id")).limit(20)
      .select(col("id"), featureJsonCol.as("feature"))

  def a20Serialize(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d)).orderBy(col("id")).limit(20)
      .select(col("id"), col("id_num"), featureJsonCol.as("f"))
      .select(col("id"),
        get_json_object(col("f"), "$.type").as("f_type"),
        get_json_object(col("f"), "$.stac_version").as("f_version"),
        get_json_object(col("f"), "$.id").as("f_id"),
        get_json_object(col("f"), "$.collection").as("f_collection"),
        get_json_object(col("f"), "$.geometry.type").as("f_geom_type"),
        // Point rows: coordinates[0/1]; Polygon rows: first ring vertex =
        // (xmin, ymin) of the footprint box
        when(col("id_num") % 2 === 0,
          get_json_object(col("f"), "$.geometry.coordinates[0]"))
          .otherwise(get_json_object(col("f"), "$.geometry.coordinates[0][0][0]"))
          .cast("double").as("f_gx"),
        when(col("id_num") % 2 === 0,
          get_json_object(col("f"), "$.geometry.coordinates[1]"))
          .otherwise(get_json_object(col("f"), "$.geometry.coordinates[0][0][1]"))
          .cast("double").as("f_gy"),
        get_json_object(col("f"), "$.bbox[2]").cast("double").as("f_bbox_e"),
        get_json_object(col("f"), "$.stac_extensions[0]").as("f_ext0"),
        get_json_object(col("f"), "$.properties['proj:epsg']").cast("int").as("f_proj_epsg"),
        get_json_object(col("f"), "$.properties['proj:shape'][0]").cast("int").as("f_proj_h"),
        get_json_object(col("f"), "$.assets.data.href").as("f_asset_href"),
        get_json_object(col("f"), "$.assets.data.type").as("f_asset_type"),
        get_json_object(col("f"), "$.links[0].rel").as("f_link0_rel"),
        get_json_object(col("f"), "$.links[1].href").as("f_link1_href"),
        get_json_object(col("f"), "$.properties.datetime").as("f_datetime"),
        get_json_object(col("f"), "$.properties.value").cast("double").as("f_value"),
        get_json_object(col("f"), "$.properties.user_id").cast("bigint").as("f_user_id"))
      .orderBy(col("id"))

  /** Oracle: the same Feature fields computed DIRECTLY from the items view
    * — equality proves the serialized JSON put the right values at the
    * right paths with the right types.
    */
  val a20Sql: String = Tables.withItems(
    s"""SELECT id, 'Feature' AS f_type, '1.0.0' AS f_version,
      |  id AS f_id, collection AS f_collection,
      |  CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS f_geom_type,
      |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmin END AS f_gx,
      |  CASE WHEN id_num % 2 = 0 THEN lat ELSE ymin END AS f_gy,
      |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmax END AS f_bbox_e,
      |  CASE WHEN id_num % 2 = 1
      |       THEN 'https://stac-extensions.github.io/projection/v1.1.0/schema.json'
      |       END AS f_ext0,
      |  CASE WHEN id_num % 2 = 1 THEN 4326 END AS f_proj_epsg,
      |  CASE WHEN id_num % 2 = 1 THEN CAST((id_num * 7) % 64 + 16 AS INTEGER) END AS f_proj_h,
      |  'https://example.com/collections/'||collection||'/items/'||id||'/data.tif' AS f_asset_href,
      |  'image/tiff' AS f_asset_type,
      |  'self' AS f_link0_rel,
      |  'https://example.com/collections/'||collection AS f_link1_href,
      |  CASE WHEN datetime IS NULL THEN NULL
      |       ELSE strftime(datetime, '%Y-%m-%dT%H:%M:%S.%f')||'Z' END AS f_datetime,
      |  value AS f_value, user_id AS f_user_id
      |FROM (SELECT id, id_num, collection, datetime, value, user_id, lon, lat,
      |  $envelopeSqlCols FROM items)
      |ORDER BY id LIMIT 20""".stripMargin)

  // ---------------------------------------------------- A22 flagship
  /** Combined search: collections + datetime + bbox + CQL2 + sort + page —
    * the reference's full search path in one plan
    * (tests/api/test_api.py:77-90).
    */
  private val a22Cql = Cql.parseJson(
    """{"between":[{"property":"value"},20.5,400.5]}""")

  def a22CombinedSearch(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "view", "purchase"))
      .where(dtRange("2024-01-05 00:00:00", "2024-01-28 00:00:00"))
      .where(Geo.bboxContains(col("lon"), col("lat"), -120.5, -60.5, 120.5, 60.5))
      .where(a22Cql.toColumn)
      .select(projCols: _*)
      .orderBy(col("value").desc, col("id").asc)
      .offset(10).limit(25)

  val a22Sql: String = Tables.withItems(
    s"""SELECT $projSql FROM items
       |WHERE collection IN ('click', 'view', 'purchase')
       |  AND ${dtRangeSql("2024-01-05 00:00:00", "2024-01-28 00:00:00")}
       |  AND ${Geo.bboxContainsSql("lon", "lat", -120.5, -60.5, 120.5, 60.5)}
       |  AND ${a22Cql.toSql}
       |ORDER BY value DESC, id ASC LIMIT 25 OFFSET 10""".stripMargin)

  // ----------------- A71 typed-endpoint page walk (item collection)
  /** A71: the TYPED API gated by the oracle — every other A-gate drives
    * the planner directly; this one walks `GET /collections/{id}/items`
    * the way a client does: [[StacApi.search]] page 1 (collections +
    * datetime + sort), take the RETURNED keyset token, fetch page 2
    * through it, and emit page 2 plus the API's numMatched. The oracle
    * re-derives page 2 as OFFSET/LIMIT under the same total order
    * (value DESC, id ASC — unique tiebreak ⇒ keyset ≡ offset), so a
    * drifted token codec, a null-ordering mismatch, or an off-by-one at
    * the page boundary all surface as a row diff, not a green test. The
    * page is bounded by `limit` — the collect and re-frame cost is a
    * page, never a corpus; the keyset predicate itself is the scale
    * point (pushes down; no offset scan — A23's doctrine).
    */
  def a71ItemCollection(s: SparkSession, d: String): DataFrame = {
    val params = SearchParams(
      collections = Seq("click", "view"),
      datetime = Some("2024-01-05 00:00:00/2024-01-28 00:00:00"),
      sortBy = Seq(SortBy("properties.value", desc = true)),
      limit = 20)
    // page 1 is only walked for its token — don't pay numMatched twice
    val p1 = StacApi.search(s, d, params.copy(withCount = false))
    val token = p1.nextToken.getOrElse(
      throw new IllegalStateException("page 1 not full — fixture too small"))
    val p2 = StacApi.search(s, d, params.copy(token = Some(token)))
    val rows = java.util.Arrays.asList(p2.items: _*)
    s.createDataFrame(rows, p2.items.head.schema)
      .select(col("id"), col("collection"), col("value"))
      .withColumn("matched", lit(p2.numMatched))
      .orderBy(col("id"))
  }

  val a71Sql: String = Tables.withItems(
    s""", f AS (SELECT * FROM items
       |  WHERE collection IN ('click', 'view')
       |    AND ${dtRangeSql("2024-01-05 00:00:00", "2024-01-28 00:00:00")})
       |SELECT id, collection, value, (SELECT COUNT(*) FROM f) AS matched
       |FROM (
       |  SELECT id, collection, value FROM f
       |  ORDER BY value DESC, id ASC LIMIT 20 OFFSET 20)
       |ORDER BY id""".stripMargin)

  // ------------------------------------------------------- A23 keyset
  /** Keyset (search-after) pagination — the 100 TB replacement for OFFSET:
    * token = last (value, id_num); next page = lexicographic predicate
    * that pushes down, then top-k. No offset scan of skipped rows. The
    * tiebreak is id_num (a PHYSICAL column, so the predicate reaches
    * PushedFilters — audited in PlanAuditSpec): any unique stored column
    * is a valid keyset tiebreak, and the view's string `id` is a derived
    * cast that can never push. In a real catalog the string id is stored
    * and pushes directly.
    */
  def a23KeysetPaginate(s: SparkSession, d: String): DataFrame = {
    val (v0, id0) = (250.0, 0L)
    items(s, d)
      .where(col("value") > v0 || (col("value") === v0 && col("id_num") > id0))
      .select(projCols: _*)
      .orderBy(col("value").asc, col("id_num").asc).limit(25)
  }

  val a23Sql: String = Tables.withItems(
    s"""SELECT $projSql FROM items
       |WHERE value > 250.0 OR (value = 250.0 AND id_num > 0)
       |ORDER BY value ASC, id_num ASC LIMIT 25""".stripMargin)

  // ------------------------------------------------- A24 z-curve cells
  /** Z-order (Morton) spatial bucketing — the 100 TB spatial-pruning
    * pattern: each item's (lon, lat) maps to a cell on a 16×16 grid with
    * bit-interleaved ids; a bbox query becomes `cell IN (cover)` — at
    * scale a partition/bucket prune that reads nothing outside the
    * cover — AND'd with the exact bbox predicate. The oracle is the PLAIN
    * bbox query: result equality proves the cover is a correct superset.
    */
  private val zLevel = 4 // 16x16 grid

  private def interleave(ix: Int, iy: Int): Int =
    (0 until zLevel).map(k => (((ix >> k) & 1) << (2 * k + 1)) | (((iy >> k) & 1) << (2 * k))).sum

  /** Cells covering a bbox (computed at plan time, driver-side). */
  private[search] def zCover(w: Double, s: Double, e: Double, n: Double): Seq[Int] = {
    def clamp(i: Int) = math.min(math.max(i, 0), (1 << zLevel) - 1)
    val ix0 = clamp(math.floor((w + 180.0) / 360.0 * (1 << zLevel)).toInt)
    val ix1 = clamp(math.floor((e + 180.0) / 360.0 * (1 << zLevel)).toInt)
    val iy0 = clamp(math.floor((s + 90.0) / 180.0 * (1 << zLevel)).toInt)
    val iy1 = clamp(math.floor((n + 90.0) / 180.0 * (1 << zLevel)).toInt)
    for (ix <- ix0 to ix1; iy <- iy0 to iy1) yield interleave(ix, iy)
  }

  def a24ZcurveCells(s: SparkSession, d: String): DataFrame = {
    val cover = zCover(bbox._1, bbox._2, bbox._3, bbox._4)
    items(s, d)
      .withColumn("zcell", expr(s"(${zCellBitsExpr})"))
      .where(col("zcell").isin(cover: _*)) // at scale: partition prune
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .select(projCols: _*).orderBy(col("id"))
  }

  /** Flat (non-subquery) form of [[zCellExpr]] for Catalyst. */
  private def zCellBitsExpr: String = {
    val ix = s"CAST(least(greatest(floor((lon + 180.0) / 360.0 * ${1 << zLevel}.0), 0.0), ${(1 << zLevel) - 1}.0) AS INT)"
    val iy = s"CAST(least(greatest(floor((lat + 90.0) / 180.0 * ${1 << zLevel}.0), 0.0), ${(1 << zLevel) - 1}.0) AS INT)"
    (0 until zLevel).map(k =>
      s"(shiftleft(shiftright($ix, $k) & 1, ${2 * k + 1}) + shiftleft(shiftright($iy, $k) & 1, ${2 * k}))")
      .mkString(" + ")
  }

  /** Oracle: the plain bbox query — proves the z-cover is a correct superset. */
  val a24Sql: String = a8Sql

  // ------------------------------------------------- A30 z-range scan
  /** Finer Z-order pruning: at level 6 (64×64 grid) the bbox cover is
    * hundreds of cells — instead of an IN-list, consecutive Morton codes
    * merge into contiguous RANGES and the predicate becomes a small
    * OR-of-BETWEENs, which parquet row-group stats can prune when data is
    * written in Z order (ItemsLayout + sort by zcell). Oracle is again the
    * plain bbox query: equality proves the range cover is a correct
    * superset.
    */
  private val zrLevel = 6

  private def interleaveL(level: Int)(ix: Int, iy: Int): Int =
    (0 until level).map(k => (((ix >> k) & 1) << (2 * k + 1)) | (((iy >> k) & 1) << (2 * k))).sum

  /** Merged contiguous z-ranges covering a bbox at `zrLevel` (reference
    * enumerate+merge form; [[zRangesSplit]] is the scale path).
    */
  def zRanges(w: Double, s: Double, e: Double, n: Double): Seq[(Int, Int)] = {
    val size = 1 << zrLevel
    def clamp(i: Int) = math.min(math.max(i, 0), size - 1)
    val ix0 = clamp(math.floor((w + 180.0) / 360.0 * size).toInt)
    val ix1 = clamp(math.floor((e + 180.0) / 360.0 * size).toInt)
    val iy0 = clamp(math.floor((s + 90.0) / 180.0 * size).toInt)
    val iy1 = clamp(math.floor((n + 90.0) / 180.0 * size).toInt)
    val cells = (for (ix <- ix0 to ix1; iy <- iy0 to iy1)
      yield interleaveL(zrLevel)(ix, iy)).sorted
    // merge consecutive codes into ranges
    cells.foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: rest, c) if c == b + 1 => (a, c) :: rest
      case (acc, c) => (c, c) :: acc
    }.reverse
  }

  private def zrCellExpr: String = {
    val size = 1 << zrLevel
    val ix = s"CAST(least(greatest(floor((lon + 180.0) / 360.0 * $size.0), 0.0), ${size - 1}.0) AS INT)"
    val iy = s"CAST(least(greatest(floor((lat + 90.0) / 180.0 * $size.0), 0.0), ${size - 1}.0) AS INT)"
    (0 until zrLevel).map(k =>
      s"(shiftleft(shiftright($ix, $k) & 1, ${2 * k + 1}) + shiftleft(shiftright($iy, $k) & 1, ${2 * k}))")
      .mkString(" + ")
  }

  /** Level-6 Z-cell as a Column — the stored layout column for
    * [[graft.core.ItemsLayout.materializeZOrdered]].
    */
  def zCellColumn: Column = expr(s"($zrCellExpr)")

  /** BIGMIN/LITMAX-style range derivation (Tropf–Herzog): recursive
    * quadtree descent emits a z-range per maximal fully-covered square and
    * recurses into partially-covered ones — the merged range cover WITHOUT
    * enumerating cells (zRanges enumerates all |cover| cells; at level 20
    * that's 10¹² cells while the split recursion stays O(ranges·level)).
    * Unit-proven equal to the enumerate+merge form at this level.
    */
  def zRangesSplit(w: Double, s: Double, e: Double, n: Double): Seq[(Int, Int)] = {
    val size = 1 << zrLevel
    def clamp(i: Int) = math.min(math.max(i, 0), size - 1)
    val ix0 = clamp(math.floor((w + 180.0) / 360.0 * size).toInt)
    val ix1 = clamp(math.floor((e + 180.0) / 360.0 * size).toInt)
    val iy0 = clamp(math.floor((s + 90.0) / 180.0 * size).toInt)
    val iy1 = clamp(math.floor((n + 90.0) / 180.0 * size).toInt)
    // square of side `sz` at cell (x0, y0) spans z-codes [z, z + sz²)
    def rec(x0: Int, y0: Int, sz: Int, z: Int): List[(Int, Int)] = {
      val x1 = x0 + sz - 1; val y1 = y0 + sz - 1
      if (x1 < ix0 || x0 > ix1 || y1 < iy0 || y0 > iy1) Nil
      else if (x0 >= ix0 && x1 <= ix1 && y0 >= iy0 && y1 <= iy1)
        List((z, z + sz * sz - 1))
      else {
        val h = sz / 2
        // z-order with y in the LOW interleave bit: quadrant offsets are
        // (2·xbit + ybit)·h²
        rec(x0, y0, h, z) :::
          rec(x0, y0 + h, h, z + h * h) :::
          rec(x0 + h, y0, h, z + 2 * h * h) :::
          rec(x0 + h, y0 + h, h, z + 3 * h * h)
      }
    }
    // merge ranges that touch (recursion emits them in ascending z order)
    rec(0, 0, size, 0).foldLeft(List.empty[(Int, Int)]) {
      case ((a, b) :: rest, (c, d)) if c == b + 1 => (a, d) :: rest
      case (acc, r) => r :: acc
    }.reverse
  }

  def a30ZrangeScan(s: SparkSession, d: String): DataFrame = {
    // the merged ranges drive pruning on a PHYSICAL z-sorted column
    // (ItemsLayout.materializeZOrdered + the row-group-pruning audit in
    // ItemsLayoutSpec); in this on-the-fly form the predicate is the
    // expanded cell cover as an InSet — a single zcell occurrence, because
    // Catalyst inlines the projected expression into every disjunct of an
    // OR-of-BETWEENs (~60 copies, enough to break whole-stage codegen).
    // Ranges come from the BIGMIN-style split recursion (≡ enumerate+merge,
    // unit-proven).
    val cover = zRangesSplit(bbox._1, bbox._2, bbox._3, bbox._4)
      .flatMap { case (a, b) => a to b }
    items(s, d)
      .withColumn("zcell", expr(s"($zrCellExpr)"))
      .where(col("zcell").isin(cover: _*))
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .select(projCols: _*).orderBy(col("id"))
  }

  /** Oracle: plain bbox — proves the merged range cover is a superset. */
  val a30Sql: String = a8Sql

  // --------------- A63 covering-index (manifest) scan planning
  /** A63: COVERING-INDEX scan planning — the GeoParquet-1.1 `covering.
    * bbox` idea lifted to a file-level MANIFEST over the z-ordered items
    * layout (ItemsLayout.coveringManifest), closing §7.15's layout item:
    * a bbox search first prunes FILES by envelope overlap against the
    * |files|-row manifest (a catalog read, not a data read — the
    * driver-side file list is exactly what a table format's scan
    * planning does), then evaluates the exact predicate only on the
    * surviving files. Z-ordering makes the pruning effective: a compact
    * bbox's cells land in few range partitions, so most files' envelopes
    * miss the query box entirely (ItemsLayoutSpec asserts files are
    * actually skipped). Gate: oracle = the SAME bbox over ALL items —
    * equality proves the manifest prune is SOUND (no matching item lives
    * in a skipped file) and the layout round-trip lossless. Layout +
    * manifest materialize once per corpus snapshot (idempotent, keyed by
    * dir — the C47/C67 state-table convention).
    */
  private val a63Bbox = (-175.0, -20.0, -120.0, 25.0) // compact & populated: real pruning

  // private[graft]: the layout spec audits THESE dirs instead of re-deriving
  // the key (r11 ADVICE — a drifted re-derivation inspects the wrong dir)
  private[graft] def a63Paths(s: SparkSession, d: String): (String, String) = {
    val lp = Staged("itemszlayout", 1, d, "events")(
      graft.core.ItemsLayout.materializeZOrdered(items(s, d), zCellColumn, _,
        numFiles = 16))
    (lp, manifestOf(s, "itemsmanifest", d, lp))
  }

  /** The covering manifest of a COMMITTED layout dir — staged after the
    * layout, because its rows name the layout's files by path.
    */
  private def manifestOf(s: SparkSession, name: String, d: String, lp: String): String =
    Staged(name, 1, d, "events")(
      graft.core.ItemsLayout.coveringManifest(s, lp).write.parquet(_))

  /** Manifest-selected data files for a bbox (exposed for the spec's
    * pruning audit).
    */
  private[graft] def a63CandidateFiles(s: SparkSession, d: String,
      w: Double, so: Double, e: Double, n: Double): Seq[String] = {
    val (_, mp) = a63Paths(s, d)
    s.read.parquet(mp)
      .where(col("xmin") <= e && col("xmax") >= w &&
        col("ymin") <= n && col("ymax") >= so)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
  }

  def a63CoveringIndex(s: SparkSession, d: String): DataFrame = {
    val (lp, mp) = a63Paths(s, d)
    val (w, so, e, n) = a63Bbox
    val files = a63CandidateFiles(s, d, w, so, e, n)
    val pruned =
      if (files.isEmpty) graft.core.ItemsLayout.read(s, lp).limit(0)
      else s.read.parquet(files: _*)
    pruned
      .where(Geo.bboxContains(col("lon"), col("lat"), w, so, e, n))
      .select(projCols: _*).orderBy(col("id"))
  }

  /** Oracle: the same bbox over ALL items — soundness of the file prune. */
  val a63Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.bboxContainsSql("lon", "lat",
      a63Bbox._1, a63Bbox._2, a63Bbox._3, a63Bbox._4)} ORDER BY id")

  // --------------- A64 manifest DATETIME pruning (temporal layout)
  /** A64: the covering manifest put to work on the TEMPORAL axis — and
    * the reason a lake keeps one physical projection per dominant access
    * path: the z-ordered layout clusters space, so every file spans the
    * whole time range and a datetime prune would keep everything. A64
    * materializes the items a SECOND way (range-partitioned + sorted by
    * `coalesce(datetime, start_datetime)` — non-null for every item) and
    * indexes it with the same manifest builder. The file-level prune
    * carries the reference's FULL datetime-overlap semantics
    * (database_logic.py:279-312) at file granularity: a file survives if
    * its instant-item range [dt_min, dt_max] OR its interval-item
    * envelope [sd_min, ed_max] overlaps the search window (null
    * aggregate = no items of that kind = that disjunct false). The exact
    * row predicate then runs on the survivors only. Gate oracle = A6's
    * datetime-range search over ALL items: equality proves no instant
    * NOR interval item was lost to the prune. ItemsLayoutSpec asserts
    * files are actually skipped on the temporal layout.
    */
  private[graft] def a64Paths(s: SparkSession, d: String): (String, String) = {
    val lp = Staged("itemstlayout", 1, d, "events")(
      graft.core.ItemsLayout.materializeSorted(items(s, d),
        coalesce(col("datetime"), col("start_datetime")), _, numFiles = 16))
    (lp, manifestOf(s, "itemstmanifest", d, lp))
  }

  private[graft] def a64CandidateFiles(s: SparkSession, d: String,
      lo: String, hi: String): Seq[String] = {
    val (_, mp) = a64Paths(s, d)
    s.read.parquet(mp)
      .where(
        coalesce(col("dt_min") <= ts(hi) && col("dt_max") >= ts(lo), lit(false)) ||
        coalesce(col("sd_min") <= ts(hi) && col("ed_max") >= ts(lo), lit(false)))
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
  }

  def a64ManifestDatetime(s: SparkSession, d: String): DataFrame = {
    val (lp, _) = a64Paths(s, d)
    val files = a64CandidateFiles(s, d, tLo, tHi)
    val pruned =
      if (files.isEmpty) graft.core.ItemsLayout.read(s, lp).limit(0)
      else s.read.parquet(files: _*)
    pruned.where(dtRange(tLo, tHi))
      .select(dtProj.map(col): _*).orderBy(col("id"))
  }

  /** Oracle: A6's datetime-overlap search over ALL items. */
  val a64Sql: String = a6Sql

  // ------------------------------------------- A29 envelope geometries
  /** Non-point geometries: each item carries a bounding envelope
    * (xmin/ymin/xmax/ymax — here a deterministic box around the point;
    * in production the envelope of the real polygon, stored as plain
    * columns). A bbox search becomes INTERVAL OVERLAP — four range
    * predicates that push down to parquet row-group stats exactly like
    * the point case. The exact polygon test would run as a post-filter
    * only on envelope survivors (the PointInPolygon pattern).
    */
  private def withEnvelope(df: DataFrame): DataFrame = {
    val halfW = (col("user_id") % 10).cast("double") / 10.0 + 0.1
    val halfH = (col("id_num") % 7).cast("double") / 10.0 + 0.1
    df.withColumn("xmin", col("lon") - halfW)
      .withColumn("xmax", col("lon") + halfW)
      .withColumn("ymin", col("lat") - halfH)
      .withColumn("ymax", col("lat") + halfH)
  }

  // lazy: referenced by a20Sql, which is declared earlier in the object
  private lazy val envelopeSqlCols =
    """lon - (CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1) AS xmin,
      |lon + (CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1) AS xmax,
      |lat - (CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1) AS ymin,
      |lat + (CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1) AS ymax""".stripMargin

  def a29EnvelopeOverlap(s: SparkSession, d: String): DataFrame = {
    val (w, so, e, n) = bbox
    withEnvelope(items(s, d))
      .where(col("xmin") <= e && col("xmax") >= w &&
        col("ymin") <= n && col("ymax") >= so)
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
      .orderBy(col("id"))
  }

  val a29Sql: String = Tables.withItems(
    s"""SELECT id, collection, xmin, ymin, xmax, ymax FROM (
       |  SELECT id, collection, $envelopeSqlCols FROM items)
       |WHERE xmin <= ${bbox._3} AND xmax >= ${bbox._1}
       |  AND ymin <= ${bbox._4} AND ymax >= ${bbox._2}
       |ORDER BY id""".stripMargin)

  // --------------------------------- A33/A34/A35/A36 arbitrary geometry
  /** Concave 6-vertex CCW ring (an L with a diagonal notch edge) and its
    * convex decomposition — the two quads share the diagonal, so their
    * union is exactly the concave ring (validated numerically). Coords are
    * off the data grid (lon 2-dp, lat integer) so no point or footprint
    * edge lies on a boundary.
    */
  private val concaveRing: Array[Double] = Array(
    -60.137, -40.223, 30.139, -40.223, 30.139, 10.177,
    -10.861, 20.223, -10.861, 45.223, -60.137, 45.223)
  private val concaveGeom: Array[Array[Array[Double]]] = Array(Array(concaveRing))
  private val concavePiece1: Array[Double] = Array(
    -60.137, -40.223, 30.139, -40.223, 30.139, 10.177, -10.861, 20.223)
  private val concavePiece2: Array[Double] = Array(
    -60.137, -40.223, -10.861, 20.223, -10.861, 45.223, -60.137, 45.223)

  /** A33: intersects with a CONCAVE polygon — exact ray-cast kernel on the
    * Spark side; the oracle is the INDEPENDENT convex decomposition
    * (OR of half-plane tests), so kernel bugs can't hide.
    */
  def a33IntersectsConcave(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.intersectsGeom(col("lon"), col("lat"), concaveGeom))
      .select(projCols: _*).orderBy(col("id"))

  val a33Sql: String = Tables.withItems(
    s"""SELECT $projSql FROM items
       |WHERE (${Geo.convexIntersectsSql("lon", "lat", concavePiece1)}
       |    OR ${Geo.convexIntersectsSql("lon", "lat", concavePiece2)})
       |ORDER BY id""".stripMargin)

  /** MultiPolygon: convex pentagon A with a rectangular HOLE, plus a
    * disjoint rectangle B (hole verified inside A numerically).
    */
  private val mpOuterA: Array[Double] = Array(
    -80.137, -20.223, -20.139, -50.177, 40.141, -20.223, 20.139, 40.177, -60.137, 40.177)
  private val mpHoleA: Array[Double] = Array(
    -30.139, -10.223, 0.141, -10.223, 0.141, 15.177, -30.139, 15.177)
  private val mpRectB: Array[Double] = Array(
    80.137, -60.223, 140.139, -60.223, 140.139, 0.177, 80.137, 0.177)
  private val multiPolyGeom: Array[Array[Array[Double]]] =
    Array(Array(mpOuterA, mpHoleA), Array(mpRectB))

  /** A34: intersects with a MultiPolygon containing a hole. Oracle =
    * independent half-plane forms: (in A AND NOT in hole) OR in B.
    */
  def a34IntersectsMultipolygon(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.intersectsGeom(col("lon"), col("lat"), multiPolyGeom))
      .select(projCols: _*).orderBy(col("id"))

  val a34Sql: String = Tables.withItems(
    s"""SELECT $projSql FROM items
       |WHERE ((${Geo.convexIntersectsSql("lon", "lat", mpOuterA)}
       |        AND NOT ${Geo.convexIntersectsSql("lon", "lat", mpHoleA)})
       |    OR ${Geo.convexIntersectsSql("lon", "lat", mpRectB)})
       |ORDER BY id""".stripMargin)

  /** A35: NON-POINT item geometry — each item's footprint is its envelope
    * box (A29's columns); intersection with the concave query polygon runs
    * the exact box∩geometry kernel (corner containment + vertex-in-box +
    * edge crossings) behind an envelope prune. Oracle = INDEPENDENT
    * separating-axis tests against the convex decomposition.
    */
  def a35FootprintIntersects(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .where(Geo.footprintIntersectsGeom(
        col("xmin"), col("ymin"), col("xmax"), col("ymax"), concaveGeom))
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
      .orderBy(col("id"))

  val a35Sql: String = Tables.withItems(
    s"""SELECT id, collection, xmin, ymin, xmax, ymax FROM (
       |  SELECT id, collection, $envelopeSqlCols FROM items)
       |WHERE (${Geo.boxConvexSatSql("xmin", "ymin", "xmax", "ymax", concavePiece1)}
       |    OR ${Geo.boxConvexSatSql("xmin", "ymin", "xmax", "ymax", concavePiece2)})
       |ORDER BY id""".stripMargin)

  /** A36: the same MultiPolygon-with-hole routed through the CQL2 parser
    * (s_intersects with GeoJSON MultiPolygon) — proves the parser + the
    * general parity-SQL renderer; the kernel itself is proven
    * independently by a33/a34.
    */
  private val (a36Fn, a36Sql) = cqlQuery(
    """{"and":[
      |  {"s_intersects":[{"property":"geometry"},
      |    {"type":"MultiPolygon","coordinates":[
      |      [[[-80.137,-20.223],[-20.139,-50.177],[40.141,-20.223],[20.139,40.177],[-60.137,40.177],[-80.137,-20.223]],
      |       [[-30.139,-10.223],[0.141,-10.223],[0.141,15.177],[-30.139,15.177],[-30.139,-10.223]]],
      |      [[[80.137,-60.223],[140.139,-60.223],[140.139,0.177],[80.137,0.177],[80.137,-60.223]]]]}]},
      |  {">":[{"property":"value"},30.5]}
      |]}""".stripMargin)

  // ----------------------------------- A37 property resolution / A38 fields
  /** The items view's column names — static (used to resolve oracle SQL at
    * object init; the Spark side resolves against the live schema).
    */
  private val itemsSchema = Seq("id", "id_num", "collection", "datetime", "start_datetime",
    "end_datetime", "lon", "lat", "value", "user_id", "props")

  /** A37: CQL2 filters referencing `properties.value` / `properties__user_id`
    * name variants resolve against the schema (database_logic.py:640-644,
    * 880) — round-1 graft only resolved variants in the sort path.
    */
  private val a37Ast = Cql.parseJson(
    """{"and":[
      |  {">":[{"property":"properties.value"},150.5]},
      |  {"<=":[{"property":"properties__user_id"},120]},
      |  {"<>":[{"property":"collection"},"error"]}
      |]}""".stripMargin)

  def a37CqlPropertyResolve(s: SparkSession, d: String): DataFrame = {
    val it = items(s, d)
    it.where(Cql.resolve(a37Ast, it.columns.toSeq).toColumn)
      .select(projCols: _*).orderBy(col("id"))
  }

  val a37Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Cql.resolve(a37Ast, itemsSchema).toSql} ORDER BY id")

  /** A38: fields extension — include/exclude as a PLAN-level computed
    * projection (column pruning reaches the scan), via the typed API's
    * [[StacApi.applyFields]].
    */
  def a38Fields(s: SparkSession, d: String): DataFrame =
    StacApi.applyFields(
      items(s, d).where(col("collection") === "view"),
      SearchParams(collections = Seq("view"),
        include = Seq("properties.value", "datetime")))
      .orderBy(col("id"))

  val a38Sql: String = Tables.withItems(
    """SELECT id, collection, value, datetime FROM items
      |WHERE collection = 'view' ORDER BY id""".stripMargin)

  // ----------------------------------- A39 footprint s_intersects via CQL2
  /** A39: s_intersects against the item's FOOTPRINT (envelope box) through
    * the CQL2 filter tree — `{"property":"footprint"}` routes to the exact
    * box∩geometry kernel. Query = MultiPolygon of two convex quads; oracle
    * = the independent separating-axis form rendered by the SQL backend.
    */
  private val a39Ast = Cql.parseJson(
    """{"and":[
      |  {"s_intersects":[{"property":"footprint"},
      |    {"type":"MultiPolygon","coordinates":[
      |      [[[-70.137,-30.223],[-10.139,-45.177],[5.141,10.223],[-55.137,25.177],[-70.137,-30.223]]],
      |      [[[60.137,20.223],[120.139,20.223],[120.139,70.177],[60.137,70.177],[60.137,20.223]]]]}]},
      |  {">":[{"property":"value"},25.5]}
      |]}""".stripMargin)

  def a39FootprintCql(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .where(a39Ast.toColumn)
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), col("value"))
      .orderBy(col("id"))

  val a39Sql: String = Tables.withItems(
    s"""SELECT id, collection, xmin, ymin, xmax, ymax, value FROM (
       |  SELECT id, collection, value, $envelopeSqlCols FROM items)
       |WHERE ${a39Ast.toSql}
       |ORDER BY id""".stripMargin)

  // --------------------- A72/A73 s_disjoint and s_within (CQL2 spatial)
  /** A72: CQL2 S_DISJOINT — "everything OUTSIDE my region" (the exclusion
    * predicate: skip already-processed AOIs, mask a country out of a
    * crawl). Parses through the same cql2-json path and compiles to the
    * NEGATED exact intersects kernel — total on non-null coordinates, so
    * plain negation is exact; AND'd with a value predicate so the gate
    * exercises disjoint inside a filter tree, not alone.
    */
  private val a72Ast = Cql.parseJson(
    """{"and":[
      |  {"s_disjoint":[{"property":"geometry"},
      |    {"type":"Polygon","coordinates":[[[-120.137,-50.223],[60.139,-50.223],
      |     [60.139,40.177],[-120.137,40.177],[-120.137,-50.223]]]}]},
      |  {">":[{"property":"value"},30.5]}
      |]}""".stripMargin)

  def a72CqlDisjoint(s: SparkSession, d: String): DataFrame =
    items(s, d).where(a72Ast.toColumn).select(projCols: _*).orderBy(col("id"))

  val a72Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${a72Ast.toSql} ORDER BY id")

  /** A73: CQL2 S_WITHIN on the FOOTPRINT — "scenes completely covered by
    * my AOI" (the clipping-free-processing predicate: a scene fully
    * inside the area needs no boundary masking). Compiles to the corner
    * rule — all four envelope corners through the exact point-in-shape
    * kernel, valid because the query ring is convex (concave/holed query
    * shapes are rejected with a typed error, not answered approximately).
    */
  private val a73Ast = Cql.parseJson(
    """{"s_within":[{"property":"footprint"},
      |  {"type":"Polygon","coordinates":[[[-150.137,-60.223],[150.139,-75.223],
      |   [170.141,60.177],[-160.137,70.177],[-150.137,-60.223]]]}]}""".stripMargin)

  def a73CqlWithin(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .where(a73Ast.toColumn)
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
      .orderBy(col("id"))

  val a73Sql: String = Tables.withItems(
    s"""SELECT id, collection, xmin, ymin, xmax, ymax FROM (
       |  SELECT id, collection, $envelopeSqlCols FROM items)
       |WHERE ${a73Ast.toSql}
       |ORDER BY id""".stripMargin)

  /** A77: the rest of the OGC Enhanced-Spatial operator set — s_contains,
    * s_equals, s_touches, s_crosses, s_overlaps — on BOTH targets, as a
    * per-row boolean battery (every op evaluated on every item, so a
    * drifted DE-9IM conjunct flips a cell instead of maybe-dropping an
    * excluded row). Each column is a real cql2-json parse round-trip;
    * both backends render from the one AST. Nonzero-true columns:
    * f_cont (boxes around two probe points), f_crs (a transcontinental
    * polyline in and out of boxes), f_ovl / f_win (boxes straddling /
    * inside a 90°-wide concave L), g_tch (integer-lat items exactly on
    * a horizontal ring edge — the boundary kernel's exactness is load-
    * bearing, not avoided). f_eq / g_eq pin the FALSE-dominant path and
    * the constant folds (crosses/overlaps on a point ≡ FALSE).
    */
  private val a77Concave =
    """{"type":"Polygon","coordinates":[[[-60.137,-40.223],[30.139,-40.223],
      |[30.139,10.177],[-10.861,20.223],[-10.861,45.223],[-60.137,45.223],
      |[-60.137,-40.223]]]}""".stripMargin
  private val a77Ops: Seq[(String, String)] = Seq(
    "f_cont" -> ("""{"s_contains":[{"property":"footprint"},""" +
      """{"type":"Point","coordinates":[-79.85,-2.0]}]}"""),
    "f_eq" -> ("""{"s_equals":[{"property":"footprint"},""" +
      """{"type":"Polygon","coordinates":[[[17.0,41.5],[17.6,41.5],[17.6,42.5],[17.0,42.5],[17.0,41.5]]]}]}"""),
    "f_tch" -> ("""{"s_touches":[{"property":"footprint"},""" +
      """{"type":"Polygon","coordinates":[[[17.35,-80.0],[60.0,-80.0],[60.0,80.0],[17.35,80.0],[17.35,-80.0]]]}]}"""),
    "f_crs" -> ("""{"s_crosses":[{"property":"footprint"},""" +
      """{"type":"LineString","coordinates":[[-170.3,-80.1],[-60.7,30.3],[20.1,-20.7],[170.3,80.1]]}]}"""),
    "f_ovl" -> s"""{"s_overlaps":[{"property":"footprint"},$a77Concave]}""",
    "f_win" -> s"""{"s_within":[{"property":"footprint"},$a77Concave]}""",
    "g_tch" -> ("""{"s_touches":[{"property":"geometry"},""" +
      """{"type":"Polygon","coordinates":[[[-50.0,10.0],[50.0,10.0],[50.0,60.0],[-50.0,60.0],[-50.0,10.0]]]}]}"""),
    "g_cont" -> ("""{"s_contains":[{"property":"geometry"},""" +
      """{"type":"Point","coordinates":[-178.26,46.0]}]}"""),
    "g_eq" -> ("""{"s_equals":[{"property":"geometry"},""" +
      """{"type":"MultiPoint","coordinates":[[-178.26,46.0],[-178.26,46.0]]}]}"""),
    "g_crs" -> ("""{"s_crosses":[{"property":"geometry"},""" +
      """{"type":"LineString","coordinates":[[-10.0,-10.0],[10.0,10.0]]}]}""")
  )
  private val a77Asts: Seq[(String, Cql)] =
    a77Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  def a77CqlSpatialRel(s: SparkSession, d: String): DataFrame =
    withEnvelope(idOrdered(s, items(s, d)))
      .select(col("id") +: a77Asts.map { case (n, a) => a.toColumn.as(n) }: _*)

  val a77Sql: String = Tables.withItems(
    s"""SELECT id, ${a77Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM (SELECT id, lon, lat, $envelopeSqlCols FROM items)
       |ORDER BY id""".stripMargin)

  /** A81: CQL2 BBOX spatial literal (OGC 21-065 — cql2's own geometry
    * form, NOT GeoJSON) as a per-row boolean battery. The literal folds
    * to the polygon family at parse time ([[graft.spatial.Shape.fromBbox]])
    * so every existing kernel and the oracle rendering come for free;
    * the battery pins the fold's two spec'd edges — the ANTIMERIDIAN
    * split (W > E ⇒ union of two boxes, the same rule as the search
    * `bbox` param, A61) and the 6-number z-interval DROP (`bb_z` must
    * equal `bb_int` on every row or the hash breaks) — across
    * s_intersects / s_disjoint / s_within / s_overlaps on both targets.
    */
  private val a81Ops: Seq[(String, String)] = Seq(
    "bb_int"  -> """{"s_intersects":[{"property":"geometry"},{"bbox":[-30,-20,40,35]}]}""",
    // 6-number form: z-interval dropped ⇒ identical to bb_int per row
    "bb_z"    -> """{"s_intersects":[{"property":"geometry"},{"bbox":[-30,-20,-5.5,40,35,5.5]}]}""",
    // exact complement of bb_int — the cells partition every row
    "bb_dis"  -> """{"s_disjoint":[{"property":"geometry"},{"bbox":[-30,-20,40,35]}]}""",
    // W > E: crosses the antimeridian, union of [150,180] and [-180,-150]
    "bb_anti" -> """{"s_intersects":[{"property":"geometry"},{"bbox":[150,-40,-150,40]}]}""",
    "bb_win"  -> """{"s_within":[{"property":"footprint"},{"bbox":[-60,-45,60,45]}]}""",
    "bb_ovl"  -> """{"s_overlaps":[{"property":"footprint"},{"bbox":[-10,-10,10,10]}]}"""
  )
  private val a81Asts: Seq[(String, Cql)] =
    a81Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  def a81CqlBbox(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .select(col("id") +: a81Asts.map { case (n, a) => a.toColumn.as(n) }: _*)
      .orderBy(col("id"))

  val a81Sql: String = Tables.withItems(
    s"""SELECT id, ${a81Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM (SELECT id, lon, lat, $envelopeSqlCols FROM items)
       |ORDER BY id""".stripMargin)

  // ----------------- A88: TRUE rotated-polygon footprints (r11) -------
  /** A88: exact spatial relations on the item's TRUE non-box polygon
    * footprint — the last place the engine could disagree with the
    * reference on a real dataset (ST_Intersects is exact on whatever WKB
    * the file carries, database_logic.py:418-448; real satellite scenes
    * are rotated quadrilaterals, utilities.py:139-147 round-trips them).
    *
    * Fixture: each item's envelope box spun about (lon, lat) by one of
    * five EXACT Pythagorean rotations — rational (cos, sin) pairs, so
    * both engines derive bit-identical corners from the same literals
    * and the same operation order. The quad rides as a WKB Polygon
    * column (the reference's storage format); the Spark predicates
    * DECODE it per row through the codegen'd [[graft.spatial.WkbRelShape]]
    * kernel — the envelope is only ever the prune, never the answer.
    *
    * Battery: env_int (the envelope's OVER-APPROXIMATION, kept in the
    * output so the hash PINS exactly where envelope and true footprint
    * disagree — a kernel that silently fell back to the box breaks the
    * gate) beside the full exact relation set: intersects/disjoint vs a
    * concave notched region, within vs both the concave region and a
    * convex hull, contains(point), touches (branch-0 quads share the
    * x = 17.35 edge line with the probe rectangle — boundary exactness
    * load-bearing), overlaps, equals, crosses(line).
    *
    * Oracle: a DIFFERENT algorithm per cell — separating-axis tests over
    * the region's convex decomposition (closed and strict), half-plane
    * corner memberships, and the R-minus-notch within form — so a kernel
    * bug cannot hide behind a mirrored rendering.
    */
  // The notched rectangle SPUN by the exact rotation (0.8, 0.6) about
  // (-132, 2), constants derived in exact decimal arithmetic (every
  // vertex is a 4-dp literal both engines parse identically) and placed
  // over the fixture's dense lon band — EVERY region edge is diagonal,
  // so axis-aligned envelopes over-claim all along the boundary and the
  // gate hash pins the disagreement (2 rows at sf0.001, 27 at sf0.01).
  private val a88RegionRing: Array[Double] = Array(
    -147.1758, -49.6606, -79.1774, 1.3382, -91.1774, 17.3382,
    -117.4174, 10.6582, -103.4174, 33.6582, -118.4174, 53.6582,
    -186.4158, 2.6594)
  private val a88RegionGeom: Array[Array[Array[Double]]] = Array(Array(a88RegionRing))
  private val a88Region = graft.spatial.Shape.PolyS(a88RegionGeom)
  // convex decomposition of the region (validated numerically in GeoSpec)
  private val a88Pieces: Seq[Array[Double]] = Seq(
    Array(-147.1758, -49.6606, -79.1774, 1.3382, -91.1774, 17.3382,
      -159.1758, -33.6606),
    Array(-159.1758, -33.6606, -91.1774, 17.3382, -117.4174, 10.6582,
      -165.4158, -25.3406),
    Array(-165.4158, -25.3406, -117.4174, 10.6582, -103.4174, 33.6582,
      -171.4158, -17.3406),
    Array(-171.4158, -17.3406, -103.4174, 33.6582, -118.4174, 53.6582,
      -186.4158, 2.6594))
  // region = R minus the open notch N (both CCW) — the independent
  // within-oracle form
  private val a88Notch: Array[Double] =
    Array(-91.1774, 17.3382, -103.4174, 33.6582, -117.4174, 10.6582)
  private val a88R: Array[Double] = Array(
    -147.1758, -49.6606, -79.1774, 1.3382, -118.4174, 53.6582,
    -186.4158, 2.6594)
  private val a88Cvx: Array[Double] = Array(
    -186.137, -60.223, -85.139, -75.223, -65.141, 60.177, -196.137, 70.177)
  private val a88CvxShape = graft.spatial.Shape.PolyS(Array(Array(a88Cvx)))
  // branch-0 quads realize xmax = -166.25 exactly (2-dp grid) — the
  // touches-true cells share the rectangle's left edge LINE, so the
  // boundary kernels' exactness is load-bearing, not avoided
  private val a88TouchRect: Array[Double] =
    Array(-166.25, -80.0, -150.0, -80.0, -150.0, 80.0, -166.25, 80.0)
  private val a88TouchShape = graft.spatial.Shape.PolyS(Array(Array(a88TouchRect)))
  private val a88CntPoint = graft.spatial.Shape.PointS(-175.0, -45.25)
  private val a88EqQuad: Array[Double] =
    Array(-161.0, -35.0, -159.4, -33.8, -160.6, -32.2, -162.2, -33.4)
  private val a88EqShape = graft.spatial.Shape.PolyS(Array(Array(a88EqQuad)))
  private val a88LinePath: Array[Double] =
    Array(-170.3, -80.1, -60.7, 30.3, 20.1, -20.7, 170.3, 80.1)
  private val a88LineShape = graft.spatial.Shape.LinesS(Array(a88LinePath))

  /** Rotation classes: exact rational (cos, sin) — 3-4-5, 7-24-25
    * triples and identity, two spun clockwise. */
  private val a88RotC = Seq(1.0, 0.6, 0.28, 0.8, 0.96)
  private val a88RotS = Seq(0.0, 0.8, 0.96, -0.6, -0.28)

  /** items + the rotated-quad footprint: corner columns (the oracle's
    * shared derivation) and the WKB Polygon the kernels decode.
    */
  private def withQuad(df: DataFrame): DataFrame = {
    val hw = (col("user_id") % 10).cast("double") / 10.0 + 0.1
    val hh = (col("id_num") % 7).cast("double") / 10.0 + 0.1
    val rot = col("id_num") % 5
    def pick(vals: Seq[Double]): Column =
      vals.init.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (v, i)) =>
          Some(acc.fold(when(rot === i, v))(_.when(rot === i, v)))
      }.get.otherwise(vals.last)
    df.withColumn("qc", pick(a88RotC)).withColumn("qs", pick(a88RotS))
      .withColumn("qx0", col("lon") - col("qc") * hw + col("qs") * hh)
      .withColumn("qy0", col("lat") - col("qs") * hw - col("qc") * hh)
      .withColumn("qx1", col("lon") + col("qc") * hw + col("qs") * hh)
      .withColumn("qy1", col("lat") + col("qs") * hw - col("qc") * hh)
      .withColumn("qx2", col("lon") + col("qc") * hw - col("qs") * hh)
      .withColumn("qy2", col("lat") + col("qs") * hw + col("qc") * hh)
      .withColumn("qx3", col("lon") - col("qc") * hw - col("qs") * hh)
      .withColumn("qy3", col("lat") - col("qs") * hw + col("qc") * hh)
      .withColumn("qwkb", graft.spatial.WkbRingPoly(array(
        col("qx0"), col("qy0"), col("qx1"), col("qy1"),
        col("qx2"), col("qy2"), col("qx3"), col("qy3"))))
  }

  def a88PolygonFootprint(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.Geo.{RelContains, RelCrosses, RelEquals,
      RelIntersects, RelOverlaps, RelTouches, RelWithin}
    val df = withQuad(idOrdered(s, items(s, d)))
    def rel(shape: graft.spatial.Shape, r: Int): Column =
      Geo.wkbRelShapeCol(col("qwkb"), shape, r)
    val exmin = least(col("qx0"), col("qx1"), col("qx2"), col("qx3"))
    val eymin = least(col("qy0"), col("qy1"), col("qy2"), col("qy3"))
    val exmax = greatest(col("qx0"), col("qx1"), col("qx2"), col("qx3"))
    val eymax = greatest(col("qy0"), col("qy1"), col("qy2"), col("qy3"))
    df.select(col("id"),
      col("qx0"), col("qy0"), col("qx1"), col("qy1"),
      col("qx2"), col("qy2"), col("qx3"), col("qy3"),
      Geo.footprintIntersectsGeom(exmin, eymin, exmax, eymax, a88RegionGeom)
        .as("env_int"),
      rel(a88Region, RelIntersects).as("p_int"),
      (!rel(a88Region, RelIntersects)).as("p_dis"),
      rel(a88Region, RelWithin).as("p_win"),
      rel(a88CvxShape, RelWithin).as("p_win_cvx"),
      rel(a88CntPoint, RelContains).as("p_cnt"),
      rel(a88TouchShape, RelTouches).as("p_tch"),
      rel(a88Region, RelOverlaps).as("p_ovl"),
      rel(a88EqShape, RelEquals).as("p_eq"),
      rel(a88LineShape, RelCrosses).as("p_crs"))
  }

  val a88Sql: String = {
    import graft.spatial.Geo.QuadSql
    val q = QuadSql(
      IndexedSeq("qx0", "qx1", "qx2", "qx3"),
      IndexedSeq("qy0", "qy1", "qy2", "qy3"), "qc", "qs")
    val regionVerts = a88RegionRing.grouped(2).map { case Array(x, y) => (x, y) }.toSeq
    val eqVerts = a88EqQuad.grouped(2).map { case Array(x, y) => (x, y) }.toSeq
    val lineVerts = a88LinePath.grouped(2).map { case Array(x, y) => (x, y) }.toSeq
    val lineSegs = lineVerts.sliding(2).map { case Seq((ax, ay), (bx, by)) =>
      (ax, ay, bx, by)
    }.toSeq
    val pInt = a88Pieces.map(p => Geo.quadConvexSatSql(q, p, strict = false))
      .mkString("(", " OR ", ")")
    val cornersInR = (0 until 4).map(i =>
      Geo.convexIntersectsSql(s"qx$i", s"qy$i", a88R))
      .mkString("(", " AND ", ")")
    val pWin = s"($cornersInR AND NOT ${Geo.quadConvexSatSql(q, a88Notch, strict = true)})"
    val pWinCvx = (0 until 4).map(i =>
      Geo.convexIntersectsSql(s"qx$i", s"qy$i", a88Cvx)).mkString("(", " AND ", ")")
    val pCnt = Geo.pointInQuadSql(q, a88CntPoint.x, a88CntPoint.y, strict = true)
    val pTch = s"(${Geo.quadConvexSatSql(q, a88TouchRect, strict = false)}" +
      s" AND NOT ${Geo.quadConvexSatSql(q, a88TouchRect, strict = true)})"
    val interiorsMeet = a88Pieces.map(p => Geo.quadConvexSatSql(q, p, strict = true))
      .mkString("(", " OR ", ")")
    val pOvl = s"($interiorsMeet AND NOT $pWin" +
      s" AND NOT ${Geo.constVertsInQuadSql(q, regionVerts, strict = false)})"
    val pEq = s"(${Geo.constVertsInQuadSql(q, eqVerts, strict = false)} AND " +
      (0 until 4).map(i => Geo.convexIntersectsSql(s"qx$i", s"qy$i", a88EqQuad))
        .mkString("(", " AND ", ")") + ")"
    val lineOpen = lineSegs.map { case (ax, ay, bx, by) =>
      Geo.segOpenQuadSql(q, ax, ay, bx, by)
    }.mkString("(", " OR ", ")")
    val pCrs = s"($lineOpen AND NOT " +
      lineVerts.map { case (x, y) => Geo.pointInQuadSql(q, x, y, strict = false) }
        .mkString("(", " AND ", ")") + ")"
    val envInt = {
      val (exmin, eymin) = ("least(qx0, qx1, qx2, qx3)", "least(qy0, qy1, qy2, qy3)")
      val (exmax, eymax) =
        ("greatest(qx0, qx1, qx2, qx3)", "greatest(qy0, qy1, qy2, qy3)")
      a88Pieces.map(p => Geo.boxConvexSatSql(exmin, eymin, exmax, eymax, p))
        .mkString("(", " OR ", ")")
    }
    Tables.withItems(
      s"""SELECT id, qx0, qy0, qx1, qy1, qx2, qy2, qx3, qy3,
         |  $envInt AS env_int,
         |  $pInt AS p_int,
         |  (NOT $pInt) AS p_dis,
         |  $pWin AS p_win,
         |  $pWinCvx AS p_win_cvx,
         |  $pCnt AS p_cnt,
         |  $pTch AS p_tch,
         |  $pOvl AS p_ovl,
         |  $pEq AS p_eq,
         |  $pCrs AS p_crs
         |FROM (
         |  SELECT id, qc, qs,
         |    (lon - (qc * hw) + (qs * hh)) AS qx0,
         |    (lat - (qs * hw) - (qc * hh)) AS qy0,
         |    (lon + (qc * hw) + (qs * hh)) AS qx1,
         |    (lat + (qs * hw) - (qc * hh)) AS qy1,
         |    (lon + (qc * hw) - (qs * hh)) AS qx2,
         |    (lat + (qs * hw) + (qc * hh)) AS qy2,
         |    (lon - (qc * hw) - (qs * hh)) AS qx3,
         |    (lat - (qs * hw) + (qc * hh)) AS qy3
         |  FROM (
         |    SELECT id, lon, lat,
         |      (CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1) AS hw,
         |      (CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1) AS hh,
         |      CASE id_num % 5 WHEN 0 THEN 1.0 WHEN 1 THEN 0.6 WHEN 2 THEN 0.28
         |        WHEN 3 THEN 0.8 ELSE 0.96 END AS qc,
         |      CASE id_num % 5 WHEN 0 THEN 0.0 WHEN 1 THEN 0.8 WHEN 2 THEN 0.96
         |        WHEN 3 THEN -0.6 ELSE -0.28 END AS qs
         |    FROM items))
         |ORDER BY id""".stripMargin)
  }

  // --------------- A95: stored NON-AREAL footprints (r12) ---------------
  /** A95: the relation battery over STORED NON-AREAL WKB footprints —
    * the reference's `ST_Intersects(geometry, …)` + serializer are
    * type-agnostic over whatever WKB the row carries
    * (database_logic.py:418-448, utilities.py:13-22): a catalog of
    * flight paths or river scenes stores LineStrings, survey campaigns
    * MultiPoints. Items cycle through the four non-areal storage types
    * by `id_num % 4` — LineString (3-vertex polyline along the a88
    * rotated-quad corners v0→v1→v2), MultiPoint {v0,v1,v2},
    * MultiLineString {v0→v1, v2→v3} (the quad's opposite edges),
    * GeometryCollection {Point v0, LineString v1→v2} — each built
    * in-row as REAL WKB ([[graft.spatial.WkbLinePath]] /
    * [[graft.spatial.WkbCollect]]) and decoded back by the same
    * type-agnostic kernel the polygon gates use. Cells: the stored type
    * name (pins that four genuinely different WKB layouts are on disk)
    * and the DE-9IM set that is defined for dim < 2 vs areal targets —
    * intersects/disjoint vs the concave a88 region, within vs the
    * region and the convex hull, touches vs the shared-edge rectangle,
    * crosses (in-and-out) vs the region.
    *
    * Oracle: independent algorithms per primitive — half-plane
    * membership for points ([[Geo.pointConvexSql]]) and variable-
    * endpoint segment SAT ([[Geo.segConvexSatSql]]) over the region's
    * convex decomposition and the R-minus-notch closure form, vs the
    * kernels' ray-cast + crossing-parameter midpoint machinery. (The
    * oracle's interior tests are piecewise over the decomposition, so a
    * segment lying EXACTLY along an internal seam would diverge — the
    * seams are 4-dp diagonal lines off the fixture grid, and the gate
    * hash pins that no row lands there.)
    */
  def a95LineFootprint(s: SparkSession, d: String): DataFrame = {
    import graft.spatial.Geo.{RelCrosses, RelIntersects, RelTouches, RelWithin}
    import graft.spatial.{WkbCollect, WkbLinePath, WkbPoint, WkbType}
    val df = withQuad(idOrdered(s, items(s, d)))
      .withColumn("ntyp", (col("id_num") % 4).cast("int"))
    def pt(i: Int): Column = WkbPoint(col(s"qx$i"), col(s"qy$i"))
    def path(is: Int*): Column = WkbLinePath(array(
      is.flatMap(i => Seq(col(s"qx$i"), col(s"qy$i"))): _*))
    val nwkb = when(col("ntyp") === 0, path(0, 1, 2))
      .when(col("ntyp") === 1, WkbCollect(array(pt(0), pt(1), pt(2)), 4))
      .when(col("ntyp") === 2, WkbCollect(array(path(0, 1), path(2, 3)), 5))
      .otherwise(WkbCollect(array(pt(0), path(1, 2)), 7))
    val withWkb = df.withColumn("nwkb", nwkb)
    def rel(shape: graft.spatial.Shape, r: Int): Column =
      Geo.wkbRelShapeCol(col("nwkb"), shape, r)
    withWkb.select(col("id"), col("ntyp"),
      col("qx0"), col("qy0"), col("qx1"), col("qy1"),
      col("qx2"), col("qy2"), col("qx3"), col("qy3"),
      WkbType(col("nwkb")).as("n_typ"),
      rel(a88Region, RelIntersects).as("n_int"),
      (!rel(a88Region, RelIntersects)).as("n_dis"),
      rel(a88Region, RelWithin).as("n_win"),
      rel(a88CvxShape, RelWithin).as("n_win_cvx"),
      rel(a88TouchShape, RelTouches).as("n_tch"),
      rel(a88Region, RelCrosses).as("n_crs"))
  }

  val a95Sql: String = {
    type Pt = (String, String)
    type Sg = (String, String, String, String)
    val v = IndexedSeq(("qx0", "qy0"), ("qx1", "qy1"), ("qx2", "qy2"), ("qx3", "qy3"))
    def sg(i: Int, j: Int): Sg = (v(i)._1, v(i)._2, v(j)._1, v(j)._2)
    // part structure per stored type: points + segments over the corners
    val partsByType: IndexedSeq[(Seq[Pt], Seq[Sg])] = IndexedSeq(
      (Nil, Seq(sg(0, 1), sg(1, 2))),      // 0 LineString v0→v1→v2
      (Seq(v(0), v(1), v(2)), Nil),        // 1 MultiPoint
      (Nil, Seq(sg(0, 1), sg(2, 3))),      // 2 MultiLineString
      (Seq(v(0)), Seq(sg(1, 2))))          // 3 GeometryCollection
    def ptIn(p: Pt, ring: Array[Double], strict: Boolean): String =
      Geo.pointConvexSql(p._1, p._2, ring, strict)
    def sgSat(g: Sg, ring: Array[Double], strict: Boolean): String =
      Geo.segConvexSatSql(g._1, g._2, g._3, g._4, ring, strict)
    // any part meets any ring (closed), or reaches any ring's interior
    def meets(t: Int, rings: Seq[Array[Double]], strict: Boolean): String = {
      val (ps, gs) = partsByType(t)
      rings.flatMap(r => ps.map(ptIn(_, r, strict)) ++ gs.map(sgSat(_, r, strict)))
        .mkString("(", " OR ", ")")
    }
    // every part inside closure(region) = R minus the open notch
    def inRegion(t: Int): String = {
      val (ps, gs) = partsByType(t)
      val ptsOk = ps.map(p =>
        s"(${ptIn(p, a88R, strict = false)} AND NOT ${ptIn(p, a88Notch, strict = true)})")
      val segsOk = gs.map(g =>
        s"(${ptIn((g._1, g._2), a88R, strict = false)} AND " +
          s"${ptIn((g._3, g._4), a88R, strict = false)} AND NOT " +
          s"${sgSat(g, a88Notch, strict = true)})")
      (ptsOk ++ segsOk).mkString("(", " AND ", ")")
    }
    // every part inside the CONVEX hull: vertex membership suffices
    def inCvx(t: Int): String = {
      val (ps, gs) = partsByType(t)
      val pts = ps ++ gs.flatMap(g => Seq((g._1, g._2), (g._3, g._4)))
      pts.map(ptIn(_, a88Cvx, strict = false)).mkString("(", " AND ", ")")
    }
    def byType(f: Int => String): String =
      s"(CASE ntyp WHEN 0 THEN ${f(0)} WHEN 1 THEN ${f(1)} " +
        s"WHEN 2 THEN ${f(2)} ELSE ${f(3)} END)"
    val nInt = byType(meets(_, a88Pieces, strict = false))
    val nWin = byType(t => s"(${inRegion(t)} AND ${meets(t, a88Pieces, strict = true)})")
    val nWinCvx = byType(t => s"(${inCvx(t)} AND ${meets(t, Seq(a88Cvx), strict = true)})")
    val nTch = byType(t => s"(${meets(t, Seq(a88TouchRect), strict = false)} AND NOT " +
      s"${meets(t, Seq(a88TouchRect), strict = true)})")
    val nCrs = byType(t => s"(${meets(t, a88Pieces, strict = true)} AND NOT ${inRegion(t)})")
    Tables.withItems(
      s"""SELECT id, ntyp, qx0, qy0, qx1, qy1, qx2, qy2, qx3, qy3,
         |  (CASE ntyp WHEN 0 THEN 'LineString' WHEN 1 THEN 'MultiPoint'
         |    WHEN 2 THEN 'MultiLineString' ELSE 'GeometryCollection' END) AS n_typ,
         |  $nInt AS n_int,
         |  (NOT $nInt) AS n_dis,
         |  $nWin AS n_win,
         |  $nWinCvx AS n_win_cvx,
         |  $nTch AS n_tch,
         |  $nCrs AS n_crs
         |FROM (
         |  SELECT id, ntyp,
         |    (lon - (qc * hw) + (qs * hh)) AS qx0,
         |    (lat - (qs * hw) - (qc * hh)) AS qy0,
         |    (lon + (qc * hw) + (qs * hh)) AS qx1,
         |    (lat + (qs * hw) - (qc * hh)) AS qy1,
         |    (lon + (qc * hw) - (qs * hh)) AS qx2,
         |    (lat + (qs * hw) + (qc * hh)) AS qy2,
         |    (lon - (qc * hw) - (qs * hh)) AS qx3,
         |    (lat - (qs * hw) + (qc * hh)) AS qy3
         |  FROM (
         |    SELECT id, lon, lat, CAST(id_num % 4 AS INTEGER) AS ntyp,
         |      (CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1) AS hw,
         |      (CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1) AS hh,
         |      CASE id_num % 5 WHEN 0 THEN 1.0 WHEN 1 THEN 0.6 WHEN 2 THEN 0.28
         |        WHEN 3 THEN 0.8 ELSE 0.96 END AS qc,
         |      CASE id_num % 5 WHEN 0 THEN 0.0 WHEN 1 THEN 0.8 WHEN 2 THEN 0.96
         |        WHEN 3 THEN -0.6 ELSE -0.28 END AS qs
         |    FROM items))
         |ORDER BY id""".stripMargin)
  }

  /** A84: the SPATIAL + INTERVAL companion to the A83 generative
    * battery — 32 seeded-random trees whose leaves are the full
    * Enhanced-Spatial relation set over random bbox literals (the W > E
    * antimeridian split included) and random convex-polygon GeoJSON on
    * BOTH targets, plus the full Allen set over random (and open-bound)
    * literal intervals against the item validity interval. Every
    * coordinate is nudged 0.005 off the fixture's 2-dp/integer data
    * grid, so cells measure the kernels' interior logic rather than
    * boundary tie-breaks (A77 pins the on-boundary cases by hand).
    */
  private val a84Ops: Seq[(String, String)] = {
    val rnd = new scala.util.Random(84202608L)
    def c2(v: Double): Double = math.round(v * 100.0) / 100.0 + 0.005
    def bboxLit(): String = {
      if (rnd.nextInt(5) == 0) { // antimeridian-crossing W > E
        val w = c2(120 + rnd.nextDouble() * 55); val e = c2(-175 + rnd.nextDouble() * 55)
        val s = c2(-70 + rnd.nextDouble() * 60); val n = c2(s + 5 + rnd.nextDouble() * 60)
        s"""{"bbox":[$w,$s,$e,$n]}"""
      } else {
        val w = c2(-170 + rnd.nextDouble() * 280); val e = c2(w + 1 + rnd.nextDouble() * 80)
        val s = c2(-80 + rnd.nextDouble() * 120); val n = c2(s + 1 + rnd.nextDouble() * 50)
        s"""{"bbox":[$w,$s,$e,$n]}"""
      }
    }
    def convexRing(cx: Double, cy: Double, r: Double): String = {
      val k = 5 + rnd.nextInt(4)
      val angles = Seq.fill(k)(rnd.nextDouble() * 2 * math.Pi).distinct.sorted
      val pts = angles.map(a => s"[${c2(cx + r * math.cos(a))},${c2(cy + r * math.sin(a))}]")
      s"[[${(pts :+ pts.head).mkString(",")}]]"
    }
    def polyLit(): String = rnd.nextInt(5) match {
      case 0 =>
        // UNWRAPPED antimeridian-crossing ring (RFC 7946 §3.1.9 form,
        // lon up to ~245): folds at parse into its two in-range pieces
        // — the polygon analogue of the W > E bbox split, r11
        val cx = 150 + rnd.nextDouble() * 60; val cy = -45 + rnd.nextDouble() * 90
        s"""{"type":"Polygon","coordinates":${convexRing(cx, cy, 5 + rnd.nextDouble() * 30)}}"""
      case 1 =>
        // POLAR cap under the pinned planar semantics: a ring touching
        // the pole LINE (lat = ±90 exactly) — planar and in-domain, the
        // only cap form latitude's non-wrapping allows, r11
        val sgn = if (rnd.nextBoolean()) 1 else -1
        val lat0 = c2(sgn * (15 + rnd.nextDouble() * 55))
        val w = c2(-170 + rnd.nextDouble() * 200); val e = c2(w + 20 + rnd.nextDouble() * 120)
        val (lo, hi) = (math.min(lat0, 90.0 * sgn), math.max(lat0, 90.0 * sgn))
        s"""{"type":"Polygon","coordinates":[[[$w,$lo],[$e,$lo],[$e,$hi],[$w,$hi],[$w,$lo]]]}"""
      case _ =>
        val cx = -100 + rnd.nextDouble() * 200; val cy = -50 + rnd.nextDouble() * 100
        s"""{"type":"Polygon","coordinates":${convexRing(cx, cy, 5 + rnd.nextDouble() * 35)}}"""
    }
    def tsLit(): String = f"2024-01-${1 + rnd.nextInt(28)}%02d ${rnd.nextInt(24)}%02d:${15 * rnd.nextInt(4)}%02d:00"
    def ivLit(): String = {
      val (a, b) = { val x = tsLit(); val y = tsLit(); if (x <= y) (x, y) else (y, x) }
      rnd.nextInt(6) match {
        case 0 => s"""{"interval":["..","$b"]}"""
        case 1 => s"""{"interval":["$a",".."]}"""
        case _ => s"""{"interval":["$a","$b"]}"""
      }
    }
    val sOps = Vector("s_intersects", "s_disjoint", "s_within", "s_contains",
      "s_equals", "s_touches", "s_crosses", "s_overlaps")
    val tOps = Vector("t_equals", "t_starts", "t_startedby", "t_finishes",
      "t_finishedby", "t_meets", "t_metby", "t_overlaps", "t_overlappedby",
      "t_during", "t_contains", "t_before", "t_after", "t_disjoint", "t_intersects")
    // the selective relations (equals/touches/crosses on random shapes)
    // are almost-always-false — weight toward the dense ones so logical
    // nodes see varied truth values, while every relation still appears
    def sOp(): String =
      if (rnd.nextBoolean()) Vector("s_intersects", "s_disjoint", "s_within")(rnd.nextInt(3))
      else sOps(rnd.nextInt(sOps.length))
    def leaf(): String = rnd.nextInt(3) match {
      case 0 =>
        val tgt = if (rnd.nextBoolean()) "geometry" else "footprint"
        val g = if (rnd.nextBoolean()) bboxLit() else polyLit()
        s"""{"${sOp()}":[{"property":"$tgt"},$g]}"""
      case 1 =>
        s"""{"${tOps(rnd.nextInt(tOps.length))}":[{"interval":[{"property":"start_datetime"},{"property":"end_datetime"}]},${ivLit()}]}"""
      case 2 => // mixed anchor keeps logical nodes exercised on both families
        s"""{"${sOps(rnd.nextInt(3))}":[{"property":"geometry"},${bboxLit()}]}"""
    }
    def tree(depth: Int): String =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else rnd.nextInt(3) match {
        case 0 => s"""{"and":[${tree(depth - 1)},${tree(depth - 1)}]}"""
        case 1 => s"""{"or":[${tree(depth - 1)},${tree(depth - 1)}]}"""
        case 2 => s"""{"not":[${tree(depth - 1)}]}"""
      }
    (0 until 32).map(i => f"g$i%02d" -> tree(2))
  }
  private val a84Asts: Seq[(String, Cql)] =
    a84Ops.map { case (n, j) => (n, Cql.parseJson(j)) }

  def a84CqlFuzzSpatial(s: SparkSession, d: String): DataFrame =
    withEnvelope(idOrdered(s, items(s, d)))
      .select(col("id") +: a84Asts.map { case (n, a) => a.toColumn.as(n) }: _*)

  val a84Sql: String = Tables.withItems(
    s"""SELECT id, ${a84Asts.map { case (n, a) => s"${a.toSql} AS $n" }.mkString(", ")}
       |FROM (SELECT id, lon, lat, start_datetime, end_datetime, $envelopeSqlCols FROM items)
       |ORDER BY id""".stripMargin)

  /** A78: exact s_within on CONCAVE and HOLED query regions with an
    * ALGORITHMICALLY INDEPENDENT oracle — the Spark side runs the
    * general boxWithinGeom kernel (closed corner+center membership +
    * no-edge-through-open-box, Liang-Barsky); the oracle never sees that
    * algebra: each region is decomposed driver-side as convex-hull-
    * minus-convex-notches, and `within(H \\ N) ⇔ all four corners in H
    * (half-plane form) ∧ ¬strictSAT(box, N)` — half-plane membership
    * and strict separating-axis projections only. A kernel bug cannot
    * reproduce on the oracle side. Region 1: the A33 concave L (hull =
    * 5-gon, notch = the diagonal bite). Region 2: a square shell with a
    * square hole (hull = shell, notch = hole).
    */
  private val a78HullL: Array[Double] = Array(
    -60.137, -40.223, 30.139, -40.223, 30.139, 10.177, -10.861, 45.223, -60.137, 45.223)
  private val a78NotchL: Array[Double] = Array(
    30.139, 10.177, -10.861, 45.223, -10.861, 20.223)
  private val a78Shell: Array[Double] = Array(
    20.0, -60.0, 80.0, -60.0, 80.0, -10.0, 20.0, -10.0)
  private val a78Hole: Array[Double] = Array(
    40.0, -45.0, 60.0, -45.0, 60.0, -25.0, 40.0, -25.0)

  private val a78Ast = Cql.parseJson(
    s"""{"or":[
       |  {"s_within":[{"property":"footprint"},
       |    {"type":"Polygon","coordinates":[[[-60.137,-40.223],[30.139,-40.223],
       |     [30.139,10.177],[-10.861,20.223],[-10.861,45.223],[-60.137,45.223],
       |     [-60.137,-40.223]]]}]},
       |  {"s_within":[{"property":"footprint"},
       |    {"type":"Polygon","coordinates":[[[20.0,-60.0],[80.0,-60.0],[80.0,-10.0],
       |     [20.0,-10.0],[20.0,-60.0]],
       |     [[40.0,-45.0],[60.0,-45.0],[60.0,-25.0],[40.0,-25.0],[40.0,-45.0]]]}]}
       |]}""".stripMargin)

  def a78WithinConcave(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .where(a78Ast.toColumn)
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"))
      .orderBy(col("id"))

  val a78Sql: String = {
    // corner membership in the CONVEX hull via the independent
    // half-plane form (NOT the parity ray cast the kernel uses)
    def cornersIn(ring: Array[Double]): String =
      Seq(("xmin", "ymin"), ("xmax", "ymin"), ("xmax", "ymax"), ("xmin", "ymax"))
        .map { case (x, y) => Geo.convexIntersectsSql(x, y, ring) }
        .mkString("(", " AND ", ")")
    def hullMinusNotch(hull: Array[Double], notch: Array[Double]): String =
      s"(${cornersIn(hull)} AND NOT ${Geo.boxConvexSatStrictSql("xmin", "ymin", "xmax", "ymax", notch)})"
    Tables.withItems(
      s"""SELECT id, collection, xmin, ymin, xmax, ymax FROM (
         |  SELECT id, collection, $envelopeSqlCols FROM items)
         |WHERE ${hullMinusNotch(a78HullL, a78NotchL)}
         |   OR ${hullMinusNotch(a78Shell, a78Hole)}
         |ORDER BY id""".stripMargin)
  }

  /** A75: REAL GeoParquet 1.1 file ingestion — the reference's literal
    * data plane (database_logic.py:171 `read_parquet(<geoparquet url>)`;
    * its downloader materializes the files). A genuine GeoParquet file
    * (WKB `geometry`, `bbox` covering struct column, spec'd `geo` footer
    * with version/primary_column/encoding/geometry_types/PROJJSON
    * CRS/bbox/covering) is staged at fixture-build time
    * ([[graft.core.GeoParquet.stage]]), then ingested FOOTER-FIRST: the
    * geometry column name and covering mapping come from the parsed
    * footer, the WKB decodes through the A42 codegen'd expressions into
    * envelope columns. The gate emits BOTH the WKB-decoded envelope and
    * the covering column; the oracle reads the same file but re-derives
    * every envelope WKB-FREE from (lon, lat, user_id, id_num) — a drifted
    * writer, footer, decoder, or covering column is a value mismatch.
    * Gate-internal requires pin the metadata plane (version, CRS, types).
    */
  @volatile private var a75Path: String = "unset"

  def a75GeoparquetIngest(s: SparkSession, d: String): DataFrame = {
    val (df, meta) = graft.core.GeoParquet.ingestItems(s, d)
    a75Path = graft.core.GeoParquet.stage(s, d)
    require(meta.version == "1.1.0" && meta.primaryColumn == "geometry" &&
      meta.crsAuthority == "OGC" && meta.crsCode == "CRS84" &&
      meta.geometryTypes == Seq("Point", "Polygon"),
      s"geo footer metadata drifted: $meta")
    df.orderBy(col("id"))
  }

  def a75Sql: String =
    s"""SELECT id, collection, datetime,
       |  CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS gtype,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE lon - hw END AS g_xmin,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE lat - hh END AS g_ymin,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE lon + hw END AS g_xmax,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE lat + hh END AS g_ymax,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE lon - hw END AS c_xmin,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE lat - hh END AS c_ymin,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE lon + hw END AS c_xmax,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE lat + hh END AS c_ymax
       |FROM (
       |  SELECT id, id_num, collection, datetime, lon, lat,
       |    CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1 AS hw,
       |    CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1 AS hh
       |  FROM read_parquet('$a75Path'))
       |ORDER BY id""".stripMargin

  // ------------------ A96: EPSG:3857 (Pseudo-Mercator) ingest (r12)
  /** A96: EPSG:3857 GeoParquet ingestion — the most common projected CRS
    * in the wild (every web-map tile pipeline authors in it; r11 verdict
    * Missing #3). A staged file carries every fixture item
    * forward-projected to Pseudo-Mercator metres with a PROJJSON
    * EPSG:3857 footer; ingest re-projects each WKB vertex back to CRS84
    * through the codegen'd [[graft.spatial.MercatorWkbToCrs84]] (the
    * closed-form spherical inverse — scan parallelism, no driver work)
    * and the A42 decode runs unchanged. The gate emits the decoded CRS84
    * envelope quantized to the A94-pinned 1e-7° ingest tolerance
    * (integer ticks — the inverse is transcendental, so the two engines'
    * libm may differ in the last ulp ≈ 1e-14°, seven orders below the
    * grid) beside the RAW covering columns in the file's own metres; the
    * oracle reads the same file and re-derives the degrees from the
    * stored metre bbox via the published inverse formulas
    * (λ = x/R, φ = 2·atan(exp(y/R)) − π/2 — monotone per axis, so the
    * bbox corners map to the envelope corners).
    */
  @volatile private var a96Path: String = "unset"

  def a96MercatorIngest(s: SparkSession, d: String): DataFrame = {
    val file = graft.core.GeoParquet.stageMercator(s, d)
    a96Path = file
    val (df, meta) = graft.core.GeoParquet.ingestFile(s, file)
    require(meta.version == "1.1.0" && meta.primaryColumn == "geometry" &&
      meta.crsAuthority == "EPSG" && meta.crsCode == "3857",
      s"geo footer metadata drifted: $meta")
    def ticks(c: String): Column =
      round(col(c) * 1e7).cast("long").as(c.replace("g_", "t_"))
    df.select(col("id"), col("collection"), col("datetime"), col("gtype"),
      ticks("g_xmin"), ticks("g_ymin"), ticks("g_xmax"), ticks("g_ymax"),
      col("c_xmin"), col("c_ymin"), col("c_xmax"), col("c_ymax"))
      .orderBy(col("id"))
  }

  def a96Sql: String = {
    val r = graft.spatial.Mercator3857.R
    def lonT(c: String) = s"CAST(ROUND(DEGREES($c / $r) * 1e7) AS BIGINT)"
    def latT(c: String) =
      s"CAST(ROUND(DEGREES(2 * ATAN(EXP($c / $r)) - PI() / 2) * 1e7) AS BIGINT)"
    s"""SELECT id, collection, datetime,
       |  CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS gtype,
       |  ${lonT("bbox.xmin")} AS t_xmin,
       |  ${latT("bbox.ymin")} AS t_ymin,
       |  ${lonT("bbox.xmax")} AS t_xmax,
       |  ${latT("bbox.ymax")} AS t_ymax,
       |  bbox.xmin AS c_xmin, bbox.ymin AS c_ymin,
       |  bbox.xmax AS c_xmax, bbox.ymax AS c_ymax
       |FROM read_parquet('$a96Path')
       |ORDER BY id""".stripMargin
  }

  // -------------------------------- A82 distributed GeoParquet EXPORT
  @volatile private var a82Dir: String = "unset"

  /** A82: the WRITE side of the reference's data plane — its corpus IS a
    * per-collection GeoParquet catalog (database_logic.py:831-853 scans
    * one file per collection; download_geoparquet.py materializes them).
    * The gate EXPORTS that layout distributed (one shuffle on
    * (collection, shard); tasks stream rows into parquet-mr writers; the
    * spec'd `geo` footer incl. the exact per-file bbox is folded in the
    * SAME pass via WriteSupport.finalizeWrite — no second scan), then
    * round-trips: footers are read back metadata-plane (one open per
    * file), the WKB geometry decodes through the A42 codegen
    * expressions, and the output carries BOTH the decoded envelope and
    * the file's footer bbox per row. The oracle re-derives the envelope
    * WKB-FREE from plain columns and the footer bbox as the
    * per-collection window min/max — so the hash match proves the
    * distributed single-pass footer fold is exact, not just present.
    */
  def a82GeoparquetExport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = graft.core.GeoParquet.export(s, d)
    a82Dir = out
    // shards=1 ⇒ one file per collection, stem "<collection>-0"
    val fDf = graft.core.GeoParquet.footerBboxes(out).toSeq.map {
      case (stem, b) => (stem.stripSuffix("-0"), b(0), b(1), b(2), b(3))
    }.toDF("collection", "f_xmin", "f_ymin", "f_xmax", "f_ymax")
    s.read.parquet(out)
      .withColumn("env", graft.spatial.WkbEnvelope(col("geometry")))
      .join(broadcast(fDf), Seq("collection"))
      .select(col("id"), col("collection"),
        col("datetime").cast("timestamp").as("datetime"),
        graft.spatial.WkbType(col("geometry")).as("gtype"),
        col("env").getItem(0).as("g_xmin"), col("env").getItem(1).as("g_ymin"),
        col("env").getItem(2).as("g_xmax"), col("env").getItem(3).as("g_ymax"),
        col("f_xmin"), col("f_ymin"), col("f_xmax"), col("f_ymax"))
      .orderBy(col("id"))
  }

  // ---------------------- A85 spatially-sharded catalog + footer prune
  @volatile private var a85Dir: String = "unset"

  /** A85: the catalog completes into a SPATIAL INDEX — export with
    * Z-BUCKET sharding (shard = level-6 z-cell bucket, so each file's
    * exact footer bbox covers one compact region), then answer a bbox
    * search by pruning FILES on their `geo` footers before any data
    * I/O: the catalog-level analogue of row-group skipping, and the
    * shape a 100 TB STAC store actually serves from (A63's manifest
    * prune, but driven by the files' own spec'd metadata rather than a
    * sidecar table). The prune MUST skip files (required at gate time)
    * and MUST be lossless — the oracle scans EVERY file, so a footer
    * bbox that under-covers its rows is a hash break, not a silent
    * missing row.
    */
  private val a85Box = (-130.005, -60.005, -20.005, 10.005) // (W, S, E, N)

  def a85CatalogPrunedSearch(s: SparkSession, d: String): DataFrame = {
    val zShards = 8 // level-6 z space (4096 cells) in 512-cell buckets
    val shardCol = (zCellColumn.cast("long") * lit(zShards) / lit(4096)).cast("long")
    val out = graft.core.GeoParquet.export(s, d, zShards, Some(shardCol), tag = "z")
    a85Dir = out
    val (w, so, e, n) = a85Box
    val (df, total, read) = graft.core.GeoParquet.searchBboxPruned(s, out, w, so, e, n)
    require(read < total,
      s"footer prune skipped nothing ($read/$total files) — spatial sharding broken")
    df.where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
        col("bbox.ymin") <= n && col("bbox.ymax") >= so)
      .select(col("id"), col("collection"),
        col("bbox.xmin").as("xmin"), col("bbox.ymin").as("ymin"),
        col("bbox.xmax").as("xmax"), col("bbox.ymax").as("ymax"))
      .orderBy(col("id"))
  }

  def a85Sql: String = {
    val (w, so, e, n) = a85Box
    s"""SELECT id, collection,
       |  bbox.xmin AS xmin, bbox.ymin AS ymin,
       |  bbox.xmax AS xmax, bbox.ymax AS ymax
       |FROM read_parquet('$a85Dir/*.parquet')
       |WHERE bbox.xmin <= $e AND bbox.xmax >= $w
       |  AND bbox.ymin <= $n AND bbox.ymax >= $so
       |ORDER BY id""".stripMargin
  }

  /** The catalog gates' skip requirement: some file must be
    * footer-pruned, or sharding or pushdown is broken. Read off the scan's
    * own explain accounting once per (session, exported catalog) —
    * planning the query twice per call just to parse the same constant
    * out of it is pure gate overhead. A failed check is not memoized.
    */
  private def requirePruned(s: SparkSession, gate: String, out: String,
                            df: DataFrame, failure: String): Unit =
    graft.core.Memo(s, s"${gate}checked:$out") {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan)
      require(m.exists(g => g.group(1).toInt < g.group(2).toInt), s"$failure:\n$plan")
    }

  // ------------- A87 catalog DataSource V2: plan-time footer prune
  @volatile private var a87Dir: String = "unset"

  /** A87: the A85 footer prune moved INTO THE PLANNER — the catalog read
    * as a DataSource V2 (`graft.sources.GeoCatalogSource`): the SAME
    * bbox predicates, written as ordinary `where` clauses, push into the
    * scan, and the scan itself drops files whose `geo` footer bbox
    * cannot contain a match before any data I/O. A85 proves the prune's
    * set algebra with an explicit two-step; A87 proves the ENGINE path a
    * user actually runs (`spark.read.format(…).load(dir).where(…)`),
    * with the skip REQUIRED at gate time (read off the scan's own
    * accounting) and the oracle scanning EVERY file — a lossy prune is a
    * hash break, not a silent missing row.
    */
  def a87CatalogSource(s: SparkSession, d: String): DataFrame = {
    val zShards = 8
    val shardCol = (zCellColumn.cast("long") * lit(zShards) / lit(4096)).cast("long")
    val out = graft.core.GeoParquet.export(s, d, zShards, Some(shardCol), tag = "z")
    a87Dir = out
    val (w, so, e, n) = a85Box
    val df = s.read.format("graft.sources.GeoCatalogSource").load(out)
      .where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
        col("bbox.ymin") <= n && col("bbox.ymax") >= so)
    requirePruned(s, "a87", out, df,
      "planner prune skipped nothing — spatial sharding or pushdown broken")
    df.select(col("id"), col("collection"),
        col("bbox.xmin").as("xmin"), col("bbox.ymin").as("ymin"),
        col("bbox.xmax").as("xmax"), col("bbox.ymax").as("ymax"))
      .orderBy(col("id"))
  }

  def a87Sql: String = {
    val (w, so, e, n) = a85Box
    s"""SELECT id, collection,
       |  bbox.xmin AS xmin, bbox.ymin AS ymin,
       |  bbox.xmax AS xmax, bbox.ymax AS ymax
       |FROM read_parquet('$a87Dir/*.parquet')
       |WHERE bbox.xmin <= $e AND bbox.xmax >= $w
       |  AND bbox.ymin <= $n AND bbox.ymax >= $so
       |ORDER BY id""".stripMargin
  }

  // ----- A89 collection + datetime FILE prune on the catalog DSv2 (r11)
  @volatile private var a89Dir: String = "unset"

  /** A89: the catalog prune completed beyond bbox (r10 verdict Missing
    * #2) — the reference routes per-collection scans by FILE
    * (database_logic.py:831-853) and row-skips datetime via parquet
    * stats; a `collection IN … AND datetime-range` search over the
    * geocatalog previously read every data page. Now the export writers
    * fold a `graft` sidecar footer (the file's single collection +
    * datetime/start/end extremes) in the SAME single pass as the `geo`
    * bbox, and the DSv2 translates the pushed filter TREE — including
    * the reference's datetime-overlap DISJUNCTION `(datetime ∈ [lo,hi])
    * OR (datetime IS NULL AND interval overlaps)` — into a sound
    * file-level constraint (And prunes on translatable conjuncts; Or
    * requires both branches; absent metadata answers true). The catalog
    * here is TIME-SHARDED (shard = day-of-month of the item instant —
    * the (collection, time-bucket) layout every production store uses),
    * so the gate's 4-day/2-collection search provably skips files: the
    * skip is REQUIRED at gate time off the scan's explain accounting,
    * and the oracle scans EVERY file — a lossy prune is a hash break.
    */
  private val a89Lo = "2024-01-08 00:00:00"
  private val a89Hi = "2024-01-12 00:00:00"

  def a89CatalogColdtPrune(s: SparkSession, d: String): DataFrame = {
    val shardCol = dayofmonth(coalesce(col("datetime"), col("start_datetime")))
    val out = graft.core.GeoParquet.export(s, d, 31, Some(shardCol), tag = "t")
    a89Dir = out
    // NTZ literals so the pushed filters stay bare attribute comparisons
    // (a TIMESTAMP literal would wrap the NTZ column in a cast and kill
    // the pushdown)
    def tsn(t: String): Column = lit(t).cast("timestamp_ntz")
    val dtPred =
      (col("datetime") >= tsn(a89Lo) && col("datetime") <= tsn(a89Hi)) ||
        (col("datetime").isNull &&
          col("start_datetime") <= tsn(a89Hi) && col("end_datetime") >= tsn(a89Lo))
    val df = s.read.format("graft.sources.GeoCatalogSource").load(out)
      .where(col("collection").isin("click", "view") && dtPred)
    requirePruned(s, "a89", out, df, "collection+datetime prune skipped nothing")
    df.select(col("id"), col("collection"),
        col("datetime").cast("timestamp").as("datetime"),
        col("start_datetime").cast("timestamp").as("start_datetime"),
        col("end_datetime").cast("timestamp").as("end_datetime"))
      .orderBy(col("id"))
  }

  def a89Sql: String =
    s"""SELECT id, collection, datetime, start_datetime, end_datetime
       |FROM read_parquet('$a89Dir/*.parquet')
       |WHERE collection IN ('click', 'view')
       |  AND ((datetime >= TIMESTAMP '$a89Lo' AND datetime <= TIMESTAMP '$a89Hi')
       |    OR (datetime IS NULL AND start_datetime <= TIMESTAMP '$a89Hi'
       |        AND end_datetime >= TIMESTAMP '$a89Lo'))
       |ORDER BY id""".stripMargin

  // ------------------------------------ A86 catalog compaction
  @volatile private var a86SrcDir: String = "unset"
  @volatile private var a86Dir: String = "unset"

  /** A86: catalog COMPACTION — the 100 TB maintenance op (many small
    * shard files merged into few, Z locality preserved): reads the A85
    * z8 catalog's FILES (pure data plane — the source view is never
    * consulted), re-shards to 2 z-buckets through the same
    * footer-folding writers, and emits every compacted row with its
    * file's footer bbox. The ORACLE READS THE SOURCE z8 CATALOG and
    * re-derives the target shard (z-cell SQL) and footer (window
    * min/max) — so a compaction that drops, duplicates, or mutates any
    * row, or writes an inexact footer, is a hash break.
    */
  private def a86Shard(zShards: Int): Column =
    (zCellColumn.cast("long") * lit(zShards) / lit(4096)).cast("long")

  def a86CatalogCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = graft.core.GeoParquet.export(s, d, 8, Some(a86Shard(8)), tag = "z")
    val out = graft.core.GeoParquet.compact(s, src, d, 2, a86Shard(2))
    a86SrcDir = src; a86Dir = out
    val fDf = graft.core.GeoParquet.footerBboxes(out).toSeq.map { case (stem, b) =>
      val cut = stem.lastIndexOf('-')
      (stem.substring(0, cut), stem.substring(cut + 1).toLong, b(0), b(1), b(2), b(3))
    }.toDF("collection", "shard", "f_xmin", "f_ymin", "f_xmax", "f_ymax")
    s.read.parquet(out)
      .withColumn("shard", a86Shard(2))
      .join(broadcast(fDf), Seq("collection", "shard"))
      .select(col("id"), col("collection"), col("shard"),
        col("bbox.xmin").as("xmin"), col("bbox.ymin").as("ymin"),
        col("bbox.xmax").as("xmax"), col("bbox.ymax").as("ymax"),
        col("f_xmin"), col("f_ymin"), col("f_xmax"), col("f_ymax"))
      .orderBy(col("id"))
  }

  def a86Sql: String =
    s"""SELECT id, collection, shard, xmin, ymin, xmax, ymax,
       |  MIN(xmin) OVER (PARTITION BY collection, shard) AS f_xmin,
       |  MIN(ymin) OVER (PARTITION BY collection, shard) AS f_ymin,
       |  MAX(xmax) OVER (PARTITION BY collection, shard) AS f_xmax,
       |  MAX(ymax) OVER (PARTITION BY collection, shard) AS f_ymax
       |FROM (
       |  SELECT id, collection,
       |    CAST(floor((($zrCellSqlDuck) * 2) / 4096.0) AS BIGINT) AS shard,
       |    bbox.xmin AS xmin, bbox.ymin AS ymin,
       |    bbox.xmax AS xmax, bbox.ymax AS ymax
       |  FROM read_parquet('$a86SrcDir/*.parquet'))
       |ORDER BY id""".stripMargin

  def a82Sql: String =
    s"""SELECT id, collection, datetime, gtype, g_xmin, g_ymin, g_xmax, g_ymax,
       |  MIN(g_xmin) OVER (PARTITION BY collection) AS f_xmin,
       |  MIN(g_ymin) OVER (PARTITION BY collection) AS f_ymin,
       |  MAX(g_xmax) OVER (PARTITION BY collection) AS f_xmax,
       |  MAX(g_ymax) OVER (PARTITION BY collection) AS f_ymax
       |FROM (
       |  SELECT id, collection, datetime,
       |    CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS gtype,
       |    CASE WHEN id_num % 2 = 0 THEN lon ELSE lon - hw END AS g_xmin,
       |    CASE WHEN id_num % 2 = 0 THEN lat ELSE lat - hh END AS g_ymin,
       |    CASE WHEN id_num % 2 = 0 THEN lon ELSE lon + hw END AS g_xmax,
       |    CASE WHEN id_num % 2 = 0 THEN lat ELSE lat + hh END AS g_ymax
       |  FROM (
       |    SELECT id, id_num, collection, datetime, lon, lat,
       |      CAST(user_id % 10 AS DOUBLE) / 10.0 + 0.1 AS hw,
       |      CAST(id_num % 7 AS DOUBLE) / 10.0 + 0.1 AS hh
       |    FROM read_parquet('$a82Dir/*.parquet')))
       |ORDER BY id""".stripMargin

  // --------------------- A40/A41 non-polygon GeoJSON types in s_intersects
  /** A40: s_intersects with a GeometryCollection mixing a convex Polygon,
    * a LineString and a Point against item POINT geometry — the reference
    * accepts any GeoJSON via ST_GeomFromGeoJSON (database_logic.py:437-441).
    * The polygon member contributes the row mass; line/point members are
    * exact-contact predicates that exercise the full parser + kernel + SQL
    * renderer surface (collinearity-bounds / equality forms).
    */
  private val (a40Fn, a40Sql) = cqlQuery(
    """{"and":[
      |  {"s_intersects":[{"property":"geometry"},
      |    {"type":"GeometryCollection","geometries":[
      |      {"type":"Polygon","coordinates":[[[-120.137,-55.223],[-60.139,-55.223],[-60.139,-5.177],[-120.137,-5.177],[-120.137,-55.223]]]},
      |      {"type":"LineString","coordinates":[[10.137,-80.223],[20.139,80.177]]},
      |      {"type":"Point","coordinates":[50.141,10.177]}]}]},
      |  {"<":[{"property":"value"},400.5]}
      |]}""".stripMargin)

  /** A41: s_intersects with MultiLineString + MultiPoint + Point members
    * against item FOOTPRINTS (envelope boxes): boxes crossed by a polyline
    * or containing a point match. Spark kernel = endpoint-in-box + edge
    * crossings; oracle = INDEPENDENT separating-axis form
    * ([[Geo.segBoxSatSql]]), so kernel bugs can't hide.
    */
  private val a41Ast = Cql.parseJson(
    """{"and":[
      |  {"s_intersects":[{"property":"footprint"},
      |    {"type":"GeometryCollection","geometries":[
      |      {"type":"MultiLineString","coordinates":[
      |        [[-150.137,-70.223],[-100.139,70.177],[-60.137,-50.223]],
      |        [[100.141,-60.223],[100.141,60.177]]]},
      |      {"type":"MultiPoint","coordinates":[[30.141,20.177],[-20.139,-30.223]]},
      |      {"type":"Point","coordinates":[60.141,-10.223]}]}]},
      |  {">":[{"property":"value"},20.5]}
      |]}""".stripMargin)

  def a41FootprintShapes(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .where(a41Ast.toColumn)
      .select(col("id"), col("collection"), col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), col("value"))
      .orderBy(col("id"))

  val a41Sql: String = Tables.withItems(
    s"""SELECT id, collection, xmin, ymin, xmax, ymax, value FROM (
       |  SELECT id, collection, value, $envelopeSqlCols FROM items)
       |WHERE ${a41Ast.toSql}
       |ORDER BY id""".stripMargin)

  // ------------------------------------------------ A42 WKB ingestion
  /** A42: WKB geometry ingestion — the reference's rows carry WKB decoded
    * on output (utilities.py:13-22). Synthesizes the storage format
    * per row (Point WKB for even ids, Polygon-footprint WKB for odd ids),
    * then derives the geometry type and the envelope columns the whole
    * spatial design keys on via codegen'd decode expressions. Oracle =
    * the same values computed WKB-FREE from the source columns, so an
    * encode or decode bug surfaces as a value mismatch.
    */
  def a42WkbRoundtrip(s: SparkSession, d: String): DataFrame =
    withEnvelope(items(s, d))
      .withColumn("wkb", wkbCol)
      .withColumn("env", graft.spatial.WkbEnvelope(col("wkb")))
      .select(col("id"), col("collection"),
        graft.spatial.WkbType(col("wkb")).as("g_type"),
        col("env").getItem(0).as("g_xmin"), col("env").getItem(1).as("g_ymin"),
        col("env").getItem(2).as("g_xmax"), col("env").getItem(3).as("g_ymax"),
        graft.spatial.WkbNumPoints(col("wkb")).as("g_npoints"))
      .orderBy(col("id"))

  val a42Sql: String = Tables.withItems(
    s"""SELECT id, collection,
       |  CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS g_type,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmin END AS g_xmin,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE ymin END AS g_ymin,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmax END AS g_xmax,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE ymax END AS g_ymax,
       |  CASE WHEN id_num % 2 = 0 THEN 1 ELSE 5 END AS g_npoints
       |FROM (SELECT id, id_num, collection, lon, lat, $envelopeSqlCols FROM items)
       |ORDER BY id""".stripMargin)

  // ------------------------------------------- A43 JSON item ingestion
  /** A43: STAC Item JSON INGESTION — the inverse of A20. A20's gate
    * proves values land at the right JSON paths via path extraction;
    * this one proves a full TYPED parse: `from_json` with an explicit
    * item schema (assets map, links struct array, extension fields),
    * ISO-8601 → native timestamp, and the per-row VARIANT geometry
    * (Point coords are `array<double>`, Polygon's are
    * `array<array<array<double>>>` — one schema can't hold both, so the
    * full-schema parse carries `geometry` as a RAW JSON STRING member —
    * Jackson's copy-current-structure, no re-tokenization of the rest of
    * the feature — and only that small string is parsed under the two
    * coordinate shapes, selected by `geometry.type`; each a plan-level
    * `from_json`, no UDF, ONE parse of the full feature text). The
    * parsed geometry is re-encoded to WKB — the catalog storage format —
    * and the envelope columns every spatial operator keys on are derived
    * from THAT blob, so the gate covers the entire ingest path:
    * JSON → typed row → WKB → envelope. Oracle computes every output
    * JSON-free from the source columns (a42's pattern).
    */
  private val a43ItemDdl =
    "type string, stac_version string, stac_extensions array<string>, " +
      "id string, collection string, bbox array<double>, " +
      "geometry string, " + // nested object captured as its raw JSON text
      "assets map<string,struct<href:string,type:string>>, " +
      "links array<struct<rel:string,href:string>>, " +
      "properties struct<datetime:string, value:double, user_id:bigint, " +
      "`proj:epsg`:int, `proj:shape`:array<int>>"

  /** a43's serialized source, exposed for perf probes/specs. Carries the
    * source `id` alongside the feature text so the gate's deterministic
    * ORDER BY can run on the CHEAP side of the parse: a global sort's
    * range exchange executes its child twice (a sampling pass to pick the
    * range bounds, then the real pass), so sorting after the parse chain
    * would run every from_json/WKB expression twice. Projections preserve
    * ordering, so sorting here and parsing above yields the same
    * globally-ordered output for half the work (it.id == id by
    * construction; measured 9.9 s → 2.6 s at sf0.1). Serialization also
    * runs ABOVE the exchange — the range shuffle then moves 8 narrow
    * source columns instead of the ~600 B feature string, and the
    * bounds-sampling pass skips the serialize entirely.
    */
  private[graft] def a43Source(s: SparkSession, d: String): DataFrame =
    featureJsonFrame(s, d).select(col("id"), col("f"))

  /** The serialized feature corpus (id, id_num, f), staged once per
    * session (core.Memo): A43's ingest round-trip and A57's tolerant
    * ingest both pay the full-corpus serialize otherwise. Sorted by id
    * BELOW the serialize per the a43Source doctrine; the checkpoint
    * materializes partitions in that order, so consumers relying on the
    * global id order (a43's deterministic output) keep it.
    */
  private def featureJsonFrame(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.frame(s, s"featjson:$d")(
      withEnvelope(items(s, d)).orderBy(col("id"))
        .select(col("id"), col("id_num"), featureJsonCol.as("f")))

  def a43ItemIngest(s: SparkSession, d: String): DataFrame = {
    val src = a43Source(s, d)
    src
      .withColumn("it", from_json(col("f"), org.apache.spark.sql.types.StructType.fromDDL(a43ItemDdl)))
      // extract every needed leaf IMMEDIATELY: from_json is codegen
      // fallback, so the layers below run as interpreted Projects that
      // copy their full input row per row — carrying the wide nested `it`
      // struct through them would memcpy ~700 B of map/array/struct per
      // layer. Narrow first, then do the geometry work on small rows.
      .select(
        col("it.id").as("id"),
        col("it.type").as("i_type"),
        col("it.stac_version").as("i_version"),
        col("it.collection").as("i_collection"),
        to_timestamp(col("it.properties.datetime"),
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("i_datetime"),
        col("it.properties.value").as("i_value"),
        col("it.properties.user_id").as("i_user_id"),
        col("it.properties.`proj:epsg`").as("i_proj_epsg"),
        size(col("it.links")).as("i_n_links"),
        element_at(col("it.assets"), "data").getField("type").as("i_asset_type"),
        col("it.bbox").getItem(0).as("i_bbox_w"),
        col("it.geometry").as("g"))
      .withColumn("gpt", from_json(col("g"), org.apache.spark.sql.types.StructType.fromDDL(
        "type string, coordinates array<double>")))
      .withColumn("gpoly", from_json(col("g"), org.apache.spark.sql.types.StructType.fromDDL(
        "type string, coordinates array<array<array<double>>>")))
      // re-encode to the storage format; the box footprint's envelope is
      // the first ring's coordinate extremes. The x/y arrays are hoisted
      // so the (codegen-fallback) higher-order transform runs twice per
      // row, not four times.
      .withColumn("ring", col("gpoly.coordinates").getItem(0))
      .withColumn("xs", expr("transform(ring, p -> p[0])"))
      .withColumn("ys", expr("transform(ring, p -> p[1])"))
      .withColumn("wkb",
        when(col("gpt.type") === "Point",
          graft.spatial.WkbPoint(col("gpt.coordinates").getItem(0),
            col("gpt.coordinates").getItem(1)))
          .otherwise(graft.spatial.WkbBox(
            array_min(col("xs")), array_min(col("ys")),
            array_max(col("xs")), array_max(col("ys")))))
      .withColumn("env", graft.spatial.WkbEnvelope(col("wkb")))
      .select(
        col("id"), col("i_type"), col("i_version"), col("i_collection"),
        graft.spatial.WkbType(col("wkb")).as("i_geom_type"),
        col("env").getItem(0).as("i_xmin"), col("env").getItem(1).as("i_ymin"),
        col("env").getItem(2).as("i_xmax"), col("env").getItem(3).as("i_ymax"),
        graft.spatial.WkbNumPoints(col("wkb")).as("i_npoints"),
        col("i_datetime"), col("i_value"), col("i_user_id"),
        col("i_proj_epsg"), col("i_n_links"), col("i_asset_type"),
        col("i_bbox_w"))
  }

  val a43Sql: String = Tables.withItems(
    s"""SELECT id, 'Feature' AS i_type, '1.0.0' AS i_version,
       |  collection AS i_collection,
       |  CASE WHEN id_num % 2 = 0 THEN 'Point' ELSE 'Polygon' END AS i_geom_type,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmin END AS i_xmin,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE ymin END AS i_ymin,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmax END AS i_xmax,
       |  CASE WHEN id_num % 2 = 0 THEN lat ELSE ymax END AS i_ymax,
       |  CASE WHEN id_num % 2 = 0 THEN 1 ELSE 5 END AS i_npoints,
       |  datetime AS i_datetime, value AS i_value, user_id AS i_user_id,
       |  CASE WHEN id_num % 2 = 1 THEN 4326 END AS i_proj_epsg,
       |  2 AS i_n_links, 'image/tiff' AS i_asset_type,
       |  CASE WHEN id_num % 2 = 0 THEN lon ELSE xmin END AS i_bbox_w
       |FROM (SELECT id, id_num, collection, datetime, value, user_id, lon, lat,
       |  $envelopeSqlCols FROM items)
       |ORDER BY id""".stripMargin)

  // ------------------------ A57 tolerant ingestion (rejects channel)
  /** A57: PERMISSIVE ingestion with a typed rejects channel — the error
    * path every production ingest needs and A43's happy path skips: a
    * feed where some records are truncated mid-payload and some parse
    * but lack the required `id`. The operator classifies every record in
    * one pass — `from_json` (PERMISSIVE: malformed → null struct) drives
    * `unparseable`; a parsed struct with a null `id` drives
    * `missing_id`; the rest are `ok` — and proves the permissive
    * contract that a record failing VALIDATION (missing id) still
    * yields its parseable payload (datetimes recovered in the
    * missing_id class = its source non-null datetimes, exactly as in
    * the ok class; 0 for unparseable).
    *
    * Corruption is deterministic string surgery on the serialized feed
    * (truncate 8 bytes when id_num % 13 = 0; rename the id key when
    * id_num % 17 = 0), so the oracle derives the expected class of
    * every record from the SOURCE columns without running a parser —
    * Spark must reach the same classification through the actual parse.
    * Scale shape: one scan, one codegen'd projection chain, a 3-row
    * aggregate; the rejects channel is a filter on the same pass, never
    * a second parse.
    */
  /** The classification transform over a frame carrying the raw feature
    * text in `f2` — shared by the batch gate and D28's streaming ingest
    * (the stream's contract: classify every payload in the SAME pass
    * that parses it). PERMISSIVE from_json yields an ALL-NULL struct
    * (not a null struct) for malformed input, so the discriminator is
    * `type` — a constant literal in every serialized record, null only
    * when the whole parse failed.
    */
  /** The classifier's parse schema: only the leaves the contract reads
    * (`type` drives unparseable, `id` drives missing_id, the datetime is
    * the recovered payload). PERMISSIVE from_json classifies identically
    * under any schema containing these — malformed input still yields an
    * all-null struct — and a narrow schema skips materializing the
    * assets map / links array / full properties struct per record
    * (measured 4.1 s → 1.8 s at sf0.1 on the batch gate).
    */
  private val a57ClassifyDdl =
    "type string, id string, properties struct<datetime:string>"

  private[graft] def a57Classify(src: DataFrame): DataFrame =
    src
      .withColumn("it", from_json(col("f2"),
        org.apache.spark.sql.types.StructType.fromDDL(a57ClassifyDdl)))
      .withColumn("status",
        when(col("it.type").isNull, lit("unparseable"))
          .when(col("it.id").isNull, lit("missing_id"))
          .otherwise(lit("ok")))
      .withColumn("dt", to_timestamp(col("it.properties.datetime"),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))

  def a57TolerantIngest(s: SparkSession, d: String): DataFrame = {
    val src = featureJsonFrame(s, d) // shared staged serialize (a43's too)
    a57Classify(src
      .withColumn("f2",
        when(pmod(col("id_num"), lit(13)) === 0,
          expr("substr(f, 1, length(f) - 8)"))
          .when(pmod(col("id_num"), lit(17)) === 0,
            expr("replace(f, '\"id\"', '\"xid\"')"))
          .otherwise(col("f"))))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), count(col("dt")).as("n_dt_recovered"))
      .orderBy(col("status"))
  }

  val a57Sql: String = Tables.withItems(
    """SELECT status, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN status <> 'unparseable' AND datetime IS NOT NULL
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dt_recovered
      |FROM (
      |  SELECT CASE WHEN id_num % 13 = 0 THEN 'unparseable'
      |              WHEN id_num % 17 = 0 THEN 'missing_id'
      |              ELSE 'ok' END AS status, datetime
      |  FROM items)
      |GROUP BY status ORDER BY status""".stripMargin)

  // -------------------- A44/A45 GeoJSON through the typed search param
  /** A44: arbitrary GeoJSON (GeometryCollection of Polygon-with-hole +
    * MultiPoint + LineString) through the TYPED SEARCH PARAM path —
    * `SearchParams.intersects` now carries the full Shape ADT, matching
    * the reference's REST intersects which accepts any GeoJSON
    * (database_logic.py:419-448). The CQL2 path proved the kernel (a40);
    * this gate proves the param path compiles the identical predicate.
    */
  private val a44Shape: graft.spatial.Shape = Cql.parseGeoJsonShape(
    """{"type":"GeometryCollection","geometries":[
      |  {"type":"Polygon","coordinates":[
      |    [[-100.137,-40.223],[20.141,-70.177],[60.141,20.223],[-40.139,60.177],[-100.137,-40.223]],
      |    [[-50.139,-20.223],[-10.139,-20.223],[-10.139,10.177],[-50.139,10.177],[-50.139,-20.223]]]},
      |  {"type":"MultiPoint","coordinates":[[30.141,20.177],[-170.139,-80.223]]},
      |  {"type":"LineString","coordinates":[[120.141,-70.223],[150.139,75.177]]}]}""".stripMargin)

  def a44ParamIntersects(s: SparkSession, d: String): DataFrame =
    StacApi.plan(items(s, d), SearchParams(intersects = Some(a44Shape)))
      .select(projCols: _*).orderBy(col("id"))

  val a44Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.pointShapeSql("lon", "lat", a44Shape)} ORDER BY id")

  /** A45: CONVEX pentagon off the data grid through the param path.
    * Spark runs the general ray-cast (even-odd parity) kernel; the oracle
    * is the INDEPENDENT convex half-plane form ([[Geo.convexIntersectsSql]])
    * — an algorithm-independent check of the parity kernel on convex input
    * (the general pointShapeSql oracle renders parity for ALL polygons
    * since r4, so without this gate a parity bug on convex rings could
    * hide; cf. round-5 ADVICE).
    */
  private val a45Pentagon = Array(
    -60.137, -50.223, 40.141, -50.223, 70.141, 10.177,
    0.141, 60.177, -80.137, 20.177)

  def a45IntersectsConvex(s: SparkSession, d: String): DataFrame =
    StacApi.plan(items(s, d), SearchParams(intersects = SearchParams.ring(a45Pentagon)))
      .select(projCols: _*).orderBy(col("id"))

  val a45Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${Geo.convexIntersectsSql("lon", "lat", a45Pentagon)} ORDER BY id")

  // ---------------------------------------- A53 free-text search (q=)
  /** A53: the STAC FREE-TEXT SEARCH extension — `GET /search?q=...` with
    * the advanced-class grammar (terms, "phrases", AND/OR/comma, -/NOT,
    * parens) parsed by [[graft.cql.FreeText]] onto the one CQL AST, so
    * the q parameter rides the same two-backend compilation as every
    * CQL2 filter. Searchable item fields here: `collection` and `props`
    * (the JSON properties blob — substring search over serialized
    * properties is exactly what the extension's basic profile does).
    * The gate's q exercises OR + phrase + grouping + negation at once.
    */
  private val a53Q = """(click OR view) AND -": 9}""""

  private val a53Ast = graft.cql.FreeText.parse(a53Q, Seq("collection", "props"))

  def a53FreeText(s: SparkSession, d: String): DataFrame =
    items(s, d).where(a53Ast.toColumn)
      .select(projCols: _*).orderBy(col("id"))

  val a53Sql: String = Tables.withItems(
    s"SELECT $projSql FROM items WHERE ${a53Ast.toSql} ORDER BY id")

  // ---------------------------------------- A52 CQL2 array predicates
  /** A52: CQL2 ARRAY predicates (OGC 21-065 §4.10 — a_equals, a_contains,
    * a_containedBy, a_overlaps, set semantics) through the one AST. Items
    * carry a derived `tags` array (collection + user parity + value
    * bucket — the keywords/instruments shape real STAC items put in
    * array-typed properties); the filter exercises all four operators
    * plus their composition under and/or/not. Spark compiles to
    * `array_except`-emptiness / `arrays_overlap` (codegen'd, no UDF);
    * the oracle renders DuckDB `list_has_all` / `list_has_any` — two
    * independent set-semantics implementations that must agree row-wise.
    */
  private val tagsSpark =
    "array(concat('c:', collection), " +
      "concat('p:', CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END), " +
      "concat('v:', CAST(id_num % 5 AS STRING)))"

  private val tagsDuck =
    "['c:' || collection, " +
      "'p:' || CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END, " +
      "'v:' || CAST(id_num % 5 AS VARCHAR)]"

  private val a52Ast = Cql.parseJson(
    """{"and":[
      |  {"a_overlaps":[{"property":"tags"},["v:1","v:3","v:4"]]},
      |  {"not":[{"a_contains":[{"property":"tags"},["c:error","p:odd"]]}]},
      |  {"or":[
      |    {"a_containedBy":[{"property":"tags"},
      |      ["c:click","c:view","p:even","p:odd","v:0","v:1","v:2","v:3","v:4"]]},
      |    {"a_equals":[{"property":"tags"},["v:4","p:even","c:purchase"]]}
      |  ]}
      |]}""".stripMargin)

  def a52CqlArrays(s: SparkSession, d: String): DataFrame =
    items(s, d).withColumn("tags", expr(tagsSpark))
      .where(a52Ast.toColumn)
      // Array columns are rendered to a canonical CSV string for the gate:
      // the driver's pandas compare sorts every output column and cannot
      // hash ARRAY cells. Semantics (a_overlaps/a_contains/...) still run
      // on the real ARRAY<STRING>; only the projection is stringified.
      .select(col("id"), col("collection"),
        array_join(col("tags"), "\u0001").as("tags_csv"))
      .orderBy(col("id"))

  val a52Sql: String = Tables.withItems(
    s"""SELECT id, collection, array_to_string(tags, chr(1)) AS tags_csv FROM (
       |  SELECT id, collection, $tagsDuck AS tags FROM items)
       |WHERE ${a52Ast.toSql}
       |ORDER BY id""".stripMargin)

  // ---------------------------------------- A47 CQL2 arithmetic
  /** A47: CQL2 arithmetic expressions (OGC cql2-json `+ - * /`) —
    * arithmetic operands compose anywhere a property/literal can appear,
    * and because the one AST compiles to BOTH backends, the gate proves
    * the Spark Column rendering and the oracle SQL rendering agree on
    * evaluation order and numeric promotion (double × literal, double +
    * bigint, bigint − int literal). All comparisons sit on non-boundary
    * fractional literals so an ulp divergence would flip a row.
    */
  private val (a47Fn, a47Sql) = cqlQuery(
    """{"and":[
      |  {">=":[{"*":[{"property":"value"},2.0]},300.5]},
      |  {"<":[{"/":[{"property":"value"},4.0]},80.25]},
      |  {">":[{"+":[{"property":"value"},{"property":"user_id"}]},150.5]},
      |  {"<>":[{"-":[{"property":"user_id"},10]},0]}
      |]}""".stripMargin)

  // ------------------------------------------- A46 grid aggregation
  /** A46: STAC Aggregations-extension GRID aggregation (the
    * `grid_code_frequency` / geohash-grid shape): per level-6 Z-cell
    * bucket of a bbox-filtered search — item count, distinct collections,
    * exact value sum. ONE map-side-combined aggregation pass over the
    * pruned scan; the bucket key is the same integer Z-cell the physical
    * layout sorts by (ItemsLayout.materializeZOrdered), so at scale the
    * shuffle carries |cells| partial rows, never items, and the bbox
    * filter prunes row groups before any aggregation happens.
    */
  def a46GridAgg(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .withColumn("zcell", zCellColumn)
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("collection")).as("n_collections"),
        // exact decimal accumulation, double on the wire (b2's pattern)
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .orderBy(col("zcell"))

  /** DuckDB rendering of the level-6 Morton cell (same bit math as
    * [[zrCellExpr]], `<<`/`>>`/`&` operator syntax).
    */
  private def zrCellSqlDuck: String = {
    val size = 1 << zrLevel
    val ix = s"CAST(least(greatest(floor((lon + 180.0) / 360.0 * $size.0), 0.0), ${size - 1}.0) AS INT)"
    val iy = s"CAST(least(greatest(floor((lat + 90.0) / 180.0 * $size.0), 0.0), ${size - 1}.0) AS INT)"
    (0 until zrLevel).map(k =>
      s"(((($ix >> $k) & 1) << ${2 * k + 1}) + ((($iy >> $k) & 1) << ${2 * k}))")
      .mkString(" + ")
  }

  val a46Sql: String = Tables.withItems(
    s"""SELECT ($zrCellSqlDuck) AS zcell, COUNT(*) AS n_items,
       |  COUNT(DISTINCT collection) AS n_collections,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       |FROM items
       |WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)}
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  // ----------------------------- A58 best-scene mosaic planning
  /** A58: best-scene selection per grid cell — the mosaic-planning step
    * of a tiling service (for each output tile, which item supplies the
    * pixels): per level-6 Z-cell of the A46 grid, the item with the
    * highest `value` (stand-in for a quality/cloud-cover score), id as
    * the deterministic tiebreak, plus the cell's candidate count. ONE
    * window over the cell partition serves both the argmax and the
    * count (same exchange + sort; the planner reuses them) — millions
    * of small cell partitions at scale, never a global sort, and the
    * bbox prune pushes to the scan like every A-series search.
    */
  def a58MosaicBest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byCell = Window.partitionBy(col("zcell"))
    items(s, d)
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .withColumn("zcell", zCellColumn)
      .withColumn("rk", row_number().over(byCell.orderBy(col("value").desc, col("id"))))
      .withColumn("n_items", count(lit(1)).over(byCell))
      .where(col("rk") === 1)
      .select(col("zcell"), col("id").as("best_id"),
        col("value").as("best_value"), col("n_items"))
      .orderBy(col("zcell"))
  }

  val a58Sql: String = Tables.withItems(
    s"""SELECT zcell, id AS best_id, value AS best_value, n_items FROM (
       |  SELECT zcell, id, value,
       |    ROW_NUMBER() OVER (PARTITION BY zcell ORDER BY value DESC, id) AS rk,
       |    COUNT(*) OVER (PARTITION BY zcell) AS n_items
       |  FROM (SELECT ($zrCellSqlDuck) AS zcell, id, value FROM items
       |        WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)}))
       |WHERE rk = 1 ORDER BY zcell""".stripMargin)

  // ------------------------- A59 acquisition-gap monitoring
  /** A59: per-collection ACQUISITION-GAP report — the catalog-health
    * readout an operator watches (did a satellite feed silently stop?):
    * per collection, the largest gap between consecutive item
    * datetimes, the mean cadence, and the item count. One window (lag
    * over the collection partition, datetime order) + one aggregate —
    * the same single-exchange shape as A58; null datetimes drop below
    * the window (they carry no cadence signal). Gap arithmetic in
    * integer MICROSECONDS (`unix_micros` ≡ `epoch_us`) with an integer
    * mean — hash-exact in both engines.
    */
  def a59AcquisitionGaps(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("collection"))
      .orderBy(col("epoch_us"), col("id"))
    items(s, d)
      .where(col("datetime").isNotNull)
      .select(col("collection"), col("id"),
        unix_micros(col("datetime")).as("epoch_us"))
      .withColumn("gap_us", col("epoch_us") - lag(col("epoch_us"), 1).over(w))
      .groupBy(col("collection"))
      .agg(count(lit(1)).as("n_items"),
        max(col("gap_us")).as("max_gap_us"),
        expr("sum(gap_us) DIV count(gap_us)").as("mean_gap_us"))
      .orderBy(col("collection"))
  }

  val a59Sql: String = Tables.withItems(
    """SELECT collection, COUNT(*) AS n_items,
      |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |  CAST(SUM(gap_us) // COUNT(gap_us) AS BIGINT) AS mean_gap_us
      |FROM (
      |  SELECT collection,
      |    epoch_us(datetime) - LAG(epoch_us(datetime), 1) OVER
      |      (PARTITION BY collection ORDER BY datetime, id) AS gap_us
      |  FROM items WHERE datetime IS NOT NULL)
      |GROUP BY collection ORDER BY collection""".stripMargin)

  // --------------------------------------------------- A31 facets
  /** STAC Aggregation-extension-style faceting: per-collection and
    * per-month counts of a filtered search in ONE pass — `cube` computes
    * the marginals simultaneously (grouping_id selects them), so the
    * corpus is scanned once however many facets are requested. Interval
    * items (null datetime) land in a `__none__` month bucket.
    */
  def a31Facets(s: SparkSession, d: String): DataFrame = {
    val f = items(s, d)
      .where(Geo.bboxContains(col("lon"), col("lat"), bbox._1, bbox._2, bbox._3, bbox._4))
      .withColumn("month_b", coalesce(
        date_format(date_trunc("month", col("datetime")), "yyyy-MM"), lit("__none__")))
    f.cube(col("collection"), col("month_b"))
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
      .where(col("gid").isin(1, 2)) // the two single-facet marginals
      .select(
        when(col("gid") === 1, lit("collection")).otherwise(lit("month")).as("facet"),
        coalesce(col("collection"), col("month_b")).as("bucket"),
        col("n"))
      .orderBy(col("facet"), col("bucket"))
  }

  val a31Sql: String = Tables.withItems(
    s"""SELECT facet, bucket, n FROM (
       |  SELECT 'collection' AS facet, collection AS bucket, COUNT(*) AS n
       |  FROM (SELECT collection FROM items
       |        WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)})
       |  GROUP BY collection
       |  UNION ALL
       |  SELECT 'month', coalesce(strftime(date_trunc('month', datetime), '%Y-%m'), '__none__'), COUNT(*)
       |  FROM (SELECT datetime FROM items
       |        WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)})
       |  GROUP BY 2)
       |ORDER BY facet, bucket""".stripMargin)

  // ------------------------- A70 single-scan aggregations bundle
  /** A70: the AGGREGATIONS-EXTENSION response shape — one /aggregations
    * request asks for several named aggregations over the SAME search
    * (collection facets, a datetime histogram, value stats, the total),
    * and the reference-style engine answers it with one SQL query PER
    * aggregation, i.e. N corpus scans. The Spark-first form is GROUPING
    * SETS: ONE scan and ONE shuffle produce every granularity (Catalyst
    * plans a single Expand + partial-aggregated HashAggregate — each
    * input row fans out to its 3 grouping rows map-side, so the shuffle
    * carries pre-combined partials, never 3× the corpus). At 100 TB the
    * difference between this and the reference's shape is N-1 full
    * corpus passes. Value sums ride as exact integer cents (b31's
    * doctrine); the month bucket uses a49's coalesce(datetime,
    * start_datetime) so interval-only items land in a real month, never
    * a NULL bucket that would collide with the rollup rows.
    */
  def a70AggBundle(s: SparkSession, d: String): DataFrame = {
    val base = items(s, d)
      .where(Geo.bboxContains(col("lon"), col("lat"),
        bbox._1, bbox._2, bbox._3, bbox._4))
      .select(col("collection"),
        date_format(date_trunc("month",
          coalesce(col("datetime"), col("start_datetime"))), "yyyy-MM")
          .as("month_b"),
        expr("CAST(FLOOR(value * 100) AS BIGINT)").as("cents"))
    base.groupingSets(
        Seq(Seq(col("collection")), Seq(col("month_b")), Seq.empty),
        col("collection"), col("month_b"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(col("cents")).as("cents_sum"),
        min(col("cents")).as("cents_min"),
        max(col("cents")).as("cents_max"))
      .select(
        when(col("gid") === 1, lit("collections"))
          .when(col("gid") === 2, lit("months"))
          .otherwise(lit("total")).as("agg"),
        coalesce(col("collection"), col("month_b"), lit("*")).as("bucket"),
        col("n"), col("cents_sum"), col("cents_min"), col("cents_max"))
      .orderBy(col("agg"), col("bucket"))
  }

  val a70Sql: String = Tables.withItems(
    s"""SELECT CASE GROUPING(collection, month_b)
       |    WHEN 1 THEN 'collections' WHEN 2 THEN 'months' ELSE 'total' END AS agg,
       |  COALESCE(collection, month_b, '*') AS bucket,
       |  COUNT(*) AS n,
       |  CAST(SUM(cents) AS BIGINT) AS cents_sum,
       |  CAST(MIN(cents) AS BIGINT) AS cents_min,
       |  CAST(MAX(cents) AS BIGINT) AS cents_max
       |FROM (
       |  SELECT collection,
       |    strftime(date_trunc('month', coalesce(datetime, start_datetime)), '%Y-%m') AS month_b,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS cents
       |  FROM items
       |  WHERE ${Geo.bboxContainsSql("lon", "lat", bbox._1, bbox._2, bbox._3, bbox._4)})
       |GROUP BY GROUPING SETS ((collection), (month_b), ())
       |ORDER BY agg, bucket""".stripMargin)

  // ---------------------------------------------- A26 collections summary
  /** Static per-collection metadata — the reference's collection.json
    * files (title/description/license/links, database_logic.py:58-138)
    * as a tiny catalog table. One source of truth: the Spark frame and
    * the oracle VALUES list both render from this Seq.
    */
  val collectionMeta: Seq[(String, String, String, String)] = Seq(
    ("click", "Click events", "CC-BY-4.0", "Clickstream interaction items"),
    ("error", "Error events", "MIT", "Client and server error items"),
    ("purchase", "Purchase events", "proprietary", "Completed purchase items"),
    ("signup", "Signup events", "CC0-1.0", "Account creation items"),
    ("view", "View events", "CC-BY-4.0", "Page and item view items"))

  // ------------- A67 collections-directory CHANGELOG (CRUD serving view)
  /** A67: collection-level CRUD served from a changelog — the reference's
    * create/update/delete_collection surface (database_logic.py:1119-
    * 1181) as a merge-on-read state view instead of file mutation: the
    * control-plane log carries upserts (create ≡ update, idempotent
    * replace — the reference's update is delete + re-create) and DELETE
    * tombstones; serving = latest row per collection (max_by over the
    * log sequence, B25's compaction shape) with tombstoned collections
    * dropped (B41's doctrine at the catalog level — the filter sits
    * ABOVE the merge so a later re-create resurrects), inner-joined onto
    * the live derived counts so a deleted collection vanishes from the
    * directory even though its items still exist at rest. The log here
    * exercises every transition: create ×5, re-describe (click),
    * delete + re-create (error), delete that stays deleted (view).
    */
  private val a67Changelog: Seq[(Int, String, String, String, String, String)] = {
    val creates = collectionMeta.zipWithIndex.map { case ((c, t, l, de), i) =>
      (i + 1, "upsert", c, t, l, de)
    }
    creates ++ Seq(
      (6, "upsert", "click", "Click events v2", "CC-BY-4.0", "Re-described clickstream"),
      (7, "delete", "error", null, null, null),
      (8, "upsert", "error", "Error events (restored)", "MIT", "Error feed back online"),
      (9, "delete", "view", null, null, null))
  }

  def a67CollectionsChangelog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val log = a67Changelog
      .toDF("seq", "op", "collection", "title", "license", "description")
    val latest = log.groupBy(col("collection"))
      .agg(max_by(struct(col("op"), col("title"), col("license"),
        col("description")), col("seq")).as("m"))
      .select(col("collection"), col("m.op").as("op"), col("m.title").as("title"),
        col("m.license").as("license"), col("m.description").as("description"))
      .where(col("op") =!= "delete")
      .drop("op")
    items(s, d).groupBy(col("collection"))
      .agg(count(lit(1)).as("n_items"))
      .join(broadcast(latest), Seq("collection"))
      .select(col("collection"), col("title"), col("license"),
        col("description"), col("n_items"))
      .orderBy(col("collection"))
  }

  val a67Sql: String = {
    val values = a67Changelog.map { case (q, op, c, t, l, de) =>
      def s(x: String) = if (x == null) "NULL" else s"'$x'"
      s"($q, '$op', '$c', ${s(t)}, ${s(l)}, ${s(de)})"
    }.mkString(",\n      ")
    Tables.withItems(
      s"""SELECT l.collection, title, license, description, n_items
         |FROM (
         |  SELECT collection, arg_max(op, seq) AS op, arg_max(title, seq) AS title,
         |    arg_max(license, seq) AS license, arg_max(description, seq) AS description
         |  FROM (VALUES
         |      $values)
         |    AS log(seq, op, collection, title, license, description)
         |  GROUP BY collection) l
         |JOIN (SELECT collection, COUNT(*) AS n_items FROM items GROUP BY collection) d
         |  ON l.collection = d.collection
         |WHERE op <> 'delete'
         |ORDER BY l.collection""".stripMargin)
  }

  /** The reference's /collections endpoint serves static metadata files
    * (database_logic.py:58-138). Spark-first: the collection directory is
    * the static catalog BROADCAST-joined onto DERIVED per-collection
    * counts plus temporal and spatial extents computed in one aggregation
    * pass (at scale: one map-side-combined shuffle over the partition
    * column, or free from partition-level stats; the catalog side is a
    * handful of rows — always broadcast). Collections missing from the
    * catalog still appear, metadata-null (left join), like the
    * reference's fallback for absent collection.json files.
    */
  def a26Collections(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val meta = collectionMeta.toDF("collection", "title", "license", "description")
    items(s, d).groupBy(col("collection"))
      .agg(count(lit(1)).as("n_items"),
        min(col("datetime")).as("t_min"), max(col("datetime")).as("t_max"),
        min(col("lon")).as("west"), max(col("lon")).as("east"),
        min(col("lat")).as("south"), max(col("lat")).as("north"))
      .join(broadcast(meta), Seq("collection"), "left")
      .withColumn("self_href",
        concat(lit("https://example.com/collections/"), col("collection")))
      .orderBy(col("collection"))
  }

  private val collectionMetaValuesSql: String =
    collectionMeta.map { case (c, t, l, de) => s"('$c', '$t', '$l', '$de')" }
      .mkString(",\n      ")

  val a26Sql: String = Tables.withItems(
    s"""SELECT d.collection, n_items, t_min, t_max, west, east, south, north,
       |  m.title, m.license, m.description,
       |  'https://example.com/collections/' || d.collection AS self_href
       |FROM (
       |  SELECT collection, COUNT(*) AS n_items,
       |    min(datetime) AS t_min, max(datetime) AS t_max,
       |    min(lon) AS west, max(lon) AS east,
       |    min(lat) AS south, max(lat) AS north
       |  FROM items GROUP BY collection) d
       |LEFT JOIN (VALUES
       |      $collectionMetaValuesSql)
       |  AS m(collection, title, license, description)
       |  ON d.collection = m.collection
       |ORDER BY d.collection""".stripMargin)

  // --------------- A65 collection.json document ingestion
  /** A65: the reference's ACTUAL control plane — a directory of
    * `stac_collections/<id>/collection.json` documents read off disk
    * (database_logic.py:58-107) — done with a real file-based typed
    * ingest instead of A26's in-query literal catalog: the static
    * documents (same one-source-of-truth [[collectionMeta]], rendered
    * once into real JSON files with nested extent-free metadata,
    * keywords array, links array-of-structs) are read through
    * `spark.read.schema(...).json`, the typed parse extracts the self
    * link from the links array, and the tiny parsed catalog broadcast-
    * joins onto the live derived extents exactly like A26. The config
    * directory is staged once — it models the
    * deploy-time artifact the reference mounts; a control plane is
    * driver-side by nature and |collections|-sized, never a data scan.
    * Oracle: re-derives every parsed field from the same VALUES list —
    * the file → JSON → typed-row path must land exactly where the
    * literal path does.
    */
  private def a65ConfigDir(d: String): String =
    Staged("collectionjson", 1, d) { p =>
      new java.io.File(p).mkdirs()
      collectionMeta.foreach { case (c, t, l, de) =>
        val json =
          s"""{"id":"$c","title":"$t","license":"$l","description":"$de",""" +
            s""""stac_version":"1.0.0","keywords":["events","$c"],""" +
            s""""links":[{"rel":"self","href":"https://example.com/collections/$c"},""" +
            s"""{"rel":"items","href":"https://example.com/collections/$c/items"}]}"""
        java.nio.file.Files.write(
          new java.io.File(p, s"$c.json").toPath, json.getBytes("UTF-8"))
      }
    }

  def a65CollectionJsonIngest(s: SparkSession, d: String): DataFrame = {
    val schema = "id STRING, title STRING, license STRING, description STRING, " +
      "stac_version STRING, keywords ARRAY<STRING>, " +
      "links ARRAY<STRUCT<rel: STRING, href: STRING>>"
    val meta = s.read.schema(schema).json(a65ConfigDir(d) + "/*.json")
      .select(col("id").as("collection"), col("title"), col("license"),
        col("description"), col("stac_version"),
        // CSV-stringified for the gate: the driver's pandas compare cannot
        // sort/hash ARRAY cells. The JSON parse still reads the real
        // ARRAY<STRING>; only the output projection flattens it.
        array_join(col("keywords"), "\u0001").as("keywords_csv"),
        expr("filter(links, l -> l.rel = 'self')[0].href").as("self_href"))
    items(s, d).groupBy(col("collection"))
      .agg(count(lit(1)).as("n_items"),
        min(col("datetime")).as("t_min"), max(col("datetime")).as("t_max"),
        min(col("lon")).as("west"), max(col("lon")).as("east"),
        min(col("lat")).as("south"), max(col("lat")).as("north"))
      .join(broadcast(meta), Seq("collection"), "left")
      .orderBy(col("collection"))
  }

  val a65Sql: String = Tables.withItems(
    s"""SELECT d.collection, n_items, t_min, t_max, west, east, south, north,
       |  m.title, m.license, m.description,
       |  '1.0.0' AS stac_version,
       |  'events' || chr(1) || d.collection AS keywords_csv,
       |  'https://example.com/collections/' || d.collection AS self_href
       |FROM (
       |  SELECT collection, COUNT(*) AS n_items,
       |    min(datetime) AS t_min, max(datetime) AS t_max,
       |    min(lon) AS west, max(lon) AS east,
       |    min(lat) AS south, max(lat) AS north
       |  FROM items GROUP BY collection) d
       |LEFT JOIN (VALUES
       |      $collectionMetaValuesSql)
       |  AS m(collection, title, license, description)
       |  ON d.collection = m.collection
       |ORDER BY d.collection""".stripMargin)

  // ------------------------------------------- A51 collection search
  /** A51: the STAC COLLECTION-SEARCH extension (`GET /collections?bbox=
    * &datetime=&q=&limit=`) — search the collections THEMSELVES, not
    * their items: spatial-extent bbox overlap, temporal-extent interval
    * overlap, and free-text `q` over title+description, over the same
    * derived directory A26 serves. The reference simulates collection
    * listing with no filtering at all (database_logic.py:105,
    * `next_token = None`); deriving a searchable directory is the
    * capability extension.
    *
    * Scale shape = A26's: one map-side-combined aggregation pass to
    * |collections| extent rows, then the search predicates evaluate on
    * that TINY aggregate — the filter cost is independent of item count.
    * Free-text matches `concat_ws`-joined title+description
    * case-insensitively (null metadata skipped by concat_ws in both
    * engines, so uncatalogued collections never match).
    */
  def a51CollectionSearchWith(
      s: SparkSession, d: String,
      bbox: (Double, Double, Double, Double),
      t0: String, t1: String, q: String, limit: Int): DataFrame = {
    val (qw, qs, qe, qn) = bbox
    a26Collections(s, d)
      .where(col("west") <= qe && col("east") >= qw &&
        col("south") <= qn && col("north") >= qs)
      .where(col("t_min") <= lit(t1).cast("timestamp") &&
        col("t_max") >= lit(t0).cast("timestamp"))
      .where(lower(concat_ws(" ", col("title"), col("description")))
        .contains(q.toLowerCase))
      .orderBy(col("collection"))
      .limit(limit)
  }

  private val a51Bbox = (-120.0, -60.0, 150.0, 80.0)
  private val a51T0 = "2024-01-03 00:00:00"
  private val a51T1 = "2024-01-27 00:00:00"
  private val a51Q = "Items" // case-insensitive over title+description

  def a51CollectionSearch(s: SparkSession, d: String): DataFrame =
    a51CollectionSearchWith(s, d, a51Bbox, a51T0, a51T1, a51Q, 3)

  val a51Sql: String = {
    val (qw, qs, qe, qn) = a51Bbox
    Tables.withItems(
      s"""SELECT * FROM (
         |  SELECT d.collection, n_items, t_min, t_max, west, east, south, north,
         |    m.title, m.license, m.description,
         |    'https://example.com/collections/' || d.collection AS self_href
         |  FROM (
         |    SELECT collection, COUNT(*) AS n_items,
         |      min(datetime) AS t_min, max(datetime) AS t_max,
         |      min(lon) AS west, max(lon) AS east,
         |      min(lat) AS south, max(lat) AS north
         |    FROM items GROUP BY collection) d
         |  LEFT JOIN (VALUES
         |        $collectionMetaValuesSql)
         |    AS m(collection, title, license, description)
         |    ON d.collection = m.collection)
         |WHERE west <= $qe AND east >= $qw AND south <= $qn AND north >= $qs
         |  AND t_min <= TIMESTAMP '$a51T1' AND t_max >= TIMESTAMP '$a51T0'
         |  AND contains(lower(concat_ws(' ', title, description)), '${a51Q.toLowerCase}')
         |ORDER BY collection LIMIT 3""".stripMargin)
  }

  // ------------------------------- A54 incremental collection extents
  /** A54: the collections directory MAINTAINED INCREMENTALLY — A26's
    * derived extents as a slice-partitioned state table (B24's layout
    * applied to the STAC surface): every extent field is already a
    * monoid (count / min / max), so the nightly refresh aggregates ONLY
    * the new month of items and adds a partition, and serving the
    * directory merges |slices × collections| state rows — the full item
    * history is never re-scanned. Items slice by their instant datetime
    * or, for interval items, their start. The gate runs merge-on-read
    * against A26's ORACLE (the direct aggregate over all raw items) —
    * equality IS the incremental-maintenance proof; the spec additionally
    * walks the nightly append path.
    */
  def a54ExtentPartials(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .withColumn("slice",
        date_format(coalesce(col("datetime"), col("start_datetime")), "yyyy-MM"))
      .groupBy(col("slice"), col("collection"))
      .agg(count(lit(1)).as("n_items"),
        min(col("datetime")).as("t_min"), max(col("datetime")).as("t_max"),
        min(col("lon")).as("west"), max(col("lon")).as("east"),
        min(col("lat")).as("south"), max(col("lat")).as("north"))

  /** Materialize the extent-state table, staged once per fixture snapshot. */
  def a54Materialize(s: SparkSession, d: String): String =
    Staged("extents", 1, d, "events")(
      a54ExtentPartials(s, d).write.partitionBy("slice").parquet(_))

  /** The nightly append: add the extent partials of the slices matching
    * `slicePred` to the extent-state table at `path`.
    */
  def a54AppendSlices(s: SparkSession, d: String, path: String,
                      slicePred: String): Unit =
    a54ExtentPartials(s, d).where(slicePred)
      .write.mode("append").partitionBy("slice").parquet(path)

  /** Merge-on-read: the served directory — identical output (and oracle)
    * to [[a26Collections]].
    */
  def a54MergedFrom(s: SparkSession, statePath: String): DataFrame = {
    import s.implicits._
    val meta = collectionMeta.toDF("collection", "title", "license", "description")
    s.read.parquet(statePath)
      .groupBy(col("collection"))
      .agg(sum(col("n_items")).as("n_items"),
        min(col("t_min")).as("t_min"), max(col("t_max")).as("t_max"),
        min(col("west")).as("west"), max(col("east")).as("east"),
        min(col("south")).as("south"), max(col("north")).as("north"))
      .join(broadcast(meta), Seq("collection"), "left")
      .withColumn("self_href",
        concat(lit("https://example.com/collections/"), col("collection")))
      .orderBy(col("collection"))
  }

  def a54CollectionsIncremental(s: SparkSession, d: String): DataFrame =
    a54MergedFrom(s, a54Materialize(s, d))

  // ------------------------------- A55 incremental queryables stats
  /** A55: A48's queryables statistics MAINTAINED INCREMENTALLY — the
    * second STAC serving surface on the A54/B24 state-table pattern:
    * every per-property statistic is a monoid (min / max / non-null
    * count), so the state table holds one 15-stat row per (slice,
    * collection), the nightly job aggregates only the new month, and
    * serving merges the tiny state then unpivots — the corpus is never
    * re-scanned. The gate runs merge-on-read against A48's ORACLE (the
    * direct one-pass aggregate over all raw items).
    */
  private def a55Stats(df: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    df.agg(
      min(expr("unix_micros(datetime)")).as("dt_min"),
      max(expr("unix_micros(datetime)")).as("dt_max"),
      count(col("datetime")).as("dt_n"),
      min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
      count(col("lon")).as("lon_n"),
      min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
      count(col("lat")).as("lat_n"),
      min(col("value")).as("v_min"), max(col("value")).as("v_max"),
      count(col("value")).as("v_n"),
      min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
      count(col("user_id")).as("u_n"))

  def a55StatPartials(s: SparkSession, d: String): DataFrame =
    a55Stats(items(s, d)
      .withColumn("slice",
        date_format(coalesce(col("datetime"), col("start_datetime")), "yyyy-MM"))
      .groupBy(col("slice"), col("collection")))

  def a55Materialize(s: SparkSession, d: String): String =
    Staged("queryables", 1, d, "events")(
      a55StatPartials(s, d).write.partitionBy("slice").parquet(_))

  def a55QueryablesIncremental(s: SparkSession, d: String): DataFrame =
    s.read.parquet(a55Materialize(s, d))
      .groupBy(col("collection"))
      .agg(
        min(col("dt_min")).cast("double").as("dt_min"),
        max(col("dt_max")).cast("double").as("dt_max"), sum(col("dt_n")).as("dt_n"),
        min(col("lon_min")).as("lon_min"), max(col("lon_max")).as("lon_max"),
        sum(col("lon_n")).as("lon_n"),
        min(col("lat_min")).as("lat_min"), max(col("lat_max")).as("lat_max"),
        sum(col("lat_n")).as("lat_n"),
        min(col("v_min")).as("v_min"), max(col("v_max")).as("v_max"),
        sum(col("v_n")).as("v_n"),
        min(col("u_min")).cast("double").as("u_min"),
        max(col("u_max")).cast("double").as("u_max"), sum(col("u_n")).as("u_n"))
      .select(col("collection"), expr(
        """stack(5,
          |  'datetime', dt_min, dt_max, dt_n,
          |  'lat', lat_min, lat_max, lat_n,
          |  'lon', lon_min, lon_max, lon_n,
          |  'user_id', u_min, u_max, u_n,
          |  'value', v_min, v_max, v_n
          |) AS (property, min_val, max_val, n_nonnull)""".stripMargin))
      .orderBy(col("collection"), col("property"))

  // ----------------------------------------- A48 per-collection queryables
  /** A48: per-collection queryables STATS — A21's schema-derived
    * queryables enriched with live property statistics (value ranges +
    * non-null counts per collection), the data a client needs to render
    * range pickers or plan filters. The reference serves one static
    * queryables document for all collections (filter_client.py:15-58);
    * deriving it from the data is the capability extension.
    *
    * Plan shape: ONE scan + ONE |collections|-row shuffle — all five
    * properties' stats ride the same partial-aggregate pass (map-side
    * combined), then a 5-way `stack` unpivots the tiny aggregate. At
    * 100 TB the shuffle still carries |collections| rows, never items.
    * Timestamps are compared as exact epoch microseconds (µs-granular
    * fixture), numerics as doubles.
    */
  def a48Queryables(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .groupBy(col("collection"))
      .agg(
        min(expr("unix_micros(datetime)")).cast("double").as("dt_min"),
        max(expr("unix_micros(datetime)")).cast("double").as("dt_max"),
        count(col("datetime")).as("dt_n"),
        min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
        count(col("lon")).as("lon_n"),
        min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"),
        count(col("lat")).as("lat_n"),
        min(col("value")).as("v_min"), max(col("value")).as("v_max"),
        count(col("value")).as("v_n"),
        min(col("user_id")).cast("double").as("u_min"),
        max(col("user_id")).cast("double").as("u_max"),
        count(col("user_id")).as("u_n"))
      .select(col("collection"), expr(
        """stack(5,
          |  'datetime', dt_min, dt_max, dt_n,
          |  'lat', lat_min, lat_max, lat_n,
          |  'lon', lon_min, lon_max, lon_n,
          |  'user_id', u_min, u_max, u_n,
          |  'value', v_min, v_max, v_n
          |) AS (property, min_val, max_val, n_nonnull)""".stripMargin))
      .orderBy(col("collection"), col("property"))

  val a48Sql: String = Tables.withItems(
    """SELECT collection, property, min_val, max_val, n_nonnull FROM (
      |  SELECT collection,
      |    CAST(MIN(epoch_us(datetime)) AS DOUBLE) AS dt_min,
      |    CAST(MAX(epoch_us(datetime)) AS DOUBLE) AS dt_max,
      |    COUNT(datetime) AS dt_n,
      |    MIN(lon) AS lon_min, MAX(lon) AS lon_max, COUNT(lon) AS lon_n,
      |    MIN(lat) AS lat_min, MAX(lat) AS lat_max, COUNT(lat) AS lat_n,
      |    MIN(value) AS v_min, MAX(value) AS v_max, COUNT(value) AS v_n,
      |    CAST(MIN(user_id) AS DOUBLE) AS u_min,
      |    CAST(MAX(user_id) AS DOUBLE) AS u_max, COUNT(user_id) AS u_n
      |  FROM items GROUP BY collection) g,
      |LATERAL (VALUES
      |  ('datetime', dt_min, dt_max, dt_n),
      |  ('lat', lat_min, lat_max, lat_n),
      |  ('lon', lon_min, lon_max, lon_n),
      |  ('user_id', u_min, u_max, u_n),
      |  ('value', v_min, v_max, v_n)) AS p(property, min_val, max_val, n_nonnull)
      |ORDER BY collection, property""".stripMargin)

  // ------------------------------------------------ A50 CQL2-text
  /** A50: the OGC cql2-TEXT encoding — parsed by [[Cql2Text]] onto the
    * SAME AST as cql2-json, so one filter language surface serves both
    * encodings (the reference app's REST layer accepts
    * `filter-lang=cql2-text`; its engine sees only the converted tree).
    * The gate exercises grouping, arithmetic precedence, BETWEEN,
    * NOT LIKE, casei, a TIMESTAMP comparison, and S_INTERSECTS with WKT —
    * compiled to the Column backend, oracle-rendered from the same AST.
    */
  private val a50Text =
    """(collection = 'click' OR collection = 'view' OR collection = 'error')
      |AND value * 2.0 >= 100.5 AND value / 4.0 < 80.25
      |AND user_id BETWEEN 5 AND 120
      |AND id NOT LIKE '%7'
      |AND CASEI(collection) <> CASEI('ERROR')
      |AND datetime >= TIMESTAMP('2024-01-03 00:00:00')
      |AND S_INTERSECTS(geometry, POLYGON((-100.137 -40.223, 20.141 -70.177,
      |  60.141 20.223, -40.139 60.177, -100.137 -40.223)))""".stripMargin

  private val (a50Fn, a50Sql) = {
    val ast = Cql2Text.parse(a50Text)
    val fn = (s: SparkSession, d: String) =>
      items(s, d).where(ast.toColumn).select(projCols: _*).orderBy(col("id"))
    (fn, Tables.withItems(
      s"SELECT $projSql FROM items WHERE ${ast.toSql} ORDER BY id"))
  }

  // --------------------------------- A49 datetime-frequency histogram
  /** A49: STAC Aggregations `datetime_frequency` — A46's temporal
    * companion: monthly item counts + exact value sums per collection
    * over a filtered search. Null-datetime (interval) items bucket by
    * their interval start, the reference's datetime-or-range display
    * convention. One map-side-combined pass; the shuffle carries
    * |months × collections| partials, never items.
    */
  def a49DatetimeHistogram(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "view", "error"))
      .withColumn("month", expr("date_trunc('MONTH', coalesce(datetime, start_datetime))"))
      .groupBy(col("month"), col("collection"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
      .orderBy(col("month"), col("collection"))

  val a49Sql: String = Tables.withItems(
    """SELECT date_trunc('month', coalesce(datetime, start_datetime)) AS month,
      |  collection, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      |FROM items WHERE collection IN ('click', 'view', 'error')
      |GROUP BY 1, 2 ORDER BY month, collection""".stripMargin)

  // ------------------------------ A56 item-changelog upsert search
  /** A56: search over a RE-INGESTED item corpus — the CDC serving view
    * of a STAC ingest pipeline (scenes get reprocessed; the catalog
    * serves the latest revision). The changelog models each logical
    * scene as (collection, id_num DIV 3) with ingest order id_num —
    * later ingest wins. Serving is B25's AGGREGATE compaction on the
    * items surface: `max_by(payload, version)` is a commutative monoid,
    * so the merge map-side-combines and the shuffle carries \|logical
    * scenes\| candidate rows, never the revision history (the window
    * form shuffles every revision; the oracle uses exactly that form —
    * two algorithms, one result).
    *
    * Predicate PLACEMENT is the scale story: the collections filter
    * touches a KEY-STABLE column, so it evaluates below the merge and
    * reaches the scan (partition pruning at 100 TB — PlanAuditSpec pins
    * the pushdown); the bbox touches MUTABLE columns (a reprocessed
    * scene can move), so it evaluates on the merged latest revision —
    * pushing it below the merge could resurrect a superseded revision
    * whose geometry happened to match.
    */
  def a56UpsertSearch(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "view")) // key-stable: below
      .groupBy(col("collection"), expr("id_num DIV 3").as("grp"))
      .agg(max_by(
          struct(col("id"), col("datetime"), col("lon"), col("lat"), col("value")),
          col("id_num")).as("last"),
        count(lit(1)).as("n_revisions"))
      .select(col("collection"), col("grp"), col("last.id").as("id"),
        col("last.datetime").as("datetime"), col("last.lon").as("lon"),
        col("last.lat").as("lat"), col("last.value").as("value"),
        col("n_revisions"))
      .where(col("lon").between(-120, 60) && col("lat").between(-60, 60))
      .orderBy(col("collection"), col("grp"))

  val a56Sql: String = Tables.withItems(
    """SELECT collection, grp, id, datetime, lon, lat, value, n_revisions
      |FROM (
      |  SELECT collection, id_num // 3 AS grp, id, datetime, lon, lat, value,
      |    ROW_NUMBER() OVER (PARTITION BY collection, id_num // 3
      |                       ORDER BY id_num DESC) AS rk,
      |    COUNT(*) OVER (PARTITION BY collection, id_num // 3) AS n_revisions
      |  FROM items WHERE collection IN ('click', 'view'))
      |WHERE rk = 1 AND lon BETWEEN -120 AND 60 AND lat BETWEEN -60 AND 60
      |ORDER BY collection, grp""".stripMargin)

  // ------------------------- A60 time-travel (AS-OF) catalog read
  /** A60: TIME-TRAVEL read over the A56 changelog — serve the catalog
    * exactly as it stood at time T (the reproducibility contract:
    * yesterday's training run must see yesterday's catalog even after
    * today's reprocessing landed): only revisions visible at the AS-OF
    * horizon participate, then A56's latest-wins compaction picks each
    * logical scene's newest VISIBLE revision; scenes whose first
    * revision postdates T are absent, and `n_revisions_asof` counts
    * only visible history. Same one-aggregate shape as A56 (max_by
    * map-side-combines; the horizon filter evaluates below the merge
    * and is key-stable by definition — a revision's timestamp never
    * mutates). The oracle runs the window form over the same filtered
    * set — two algorithms, one snapshot.
    */
  private val a60AsOf = "2024-01-15 00:00:00"

  def a60TimeTravel(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "view"))
      .where(col("datetime").isNotNull &&
        col("datetime") <= to_timestamp(lit(a60AsOf)))
      .groupBy(col("collection"), expr("id_num DIV 3").as("grp"))
      .agg(max_by(
          struct(col("id"), col("datetime"), col("value")),
          col("id_num")).as("last"),
        count(lit(1)).as("n_revisions_asof"))
      .select(col("collection"), col("grp"), col("last.id").as("id"),
        col("last.datetime").as("datetime"), col("last.value").as("value"),
        col("n_revisions_asof"))
      .orderBy(col("collection"), col("grp"))

  val a60Sql: String = Tables.withItems(
    s"""SELECT collection, grp, id, datetime, value, n_revisions_asof
       |FROM (
       |  SELECT collection, id_num // 3 AS grp, id, datetime, value,
       |    ROW_NUMBER() OVER (PARTITION BY collection, id_num // 3
       |                       ORDER BY id_num DESC) AS rk,
       |    COUNT(*) OVER (PARTITION BY collection, id_num // 3)
       |      AS n_revisions_asof
       |  FROM items
       |  WHERE collection IN ('click', 'view')
       |    AND datetime IS NOT NULL AND datetime <= TIMESTAMP '$a60AsOf')
       |WHERE rk = 1
       |ORDER BY collection, grp""".stripMargin)

  // ------------------------- A68 JSON merge-patch item updates
  /** A68: PATCH-semantics item updates — the transaction surface's
    * `update_item` as RFC 7396 JSON MERGE PATCH over the changelog (A56
    * is PUT: the latest revision replaces the document wholesale; A68 is
    * PATCH: a revision carries only the properties it changes, and an
    * explicit null DELETES a property — cf. the reference's create/update
    * hooks, database_logic.py:1049-1101, which replace whole documents;
    * merge-patch is the semantics a partial-update API needs). Serving is
    * per-FIELD last-writer-wins: each property takes its value from the
    * highest-version revision that CARRIES the property, where
    * carried-as-null is the RFC 7396 delete (the merged property is null
    * even though earlier revisions set it — dropping the null rows would
    * silently resurrect them).
    *
    * The merge is `max(CASE WHEN carried THEN struct(version, value) END)`
    * per field — a commutative monoid exactly like A56's max_by, so it
    * map-side-combines and the shuffle carries \|scenes\| partial rows
    * (one (version, value) cell per property), never revision history;
    * both engines order structs lexicographically with the never-null
    * unique version first, so the two forms are bit-identical, null
    * payloads included. Which fields a revision carries derives
    * deterministically from id_num (the stand-in for the patch document's
    * key set); `props.k` flows through a real JSON-path extraction — the
    * patch path reads JSON documents, as the reference's transaction API
    * does.
    */
  /** The changelog revision frame A68 (and streaming D34) merge: one row
    * per revision with the property payloads; the carried/delete classes
    * derive from id_num inside [[a68PatchAggs]].
    */
  private[graft] def a68Revisions(s: SparkSession, d: String): DataFrame =
    items(s, d)
      .where(col("collection").isin("click", "view"))
      .select(col("collection"), expr("id_num DIV 3").as("grp"), col("id_num"),
        col("value"), col("lat"),
        expr("CAST(get_json_object(props, '$.k') AS INT)").as("k"))

  /** Per-field LWW cells — each a commutative monoid, so partials from
    * any split of the revision set (map-side combines, micro-batches)
    * re-merge to the same answer. Shared verbatim with D34's streaming
    * maintenance so live and batch serving cannot disagree.
    */
  private[graft] def a68PatchAggs: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n_revisions"),
    max(when(expr("id_num % 2 = 0"),
      struct(col("id_num"), col("value")))).as("mv"),
    max(when(expr("id_num % 3 <> 1"),
      struct(col("id_num"),
        when(expr("id_num % 9 <> 8"), col("k")).as("k")))).as("mk"),
    max(struct(col("id_num"), col("lat"))).as("ml"))

  /** Read the merged property cells off — shared by A68 and D34. */
  private[graft] def a68Serve(merged: DataFrame): DataFrame =
    merged.select(col("collection"), col("grp"), col("n_revisions"),
      col("mv.value").as("value"), col("mk.k").as("k"), col("ml.lat").as("lat"))
      .orderBy(col("collection"), col("grp"))

  def a68MergePatch(s: SparkSession, d: String): DataFrame =
    a68Serve(a68Revisions(s, d)
      .groupBy(col("collection"), col("grp"))
      .agg(a68PatchAggs.head, a68PatchAggs.tail: _*))

  val a68Sql: String = Tables.withItems(
    """SELECT collection, grp, n_revisions,
      |  (mv).value AS value, (mk).k AS k, (ml).lat AS lat
      |FROM (
      |  SELECT collection, id_num // 3 AS grp, COUNT(*) AS n_revisions,
      |    max(CASE WHEN id_num % 2 = 0
      |        THEN struct_pack(i := id_num, value := value) END) AS mv,
      |    max(CASE WHEN id_num % 3 <> 1
      |        THEN struct_pack(i := id_num, k := CASE WHEN id_num % 9 <> 8
      |          THEN CAST(json_extract_string(props, '$.k') AS INTEGER) END) END) AS mk,
      |    max(struct_pack(i := id_num, lat := lat)) AS ml
      |  FROM items WHERE collection IN ('click', 'view')
      |  GROUP BY 1, 2)
      |ORDER BY collection, grp""".stripMargin)

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a68_merge_patch"     -> (a68MergePatch _),
    "a60_time_travel"     -> (a60TimeTravel _),
    "a61_bbox_antimeridian" -> (a61BboxAntimeridian _),
    "a62_search_body"     -> (a62SearchBody _),
    "a66_stacql_query"    -> (a66StacqlQuery _),
    "a67_collections_changelog" -> (a67CollectionsChangelog _),
    "a56_upsert_search"   -> (a56UpsertSearch _),
    "a1_scan_collection"  -> (a1ScanCollection _),
    "a2_multi_collection" -> (a2MultiCollection _),
    "a3_ids_filter"       -> (a3IdsFilter _),
    "a5_datetime_exact"   -> (a5DatetimeExact _),
    "a6_datetime_range"   -> (a6DatetimeRange _),
    "a7_datetime_open"    -> (a7DatetimeOpen _),
    "a8_bbox"             -> (a8Bbox _),
    "a9_intersects"       -> (a9Intersects _),
    "a10_cql2_logical"    -> a10Fn,
    "a11_cql2_compare"    -> a11Fn,
    "a12_cql2_like"       -> a12Fn,
    "a13_cql2_in"         -> a13Fn,
    "a14_cql2_between"    -> a14Fn,
    "a15_cql2_isnull"     -> a15Fn,
    "a16_sort"            -> (a16Sort _),
    "a17_paginate"        -> (a17Paginate _),
    "a18_count"           -> (a18Count _),
    "a19_item_lookup"     -> (a19ItemLookup _),
    "a20_serialize"       -> (a20Serialize _),
    "a22_combined_search" -> (a22CombinedSearch _),
    "a23_keyset_paginate" -> (a23KeysetPaginate _),
    "a24_zcurve_cells"    -> (a24ZcurveCells _),
    "a26_collections"     -> (a26Collections _),
    "a51_collection_search" -> (a51CollectionSearch _),
    "a52_cql2_arrays"     -> (a52CqlArrays _),
    "a53_free_text"       -> (a53FreeText _),
    "a54_collections_incremental" -> (a54CollectionsIncremental _),
    "a27_cql2_temporal"   -> a27Fn,
    "a28_cql2_spatial"    -> a28Fn,
    "a29_envelope_overlap" -> (a29EnvelopeOverlap _),
    "a30_zrange_scan"     -> (a30ZrangeScan _),
    "a63_covering_index"  -> (a63CoveringIndex _),
    "a64_manifest_datetime" -> (a64ManifestDatetime _),
    "a65_collection_json"   -> (a65CollectionJsonIngest _),
    "a31_facets"          -> (a31Facets _),
    "a70_agg_bundle"      -> (a70AggBundle _),
    "a71_item_collection" -> (a71ItemCollection _),
    "a32_cql2_casei"      -> a32Fn,
    "a33_intersects_concave"      -> (a33IntersectsConcave _),
    "a34_intersects_multipolygon" -> (a34IntersectsMultipolygon _),
    "a35_footprint_intersects"    -> (a35FootprintIntersects _),
    "a36_cql2_s_intersects_multi" -> a36Fn,
    "a37_cql2_property_resolve"   -> (a37CqlPropertyResolve _),
    "a38_fields"                  -> (a38Fields _),
    "a39_footprint_cql"           -> (a39FootprintCql _),
    "a72_cql2_s_disjoint"         -> (a72CqlDisjoint _),
    "a74_cql2_t_interval"         -> a74Fn,
    "a76_cql2_allen"              -> (a76CqlAllen _),
    "a80_cql2_accenti"            -> (a80CqlAccenti _),
    "a81_cql2_bbox"               -> (a81CqlBbox _),
    "a83_cql2_fuzz"               -> (a83CqlFuzz _),
    "a84_cql2_fuzz_spatial"       -> (a84CqlFuzzSpatial _),
    "a77_cql2_spatial_rel"        -> (a77CqlSpatialRel _),
    "a88_polygon_footprint"       -> (a88PolygonFootprint _),
    "a95_line_footprint"          -> (a95LineFootprint _),
    "a96_mercator_ingest"         -> (a96MercatorIngest _),
    "a75_geoparquet_ingest"       -> (a75GeoparquetIngest _),
    "a82_geoparquet_export"       -> (a82GeoparquetExport _),
    "a85_catalog_pruned_search"   -> (a85CatalogPrunedSearch _),
    "a87_catalog_source"          -> (a87CatalogSource _),
    "a89_catalog_coldt_prune"     -> (a89CatalogColdtPrune _),
    "a86_catalog_compact"         -> (a86CatalogCompact _),
    "a78_within_concave"          -> (a78WithinConcave _),
    "a73_cql2_s_within"           -> (a73CqlWithin _),
    "a40_intersects_shapes"       -> a40Fn,
    "a41_footprint_shapes"        -> (a41FootprintShapes _),
    "a42_wkb_roundtrip"           -> (a42WkbRoundtrip _),
    "a43_item_ingest"             -> (a43ItemIngest _),
    "a57_tolerant_ingest"         -> (a57TolerantIngest _),
    "a58_mosaic_best"             -> (a58MosaicBest _),
    "a59_acquisition_gaps"        -> (a59AcquisitionGaps _),
    "a44_param_intersects"        -> (a44ParamIntersects _),
    "a45_intersects_convex"       -> (a45IntersectsConvex _),
    "a46_grid_agg"                -> (a46GridAgg _),
    "a47_cql2_arithmetic"         -> a47Fn,
    "a48_queryables_stats"        -> (a48Queryables _),
    "a55_queryables_incremental"  -> (a55QueryablesIncremental _),
    "a49_datetime_histogram"      -> (a49DatetimeHistogram _),
    "a50_cql2_text"               -> a50Fn
  )

  // def, not val: a75's oracle embeds the staged GeoParquet path, which
  // the gate run sets (the c87 pattern — Verify dumps oracles post-loop)
  def oracle: Map[String, String] = Map(
    "a68_merge_patch"     -> a68Sql,
    "a56_upsert_search"   -> a56Sql,
    "a1_scan_collection"  -> a1Sql,
    "a2_multi_collection" -> a2Sql,
    "a3_ids_filter"       -> a3Sql,
    "a5_datetime_exact"   -> a5Sql,
    "a6_datetime_range"   -> a6Sql,
    "a7_datetime_open"    -> a7Sql,
    "a8_bbox"             -> a8Sql,
    "a9_intersects"       -> a9Sql,
    "a10_cql2_logical"    -> a10Sql,
    "a11_cql2_compare"    -> a11Sql,
    "a12_cql2_like"       -> a12Sql,
    "a13_cql2_in"         -> a13Sql,
    "a14_cql2_between"    -> a14Sql,
    "a15_cql2_isnull"     -> a15Sql,
    "a16_sort"            -> a16Sql,
    "a17_paginate"        -> a17Sql,
    "a18_count"           -> a18Sql,
    "a19_item_lookup"     -> a19Sql,
    "a20_serialize"       -> a20Sql,
    "a22_combined_search" -> a22Sql,
    "a23_keyset_paginate" -> a23Sql,
    "a24_zcurve_cells"    -> a24Sql,
    "a26_collections"     -> a26Sql,
    "a51_collection_search" -> a51Sql,
    "a52_cql2_arrays"     -> a52Sql,
    "a53_free_text"       -> a53Sql,
    "a54_collections_incremental" -> a26Sql, // merged state ≡ the direct directory
    "a27_cql2_temporal"   -> a27Sql,
    "a28_cql2_spatial"    -> a28Sql,
    "a29_envelope_overlap" -> a29Sql,
    "a30_zrange_scan"     -> a30Sql,
    "a63_covering_index"  -> a63Sql,
    "a64_manifest_datetime" -> a64Sql,
    "a65_collection_json"   -> a65Sql,
    "a31_facets"          -> a31Sql,
    "a70_agg_bundle"      -> a70Sql,
    "a71_item_collection" -> a71Sql,
    "a32_cql2_casei"      -> a32Sql,
    "a33_intersects_concave"      -> a33Sql,
    "a34_intersects_multipolygon" -> a34Sql,
    "a35_footprint_intersects"    -> a35Sql,
    "a36_cql2_s_intersects_multi" -> a36Sql,
    "a37_cql2_property_resolve"   -> a37Sql,
    "a38_fields"                  -> a38Sql,
    "a39_footprint_cql"           -> a39Sql,
    "a72_cql2_s_disjoint"         -> a72Sql,
    "a74_cql2_t_interval"         -> a74Sql,
    "a76_cql2_allen"              -> a76Sql,
    "a80_cql2_accenti"            -> a80Sql,
    "a81_cql2_bbox"               -> a81Sql,
    "a83_cql2_fuzz"               -> a83Sql,
    "a84_cql2_fuzz_spatial"       -> a84Sql,
    "a77_cql2_spatial_rel"        -> a77Sql,
    "a88_polygon_footprint"       -> a88Sql,
    "a95_line_footprint"          -> a95Sql,
    "a96_mercator_ingest"         -> a96Sql,
    "a75_geoparquet_ingest"       -> a75Sql,
    "a82_geoparquet_export"       -> a82Sql,
    "a85_catalog_pruned_search"   -> a85Sql,
    "a87_catalog_source"          -> a87Sql,
    "a89_catalog_coldt_prune"     -> a89Sql,
    "a86_catalog_compact"         -> a86Sql,
    "a78_within_concave"          -> a78Sql,
    "a73_cql2_s_within"           -> a73Sql,
    "a40_intersects_shapes"       -> a40Sql,
    "a41_footprint_shapes"        -> a41Sql,
    "a42_wkb_roundtrip"           -> a42Sql,
    "a43_item_ingest"             -> a43Sql,
    "a57_tolerant_ingest"         -> a57Sql,
    "a58_mosaic_best"             -> a58Sql,
    "a59_acquisition_gaps"        -> a59Sql,
    "a60_time_travel"             -> a60Sql,
    "a61_bbox_antimeridian"       -> a61Sql,
    "a62_search_body"             -> a62Sql,
    "a66_stacql_query"            -> a66Sql,
    "a67_collections_changelog"   -> a67Sql,
    "a44_param_intersects"        -> a44Sql,
    "a45_intersects_convex"       -> a45Sql,
    "a46_grid_agg"                -> a46Sql,
    "a47_cql2_arithmetic"         -> a47Sql,
    "a48_queryables_stats"        -> a48Sql,
    "a55_queryables_incremental"  -> a48Sql, // merged state ≡ the direct stats
    "a49_datetime_histogram"      -> a49Sql,
    "a50_cql2_text"               -> a50Sql
  )
}
