package graft.cql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** CQL2 filter support (reference surface: /root/reference/stac_fastapi/
  * duckdb/filter_client.py:64-81 — eq neq lt lte gt gte and or not in
  * between like ilike isNull).
  *
  * The reference compiles its CQL2 JSON tree to a SQL WHERE string
  * (database_logic.py:539-624). Spark-first re-architecture: the AST
  * compiles to a Catalyst [[Column]], so CQL2 predicates constant-fold,
  * push down to parquet scans, and run inside whole-stage codegen — no SQL
  * string assembly in the hot path. The same AST also renders ANSI SQL
  * ([[Cql.toSql]]) which is used ONLY to generate the DuckDB oracle.
  */
sealed trait Cql {
  /** Compile to a Catalyst predicate. */
  def toColumn: Column = Cql.toColumn(this)
  /** Render as ANSI SQL (oracle generation / debugging). */
  def toSql: String = Cql.toSql(this)
}

object Cql {
  // ------------------------------------------------------------- operands
  sealed trait Operand
  /** `{"property": name}` reference. */
  final case class Prop(name: String) extends Operand
  final case class Str(v: String) extends Operand
  final case class Num(v: Double) extends Operand
  final case class IntNum(v: Long) extends Operand
  final case class Bool(v: Boolean) extends Operand
  /** Timestamp literal, `yyyy-MM-dd HH:mm:ss[.SSSSSS]` (UTC). */
  final case class Ts(v: String) extends Operand
  /** Open interval bound (OGC 21-065 §4.9: `".."` or JSON null) — −∞ as
    * a start, +∞ as an end. Only legal inside a TIntervalPred side; the
    * compilers fold the affected conjunct to TRUE/FALSE instead of
    * rendering it (a naive `CAST('..' AS TIMESTAMP)` is NULL in Spark —
    * silently dropping every row — and a hard error in DuckDB).
    */
  case object OpenBound extends Operand
  /** CQL2 `casei` accessor: case-insensitive wrapper around an operand. */
  final case class CaseI(x: Operand) extends Operand
  /** CQL2 `accenti` accessor (OGC 21-065 Accent-insensitive Comparison):
    * accent-stripping wrapper — NFD + drop combining marks on the Spark
    * side ([[graft.functions.StripAccents]]), `strip_accents` on the
    * DuckDB side; the two are the same Unicode algorithm, so the
    * backends cannot drift. Composes freely with casei.
    */
  final case class Accenti(x: Operand) extends Operand

  /** CQL2 arithmetic expression (OGC cql2-json `+ - * /`): an operand, so
    * it composes anywhere a property or literal can appear inside
    * comparisons/BETWEEN/IN — `{"+": [{"property":"value"}, 10.0]}`.
    */
  final case class Arith(op: String, l: Operand, r: Operand) extends Operand

  /** CQL2 array literal (a bare JSON array in cql2-json), the usual rhs
    * of the array predicates below.
    */
  final case class Arr(vs: Seq[Operand]) extends Operand

  // ------------------------------------------------------------ operators
  final case class And(xs: Seq[Cql]) extends Cql
  final case class Or(xs: Seq[Cql]) extends Cql
  final case class Not(x: Cql) extends Cql
  /** op ∈ =, <>, <, <=, >, >= */
  final case class Cmp(op: String, l: Operand, r: Operand) extends Cql
  final case class Like(l: Operand, pattern: String, ci: Boolean = false) extends Cql
  final case class In(l: Operand, vs: Seq[Operand]) extends Cql
  final case class Between(l: Operand, lo: Operand, hi: Operand) extends Cql
  final case class IsNull(l: Operand) extends Cql
  /** CQL2 temporal ops (extension beyond the reference's surface):
    * op ∈ t_before, t_after, t_during.
    */
  final case class Temporal(op: String, l: Operand, lo: Ts, hi: Option[Ts]) extends Cql
  /** CQL2 INTERVAL-valued temporal predicates (OGC 21-065 §4.9: the
    * `{"interval": [lo, hi]}` operand form) — the COMPLETE Allen set the
    * spec's temporal functions enumerate: t_intersects, t_contains,
    * t_during, t_equals, t_starts, t_startedby, t_finishes,
    * t_finishedby, t_meets, t_metby, t_overlaps, t_overlappedby,
    * t_before, t_after (t_disjoint parses to NOT t_intersects — the
    * predicates are exact complements, so negation is exact). Each side
    * is (start, end) operands, so property pairs and literal pairs
    * compose freely; open bounds (`".."`/null) mean −∞ as a start and
    * +∞ as an end, and every op compiles through ONE extended-real
    * bound-comparison algebra ([[allenTerms]]) that constant-folds the
    * affected conjunct identically in both backends. NULL bounds
    * propagate SQL three-valued logic in BOTH engines identically (a
    * row with an unknown interval is not claimed either way).
    */
  final case class TIntervalPred(op: String, ls: Operand, le: Operand,
                                 rs: Operand, re: Operand) extends Cql
  /** CQL2 array predicates (OGC 21-065 §4.10): op ∈ a_equals, a_contains,
    * a_containedby, a_overlaps — SET semantics (element order and
    * multiplicity irrelevant), per the spec.
    */
  final case class ArrayPred(op: String, l: Operand, r: Operand) extends Cql
  /** CQL2 s_intersects (extension), accepting ANY GeoJSON geometry —
    * Point, MultiPoint, LineString, MultiLineString, Polygon (with
    * holes), MultiPolygon, GeometryCollection — like the reference via
    * ST_GeomFromGeoJSON (database_logic.py:418-448). Parsed into the
    * [[graft.spatial.Shape]] ADT.
    *
    * `target` picks the item-side geometry:
    *  - `"geometry"` (default): the point (lon, lat) — envelope prune +
    *    codegen'd exact kernel; SQL renders the independent convex
    *    half-plane form for one convex ring, the general even-odd parity
    *    form for other polygons, and collinearity-bounds forms for
    *    points/lines.
    *  - `"footprint"`: the item's envelope-box footprint
    *    (xmin/ymin/xmax/ymax columns) — exact box∩shape kernel; SQL
    *    renders separating-axis tests (polygon rings must be convex —
    *    decompose concave query shapes before filtering).
    */
  final case class SIntersects(shape: graft.spatial.Shape,
                               target: String = "geometry") extends Cql

  /** CQL2 S_WITHIN on the item's box footprint: the footprint lies fully
    * inside the query geometry ("give me scenes completely covered by my
    * AOI" — the clipping-free-processing predicate). EXACT for arbitrary
    * query polygons since r10 — concave, holed, multi — via
    * [[graft.spatial.Geo.boxWithinGeom]]: all four corners and the
    * center in the CLOSED region, and no ring edge through the open box
    * (the r9 convex-only corner rule and its typed rejection are gone;
    * a spec pins corner-rule ≡ general-kernel on convex input).
    * Non-areal query shapes are constant FALSE (a 2D box cannot lie
    * within a lower-dimensional set).
    *
    * On the `geometry` (point) target, within ≡ intersects, so the
    * parser maps that case to [[SIntersects]] directly.
    */
  final case class SWithinBox(shape: graft.spatial.Shape) extends Cql

  /** The rest of the OGC 21-065 Enhanced-Spatial operator set (r10):
    * op ∈ s_contains, s_equals, s_touches, s_crosses, s_overlaps, on
    * either target. DE-9IM semantics composed from four exact
    * primitives (closed membership, open-box∩segment, vertex covers,
    * interior intersection) — see graft.spatial.Geo §DE-9IM. The
    * reference inherits these from DuckDB spatial the moment its
    * filter_client grows a clause (database_logic.py:488-659's
    * extension point); here they are first-class filter-tree citizens
    * with envelope prunes leading the scan.
    */
  final case class SRel(op: String, shape: graft.spatial.Shape,
                        target: String) extends Cql

  // ------------------------------------------------- property resolution
  /** Resolve `properties.x` / `properties__x` / `x` field references
    * against a live schema, like the reference's `_format_field_name` /
    * `resolve_field` (database_logic.py:640-644, 880): the exact name wins
    * if present, else the stripped bare name; unknown names keep the bare
    * form (and fail analysis with a clear missing-column error).
    */
  /** The candidate names a field reference may resolve to, exact name
    * first — THE single copy of the variant-stripping rule (StacSearch's
    * sort-path resolver delegates here).
    */
  def nameVariants(name: String): Seq[String] =
    Seq(name, name.stripPrefix("properties.").stripPrefix("properties__")).distinct

  def resolveProp(name: String, schema: Seq[String]): String =
    nameVariants(name).find(schema.contains).getOrElse(nameVariants(name).last)

  /** Rewrite every property reference in the AST against `schema`. */
  def resolve(e: Cql, schema: Seq[String]): Cql = mapProps(e)(resolveProp(_, schema))

  /** `e` with every property reference `n` renamed to `f(n)`. */
  def mapProps(e: Cql)(f: String => String): Cql = {
    def ro(o: Operand): Operand = o match {
      case Prop(n)  => Prop(f(n))
      case CaseI(x) => CaseI(ro(x))
      case Accenti(x) => Accenti(ro(x))
      case Arith(op, l, r) => Arith(op, ro(l), ro(r))
      case Arr(vs)  => Arr(vs.map(ro))
      case other    => other
    }
    e match {
      case And(xs) => And(xs.map(mapProps(_)(f)))
      case Or(xs)  => Or(xs.map(mapProps(_)(f)))
      case Not(x)  => Not(mapProps(x)(f))
      case Cmp(op, l, r)      => Cmp(op, ro(l), ro(r))
      case Like(l, p, ci)     => Like(ro(l), p, ci)
      case In(l, vs)          => In(ro(l), vs.map(ro))
      case Between(l, lo, hi) => Between(ro(l), ro(lo), ro(hi))
      case IsNull(l)          => IsNull(ro(l))
      case Temporal(op, l, lo, hi) => Temporal(op, ro(l), lo, hi)
      case TIntervalPred(op, ls, le, rs, re) =>
        TIntervalPred(op, ro(ls), ro(le), ro(rs), ro(re))
      case ArrayPred(op, l, r) => ArrayPred(op, ro(l), ro(r))
      case s: SIntersects     => s
      case s: SWithinBox      => s
      case s: SRel            => s
    }
  }

  // ---------------------------------------------- Allen interval algebra
  /** Infinity rank of an interval bound: an open START is −∞ (rank −1),
    * an open END is +∞ (rank +1), a finite operand is rank 0.
    */
  private def boundRank(o: Operand, isEnd: Boolean): Int =
    if (o == OpenBound) { if (isEnd) 1 else -1 } else 0

  /** One bound comparison under the §4.9 open-bound (±∞) semantics:
    * folds to Left(const) when either side is infinite (extended-real
    * comparison — two same-signed infinities are equal, never
    * less/greater), Right((a, cmpOp, b)) when both bounds are finite.
    * The fold lives HERE, shared by both backends, so the Column and
    * SQL renderings cannot diverge on open bounds.
    */
  private def boundTerm(a: Operand, aEnd: Boolean, op: String,
                        b: Operand, bEnd: Boolean): Either[Boolean, Cql] = {
    val ra = boundRank(a, aEnd); val rb = boundRank(b, bEnd)
    if (ra == 0 && rb == 0) Right(Cmp(op, a, b))
    else Left(op match {
      case "<"  => ra < rb
      case ">"  => ra > rb
      case "="  => ra == rb // at least one infinite, so equal ⇔ same infinity
      case "<=" => ra <= rb
      case ">=" => ra >= rb
      case other => throw new IllegalArgumentException(s"bad bound cmp: $other")
    })
  }

  /** The conjunct list defining each Allen interval predicate over
    * [ls, le] (left/item interval) and [rs, re] (right/query interval),
    * exactly as OGC 21-065 defines the T_* functions. Single source of
    * truth for both backends.
    */
  private def allenTerms(op: String, ls: Operand, le: Operand,
                         rs: Operand, re: Operand): Seq[Either[Boolean, Cql]] = {
    def t(a: Operand, aE: Boolean, cmp: String, b: Operand, bE: Boolean) =
      boundTerm(a, aE, cmp, b, bE)
    op match {
      // closed intervals share at least an instant
      case "t_intersects"   => Seq(t(ls, false, "<=", re, true), t(le, true, ">=", rs, false))
      // strict Allen contains / during (proper super/sub-interval)
      case "t_contains"     => Seq(t(ls, false, "<", rs, false), t(le, true, ">", re, true))
      case "t_during"       => Seq(t(ls, false, ">", rs, false), t(le, true, "<", re, true))
      case "t_equals"       => Seq(t(ls, false, "=", rs, false), t(le, true, "=", re, true))
      case "t_starts"       => Seq(t(ls, false, "=", rs, false), t(le, true, "<", re, true))
      case "t_startedby"    => Seq(t(ls, false, "=", rs, false), t(le, true, ">", re, true))
      case "t_finishes"     => Seq(t(ls, false, ">", rs, false), t(le, true, "=", re, true))
      case "t_finishedby"   => Seq(t(ls, false, "<", rs, false), t(le, true, "=", re, true))
      case "t_meets"        => Seq(t(le, true, "=", rs, false))
      case "t_metby"        => Seq(t(ls, false, "=", re, true))
      case "t_overlaps"     => Seq(t(ls, false, "<", rs, false),
                                   t(rs, false, "<", le, true),
                                   t(le, true, "<", re, true))
      case "t_overlappedby" => Seq(t(rs, false, "<", ls, false),
                                   t(ls, false, "<", re, true),
                                   t(re, true, "<", le, true))
      case "t_before"       => Seq(t(le, true, "<", rs, false))
      case "t_after"        => Seq(t(ls, false, ">", re, true))
      case other =>
        throw new IllegalArgumentException(s"bad temporal interval op: $other")
    }
  }

  // -------------------------------------------------------- Column back-end
  private def opCol(o: Operand): Column = o match {
    case Prop(n)   => col(n)
    case Str(v)    => lit(v)
    case Num(v)    => lit(v)
    case IntNum(v) => lit(v)
    case Bool(v)   => lit(v)
    case Ts(v)     => lit(v).cast("timestamp")
    case CaseI(x)  => lower(opCol(x))
    case Accenti(x) => graft.functions.StripAccents(opCol(x))
    case Arith(op, l, r) =>
      val (a, b) = (opCol(l), opCol(r))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        case "/" => a / b
        case other => throw new IllegalArgumentException(s"bad arith op: $other")
      }
    case Arr(vs) => array(vs.map(opCol): _*)
    case OpenBound => throw new IllegalArgumentException(
      "open bound '..' is only valid inside a t_intersects/t_contains interval")
  }

  def toColumn(e: Cql): Column = e match {
    // empty conjunction is vacuously true, empty disjunction false (and an
    // empty IN list matches nothing) — defined instead of reduce-crashing
    case And(Nil) => lit(true)
    case Or(Nil)  => lit(false)
    case In(_, Nil) => lit(false)
    case And(xs) => xs.map(toColumn).reduce(_ && _)
    case Or(xs)  => xs.map(toColumn).reduce(_ || _)
    case Not(x)  => !toColumn(x)
    case Cmp(op, l, r) =>
      val (a, b) = (opCol(l), opCol(r))
      op match {
        case "="  => a === b
        case "<>" => a =!= b
        case "<"  => a < b
        case "<=" => a <= b
        case ">"  => a > b
        case ">=" => a >= b
        case other => throw new IllegalArgumentException(s"bad cmp op: $other")
      }
    case Like(l, p, false) => opCol(l).like(p)
    case Like(l, p, true)  => lower(opCol(l)).like(p.toLowerCase)
    case In(l, vs)         => opCol(l).isInCollection(vs.map(opCol))
    case Between(l, lo, hi) => opCol(l).between(opCol(lo), opCol(hi))
    case IsNull(l)         => opCol(l).isNull
    case Temporal("t_before", l, t, _) => opCol(l) < opCol(t)
    case Temporal("t_after", l, t, _)  => opCol(l) > opCol(t)
    case Temporal("t_during", l, lo, Some(hi)) =>
      opCol(l) >= opCol(lo) && opCol(l) <= opCol(hi)
    case Temporal(op, _, _, _) =>
      throw new IllegalArgumentException(s"bad temporal op: $op")
    case TIntervalPred(op, ls, le, rs, re) =>
      val terms = allenTerms(op, ls, le, rs, re)
      if (terms.contains(Left(false))) lit(false)
      else {
        val live = terms.collect { case Right(c) => toColumn(c) }
        if (live.isEmpty) lit(true) else live.reduce(_ && _)
      }
    // set semantics: "A contains B" = no element of B is missing from A —
    // array_except dedups, which is exactly what the spec's set view wants
    case ArrayPred("a_contains", l, r) =>
      size(array_except(opCol(r), opCol(l))) === 0
    case ArrayPred("a_containedby", l, r) =>
      size(array_except(opCol(l), opCol(r))) === 0
    case ArrayPred("a_overlaps", l, r) => arrays_overlap(opCol(l), opCol(r))
    case ArrayPred("a_equals", l, r) =>
      size(array_except(opCol(r), opCol(l))) === 0 &&
        size(array_except(opCol(l), opCol(r))) === 0
    case ArrayPred(op, _, _) =>
      throw new IllegalArgumentException(s"bad array op: $op")
    case SIntersects(shape, "geometry") =>
      graft.spatial.Geo.pointRelShapeCol(col("lon"), col("lat"), shape,
        graft.spatial.Geo.RelIntersects)
    case SIntersects(shape, "footprint") =>
      graft.spatial.Geo.boxRelShapeCol(col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), shape, graft.spatial.Geo.RelIntersects)
    case SIntersects(_, other) =>
      throw new IllegalArgumentException(s"bad s_intersects target: $other")
    case SWithinBox(shape) =>
      graft.spatial.Geo.boxRelShapeCol(col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), shape, graft.spatial.Geo.RelWithin)
    case SRel(op, shape, "geometry") =>
      graft.spatial.Geo.pointRelShapeCol(col("lon"), col("lat"), shape, relCode(op))
    case SRel(op, shape, "footprint") =>
      graft.spatial.Geo.boxRelShapeCol(col("xmin"), col("ymin"),
        col("xmax"), col("ymax"), shape, relCode(op))
    case SRel(_, _, other) =>
      throw new IllegalArgumentException(s"bad spatial-relation target: $other")
  }

  /** AST op name → [[graft.spatial.Geo]] relation code. */
  private def relCode(op: String): Int = op match {
    case "s_contains" => graft.spatial.Geo.RelContains
    case "s_equals"   => graft.spatial.Geo.RelEquals
    case "s_touches"  => graft.spatial.Geo.RelTouches
    case "s_crosses"  => graft.spatial.Geo.RelCrosses
    case "s_overlaps" => graft.spatial.Geo.RelOverlaps
    case other => throw new IllegalArgumentException(s"bad spatial relation: $other")
  }

  // ----------------------------------------------------------- SQL back-end
  /** String escaping mirrors the reference's `_format_value`
    * (database_logic.py:646-659): single quotes doubled.
    */
  private def opSql(o: Operand): String = o match {
    case Prop(n)   => n
    case Str(v)    => "'" + v.replace("'", "''") + "'"
    case Num(v)    => v.toString
    case IntNum(v) => v.toString
    case Bool(v)   => if (v) "TRUE" else "FALSE"
    case Ts(v)     => s"TIMESTAMP '$v'"
    case CaseI(x)  => s"LOWER(${opSql(x)})"
    case Accenti(x) => s"strip_accents(${opSql(x)})"
    case Arith(op, l, r) => s"(${opSql(l)} $op ${opSql(r)})"
    case Arr(vs)   => vs.map(opSql).mkString("[", ", ", "]")
    case OpenBound => throw new IllegalArgumentException(
      "open bound '..' is only valid inside a t_intersects/t_contains interval")
  }

  def toSql(e: Cql): String = e match {
    case And(Nil)      => "TRUE"
    case Or(Nil)       => "FALSE"
    case In(_, Nil)    => "FALSE"
    case And(xs)       => xs.map(toSql).mkString("(", " AND ", ")")
    case Or(xs)        => xs.map(toSql).mkString("(", " OR ", ")")
    case Not(x)        => s"NOT (${toSql(x)})"
    case Cmp(op, l, r) => s"${opSql(l)} $op ${opSql(r)}"
    case Like(l, p, false) => s"${opSql(l)} LIKE ${opSql(Str(p))}"
    case Like(l, p, true)  => s"LOWER(${opSql(l)}) LIKE ${opSql(Str(p.toLowerCase))}"
    case In(l, vs)     => s"${opSql(l)} IN (${vs.map(opSql).mkString(", ")})"
    case Between(l, lo, hi) => s"${opSql(l)} BETWEEN ${opSql(lo)} AND ${opSql(hi)}"
    case IsNull(l)     => s"${opSql(l)} IS NULL"
    case Temporal("t_before", l, t, _) => s"${opSql(l)} < ${opSql(t)}"
    case Temporal("t_after", l, t, _)  => s"${opSql(l)} > ${opSql(t)}"
    case Temporal("t_during", l, lo, Some(hi)) =>
      s"(${opSql(l)} >= ${opSql(lo)} AND ${opSql(l)} <= ${opSql(hi)})"
    case Temporal(op, _, _, _) =>
      throw new IllegalArgumentException(s"bad temporal op: $op")
    case TIntervalPred(op, ls, le, rs, re) =>
      val terms = allenTerms(op, ls, le, rs, re)
      if (terms.contains(Left(false))) "FALSE"
      else {
        val live = terms.collect { case Right(c) => toSql(c) }
        if (live.isEmpty) "TRUE" else live.mkString("(", " AND ", ")")
      }
    case ArrayPred("a_contains", l, r) =>
      s"list_has_all(${opSql(l)}, ${opSql(r)})"
    case ArrayPred("a_containedby", l, r) =>
      s"list_has_all(${opSql(r)}, ${opSql(l)})"
    case ArrayPred("a_overlaps", l, r) =>
      s"list_has_any(${opSql(l)}, ${opSql(r)})"
    case ArrayPred("a_equals", l, r) =>
      s"(list_has_all(${opSql(l)}, ${opSql(r)}) AND list_has_all(${opSql(r)}, ${opSql(l)}))"
    case ArrayPred(op, _, _) =>
      throw new IllegalArgumentException(s"bad array op: $op")
    case SIntersects(shape, "geometry") =>
      graft.spatial.Geo.pointShapeSql("lon", "lat", shape)
    case SIntersects(shape, "footprint") =>
      graft.spatial.Geo.boxShapeSql("xmin", "ymin", "xmax", "ymax", shape)
    case SIntersects(_, other) =>
      throw new IllegalArgumentException(s"bad s_intersects target: $other")
    case SWithinBox(shape) =>
      graft.spatial.Geo.boxRelShapeSql("xmin", "ymin", "xmax", "ymax",
        shape, graft.spatial.Geo.RelWithin)
    case SRel(op, shape, "geometry") =>
      graft.spatial.Geo.pointRelShapeSql("lon", "lat", shape, relCode(op))
    case SRel(op, shape, "footprint") =>
      graft.spatial.Geo.boxRelShapeSql("xmin", "ymin", "xmax", "ymax",
        shape, relCode(op))
    case SRel(_, _, other) =>
      throw new IllegalArgumentException(s"bad spatial-relation target: $other")
  }

  // ----------------------------------------------------------- JSON parser
  /** Parse the reference's cql2-json dict shape (database_logic.py:539-624):
    * `{"and": [...]}`, `{"=": [lhs, rhs]}`, `{"between": [f, lo, hi]}`,
    * `{"isNull": field}`, operands either `{"property": name}` or literals.
    */
  def parseJson(json: String): Cql = {
    val root = new ObjectMapper().readTree(json)
    parseNode(root)
  }

  private val arithOps = Set("+", "-", "*", "/")

  private def parseOperand(n: JsonNode): Operand =
    if (n.isObject && n.has("casei")) CaseI(parseOperand(n.get("casei")))
    else if (n.isObject && n.has("accenti")) Accenti(parseOperand(n.get("accenti")))
    else if (n.isObject && n.has("property")) Prop(n.get("property").asText())
    else if (n.isObject && n.size() == 1 && arithOps.contains(n.fieldNames().next())) {
      val op = n.fieldNames().next()
      val v = n.get(op)
      if (v == null || !v.isArray || v.size() != 2)
        throw new IllegalArgumentException(s"cql2 '$op' expects [lhs, rhs] (got: $v)")
      Arith(op, parseOperand(v.get(0)), parseOperand(v.get(1)))
    }
    else if (n.isArray) Arr(n.elements().asScala.map(parseOperand).toSeq)
    else if (n.isTextual) Str(n.asText())
    else if (n.isBoolean) Bool(n.asBoolean())
    else if (n.isIntegralNumber) IntNum(n.asLong())
    else if (n.isNumber) Num(n.asDouble())
    else throw new IllegalArgumentException(s"bad cql2 operand: $n")

  /** STAC API "query" extension (the legacy pre-CQL2 per-field filter the
    * reference declares a hook for but leaves stubbed,
    * database_logic.py:451-487): a JSON object
    * `{"field": {"op": value, ...}, ...}` with op ∈ eq, neq, gt, gte,
    * lt, lte, in, startsWith, endsWith, contains. All clauses AND
    * together (per the extension spec); `__` in a field name denotes a
    * nested path (the reference's `field.replace("__", ".")`), after
    * which resolution rides [[nameVariants]] like every other property
    * reference. Parsed into the SAME AST as cql2-json, so both backends
    * compile the identical predicate. startsWith/endsWith/contains
    * compile to LIKE with the value spliced verbatim (LIKE
    * metacharacters in the value pass through, as in the reference
    * ecosystem's implementations).
    */
  def parseStacQuery(json: String): Cql = {
    val root = new ObjectMapper().readTree(json)
    if (root == null || !root.isObject)
      throw new IllegalArgumentException(s"stac query must be an object: $json")
    val clauses = root.fields().asScala.toSeq.flatMap { e =>
      val prop = Prop(e.getKey.replace("__", "."))
      if (!e.getValue.isObject)
        throw new IllegalArgumentException(
          s"stac query field '${e.getKey}' needs an {op: value} object")
      e.getValue.fields().asScala.toSeq.map { oe =>
        val v = oe.getValue
        oe.getKey match {
          case "eq"         => Cmp("=", prop, parseOperand(v))
          case "neq" | "ne" => Cmp("<>", prop, parseOperand(v))
          case "gt"         => Cmp(">", prop, parseOperand(v))
          case "gte"        => Cmp(">=", prop, parseOperand(v))
          case "lt"         => Cmp("<", prop, parseOperand(v))
          case "lte"        => Cmp("<=", prop, parseOperand(v))
          case "in" =>
            if (!v.isArray)
              throw new IllegalArgumentException(s"stac query 'in' needs an array: $v")
            In(prop, v.elements().asScala.map(parseOperand).toSeq)
          case "startsWith" => Like(prop, v.asText() + "%")
          case "endsWith"   => Like(prop, "%" + v.asText())
          case "contains"   => Like(prop, "%" + v.asText() + "%")
          case other =>
            throw new IllegalArgumentException(s"stac query: unsupported op '$other'")
        }
      }
    }
    clauses match {
      case Seq()  => throw new IllegalArgumentException("stac query: no clauses")
      case Seq(c) => c
      case cs     => And(cs)
    }
  }

  /** GeoJSON geometry STRING → [[graft.spatial.Shape]] — the public entry
    * the typed search API ([[graft.search.SearchParams]]) uses for its
    * `intersects` parameter, so the REST-param path accepts exactly the
    * geometry surface the CQL2 `s_intersects` path does (the reference's
    * search intersects is arbitrary GeoJSON, database_logic.py:418-448).
    */
  def parseGeoJsonShape(json: String): graft.spatial.Shape =
    parseGeoJson(new ObjectMapper().readTree(json))

  /** ANY GeoJSON geometry → [[graft.spatial.Shape]] (polygon-ring closure
    * vertex dropped). Matches the geometry surface the reference accepts
    * via ST_GeomFromGeoJSON (database_logic.py:418-448).
    */
  private def parseGeoJson(g: JsonNode): graft.spatial.Shape = {
    import graft.spatial.Shape._
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"cql2 s_intersects: $msg (got: $g)")
    // OGC 21-065 BBOX spatial literal ({"bbox":[W,S,E,N]} — not GeoJSON,
    // cql2's own geometry form) folds to the polygon family up front
    if (g != null && g.isObject && g.has("bbox")) {
      val b = g.get("bbox")
      if (!b.isArray || b.elements().asScala.exists(!_.isNumber))
        bad("bbox literal must be a numeric array")
      return graft.spatial.Shape.fromBbox(
        b.elements().asScala.map(_.asDouble()).toArray)
    }
    if (g == null || !g.isObject || g.get("type") == null || !g.get("type").isTextual)
      bad("geometry must be a GeoJSON object with a \"type\"")
    val typ = g.get("type").asText()
    def coords: JsonNode = {
      val c = g.get("coordinates")
      if (c == null || !c.isArray) bad("geometry needs array \"coordinates\"")
      c
    }
    def pt(p: JsonNode): (Double, Double) = {
      if (!p.isArray || p.size() < 2 || !p.get(0).isNumber || !p.get(1).isNumber)
        bad("points must be numeric [x, y]")
      (p.get(0).asDouble(), p.get(1).asDouble())
    }
    def flat(pn: JsonNode, minPts: Int, what: String): Array[Double] = {
      if (!pn.isArray || pn.size() < minPts) bad(s"$what needs >= $minPts [x, y] points")
      pn.elements().asScala.flatMap { p => val (x, y) = pt(p); Seq(x, y) }.toArray
    }
    def ring(rn: JsonNode): Array[Double] = {
      if (!rn.isArray || rn.size() < 3) bad("each ring needs >= 3 [x, y] points")
      val pts = rn.elements().asScala.map(pt).toSeq
      val open = if (pts.length > 1 && pts.head == pts.last) pts.init else pts
      open.flatMap(p => Seq(p._1, p._2)).toArray
    }
    def poly(pn: JsonNode): Array[Array[Double]] = {
      if (!pn.isArray || pn.size() == 0) bad("polygon needs >= 1 ring")
      pn.elements().asScala.map(ring).toArray
    }
    typ match {
      case "Point" => val (x, y) = pt(coords); PointS(x, y)
      case "MultiPoint" => MultiPointS(flat(coords, 1, "MultiPoint"))
      case "LineString" => LinesS(Array(flat(coords, 2, "LineString")))
      case "MultiLineString" =>
        if (coords.size() == 0) bad("MultiLineString needs >= 1 line")
        LinesS(coords.elements().asScala.map(flat(_, 2, "each line")).toArray)
      case "Polygon"      =>
        PolyS(graft.spatial.Shape.normalizePoly(Array(poly(coords))))
      case "MultiPolygon" =>
        if (coords.size() == 0) bad("MultiPolygon needs >= 1 polygon")
        PolyS(graft.spatial.Shape.normalizePoly(
          coords.elements().asScala.map(poly).toArray))
      case "GeometryCollection" =>
        val gs = g.get("geometries")
        if (gs == null || !gs.isArray || gs.size() == 0)
          bad("GeometryCollection needs array \"geometries\"")
        CollS(gs.elements().asScala.map(parseGeoJson).toArray)
      case other => throw new IllegalArgumentException(s"unsupported geometry type: $other")
    }
  }

  /** One `{"interval": [lo, hi]}` side of an interval predicate: each
    * bound is a property ref, a timestamp literal, or open (`".."` /
    * JSON null → ±∞ by position).
    */
  private def parseIntervalSide(op: String, n: JsonNode,
                                what: String): (Operand, Operand) = {
    if (n == null || !n.isObject || !n.has("interval") ||
        !n.get("interval").isArray || n.get("interval").size() != 2)
      throw new IllegalArgumentException(
        s"""cql2 '$op' expects {"interval": [lo, hi]} as $what (got: $n)""")
    val iv = n.get("interval")
    def o(x: JsonNode): Operand =
      if (x.isNull || (x.isTextual && x.asText() == "..")) OpenBound
      else if (x.isObject && x.has("property")) Prop(x.get("property").asText())
      else Ts(x.asText())
    (o(iv.get(0)), o(iv.get(1)))
  }

  private def parseNode(n: JsonNode): Cql = {
    // Two accepted encodings: the standard OGC cql2-json {"op": "...",
    // "args": [...]} (what STAC clients send) and the compact
    // single-key {"<op>": [...]} form — both normalize to (key, args)
    // here, so every operator below serves both.
    val (key, v) =
      if (n != null && n.isObject && n.has("op") && n.has("args"))
        (n.get("op").asText(), n.get("args"))
      else {
        require(n != null && n.isObject && n.size() == 1, s"bad cql2 node: $n")
        (n.fieldNames().next(), n.get(n.fieldNames().next()))
      }
    // malformed cql2-json gets a clear message, not an NPE at v.get(i)
    def arg(i: Int, what: String): JsonNode = {
      if (v == null || !v.isArray || v.size() <= i)
        throw new IllegalArgumentException(
          s"cql2 '$key' expects $what (got: $v)")
      v.get(i)
    }
    key match {
      case "and" | "or" =>
        if (v == null || !v.isArray)
          throw new IllegalArgumentException(s"cql2 '$key' expects an array of predicates (got: $v)")
        val xs = v.elements().asScala.map(parseNode).toSeq
        if (key == "and") And(xs) else Or(xs)
      case "not" => Not(parseNode(if (v != null && v.isArray) arg(0, "one predicate") else v))
      case op @ ("=" | "<>" | "<" | "<=" | ">" | ">=") =>
        Cmp(op, parseOperand(arg(0, "[lhs, rhs]")), parseOperand(arg(1, "[lhs, rhs]")))
      case "like"  => Like(parseOperand(arg(0, "[field, pattern]")), arg(1, "[field, pattern]").asText())
      case "ilike" => Like(parseOperand(arg(0, "[field, pattern]")), arg(1, "[field, pattern]").asText(), ci = true)
      case "in" =>
        val list = arg(1, "[field, [values...]]")
        if (!list.isArray)
          throw new IllegalArgumentException(s"cql2 'in' expects a value ARRAY (got: $list)")
        In(parseOperand(arg(0, "[field, [values...]]")),
          list.elements().asScala.map(parseOperand).toSeq)
      case "between" =>
        Between(parseOperand(arg(0, "[field, lo, hi]")),
          parseOperand(arg(1, "[field, lo, hi]")), parseOperand(arg(2, "[field, lo, hi]")))
      case "isNull" => IsNull(parseOperand(if (v != null && v.isArray) arg(0, "one field") else v))
      // instant forms keep their legacy [field, t] / [field, [lo, hi]]
      // encodings; when the FIRST argument is an {"interval": ...}
      // operand, t_before/t_after/t_during are the interval-valued Allen
      // predicates instead (end1 < start2 / start1 > end2 / proper
      // sub-interval)
      case op @ ("t_before" | "t_after") =>
        val a0 = arg(0, "[field|interval, t|interval]")
        if (a0.isObject && a0.has("interval")) {
          val (ls, le) = parseIntervalSide(op, a0, "lhs")
          val (rs, re) = parseIntervalSide(op, arg(1, "[interval, interval]"), "rhs")
          TIntervalPred(op, ls, le, rs, re)
        } else Temporal(op, parseOperand(a0), Ts(arg(1, "[field, t]").asText()), None)
      case "t_during" =>
        val a0 = arg(0, "[field|interval, [lo, hi]|interval]")
        if (a0.isObject && a0.has("interval")) {
          val (ls, le) = parseIntervalSide("t_during", a0, "lhs")
          val (rs, re) = parseIntervalSide("t_during", arg(1, "[interval, interval]"), "rhs")
          TIntervalPred("t_during", ls, le, rs, re)
        } else {
          val iv = arg(1, "[field, [lo, hi]]")
          if (!iv.isArray || iv.size() != 2)
            throw new IllegalArgumentException(s"cql2 't_during' expects [lo, hi] (got: $iv)")
          Temporal("t_during", parseOperand(a0),
            Ts(iv.get(0).asText()), Some(Ts(iv.get(1).asText())))
        }
      case op @ ("t_intersects" | "t_contains" | "t_equals" | "t_starts" |
                 "t_startedby" | "t_finishes" | "t_finishedby" | "t_meets" |
                 "t_metby" | "t_overlaps" | "t_overlappedby" | "t_disjoint") =>
        val (ls, le) = parseIntervalSide(op, arg(0, "[interval, interval]"), "lhs")
        val (rs, re) = parseIntervalSide(op, arg(1, "[interval, interval]"), "rhs")
        // disjoint ≡ NOT intersects — exact complements (OGC 21-065)
        if (op == "t_disjoint") Not(TIntervalPred("t_intersects", ls, le, rs, re))
        else TIntervalPred(op, ls, le, rs, re)
      case op if op.toLowerCase.startsWith("a_") &&
          Set("a_equals", "a_contains", "a_containedby", "a_overlaps")
            .contains(op.toLowerCase) =>
        // spec spells a_containedBy in text; cql2-json keys fold to lower
        ArrayPred(op.toLowerCase,
          parseOperand(arg(0, "[lhs-array, rhs-array]")),
          parseOperand(arg(1, "[lhs-array, rhs-array]")))
      case "s_intersects" | "s_disjoint" | "s_within" | "s_contains" |
           "s_equals" | "s_touches" | "s_crosses" | "s_overlaps" =>
        // args: [{"property":"geometry"|"footprint"}, <GeoJSON geometry>]
        val prop = arg(0, "[geometry-prop, GeoJSON geometry]")
        val target =
          if (prop.isObject && prop.has("property")) prop.get("property").asText()
          else "geometry"
        val shape = parseGeoJson(arg(1, "[geometry-prop, GeoJSON geometry]"))
        key match {
          case "s_intersects" => SIntersects(shape, target)
          // disjoint ≡ NOT intersects — the kernels are total on the
          // non-null item coordinates, so plain negation is exact
          case "s_disjoint" => Not(SIntersects(shape, target))
          // a POINT is within g iff it intersects g; a box footprint
          // runs the exact general box-within-region kernel
          case "s_within" if target == "geometry" => SIntersects(shape, target)
          case "s_within" if target == "footprint" => SWithinBox(shape)
          case "s_within" => throw new IllegalArgumentException(
            s"bad s_within target: $target")
          case rel if target == "geometry" || target == "footprint" =>
            SRel(rel, shape, target)
          case _ => throw new IllegalArgumentException(
            s"bad $key target: $target")
        }
      case other => throw new IllegalArgumentException(s"unsupported cql2 op: $other")
    }
  }
}
