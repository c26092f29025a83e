package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules that a plan or a test run would not catch.
  *
  *  - Staged state has one home: outside `core/Staged.scala`, no main
  *    source may gate on a marker file, pick its own temp directory or
  *    use the catalog as a marker.
  *  - The computed-extents collections query runs only in the server's
  *    one collections directory, never as a per-request existence check.
  *  - The HTTP layer is a codec: StacHttp builds no Spark plan.
  *  - The write overlay holds an item in one form: `TxnStore` declares no
  *    case class and no timestamp-NTZ branch.
  *  - In-memory caches have one home: outside `core/Memo.scala`, only the
  *    named owners of non-cache state hold a concurrent map.
  *  - STAC search has one compiler: an a-gate runs its search through
  *    `StacApi`, or is named in `stacExempt` with the reason it builds
  *    its own plan.
  *  - Spatial predicates have one kernel per geometry target: the
  *    Catalyst expressions in `spatial/Geo.scala` are the point, box and
  *    WKB relation kernels, intersects included.
  *  - A search's file set has one decider: the `geocatalog` scan's
  *    footer prune. No main source reads a hand-listed parquet file set,
  *    except catalog maintenance, which reads the files it compacts.
  *  - GeoParquet has one catalog writer: a parquet-mr writer is built
  *    only inside `GeoParquet.CatalogFileWriter`, and a file is made
  *    visible only by `GeoParquet.publish` (staged state aside).
  */
class SourceGuardSpec extends AnyFunSuite {
  private val forbidden = Seq("\"_SUCCESS\"", "\"_DONE\"", "java.io.tmpdir",
    "catalog.tableExists", "\"/tmp/graft")

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("only core/Staged.scala stages state on disk") {
    val files = sources(new File("src/main"))
    assert(files.exists(_.getPath.endsWith("core/Staged.scala")), "not run from the repo root")
    val hits = for {
      f <- files if !f.getPath.endsWith("core/Staged.scala")
      (line, n) <- scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
        _.getLines().toVector).zipWithIndex
      token <- forbidden if line.contains(token)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  private def lines(f: File): Vector[String] =
    scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toVector)

  test("only the served directory calls the extents query in search/") {
    val files = sources(new File("src/main/scala/graft/search"))
    assert(files.exists(_.getName == "StacHttp.scala"), "not run from the repo root")
    val call = """(StacApi\.collections\w*|a26Collections\w*)\(""".r
    // inside StacApi the aliases are called bare
    val bare = """(?<![.\w])collections\w*\(""".r
    val definition = """\bdef\s+(collections\w*|a26Collections\w*)\(""".r
    val enclosing = """\bdef\s+(\w+)""".r
    val hits = for {
      f <- files
      ls = lines(f)
      (line, n) <- ls.zipWithIndex
      if call.findFirstIn(line).isDefined ||
        (f.getName == "StacApi.scala" && bare.findFirstIn(line).isDefined)
      if definition.findFirstIn(line).isEmpty
      owner = ls.take(n).reverseIterator.flatMap(enclosing.findFirstMatchIn(_))
        .map(_.group(1)).nextOption().getOrElse("")
      // allowed: the server's one directory, StacApi's aliases for the
      // query, and the batch oracle gates (a<n>…) that derive the directory
      if !(f.getName == "StacHttp.scala" && owner == "directory")
      if !(f.getName == "StacApi.scala" && owner.startsWith("collections"))
      if !(f.getName == "StacSearch.scala" && owner.matches("a\\d+\\w*"))
    } yield s"${f.getPath}:${n + 1}: in $owner: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("TxnStore holds items only as items-view rows: no case class, no NTZ fork") {
    val f = new File("src/main/scala/graft/search/TxnStore.scala")
    assert(f.exists, "not run from the repo root")
    val form = """\bcase\s+class\b|\bTimestampNTZType\b""".r
    val hits = for {
      (line, n) <- lines(f).zipWithIndex
      token <- form.findFirstIn(line)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("StacHttp.scala builds no Spark plan: it decodes, calls StacApi/TxnStore, encodes") {
    val f = new File("src/main/scala/graft/search/StacHttp.scala")
    assert(f.exists, "not run from the repo root")
    // spark.sql.functions however imported, and the filter operator
    val plan = """\bfunctions\b|\.where\(""".r
    val hits = for {
      (line, n) <- lines(f).zipWithIndex
      token <- plan.findFirstIn(line)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** The a-gates that exercise a physical path other than the server's
    * search, each with the reason.
    */
  private val stacExempt: Map[String, String] = {
    val layout = "layout prune: the stored-column pushdown the server does not run"
    val footprint = "reads footprint or derived columns the served items view lacks"
    val battery = "per-row battery: the AST is a projection, not a filter"
    val document = "a document, not a search"
    val ingest = "ingest or export path"
    val catalog = "reads the GeoParquet catalog source, not the items view"
    val state = "serves a merged state table, not the items view"
    Map(
      "a23_keyset_paginate" -> ("pins the pushable id_num keyset; the server's keyset " +
        "ends in the derived id = CAST(event_id AS STRING), which cannot push"),
      "a24_zcurve_cells" -> layout, "a29_envelope_overlap" -> layout,
      "a30_zrange_scan" -> layout,
      "a35_footprint_intersects" -> footprint, "a39_footprint_cql" -> footprint,
      "a41_footprint_shapes" -> footprint, "a52_cql2_arrays" -> footprint,
      "a73_cql2_s_within" -> footprint, "a78_within_concave" -> footprint,
      "a88_polygon_footprint" -> footprint, "a95_line_footprint" -> footprint,
      "a76_cql2_allen" -> battery, "a77_cql2_spatial_rel" -> battery,
      "a80_cql2_accenti" -> battery, "a81_cql2_bbox" -> battery,
      "a83_cql2_fuzz" -> battery, "a84_cql2_fuzz_spatial" -> battery,
      "a20_serialize" -> document, "a26_collections" -> document,
      "a48_queryables_stats" -> document, "a51_collection_search" -> document,
      "a54_collections_incremental" -> document, "a55_queryables_incremental" -> document,
      "a65_collection_json" -> document, "a67_collections_changelog" -> document,
      "a42_wkb_roundtrip" -> ingest, "a43_item_ingest" -> ingest,
      "a57_tolerant_ingest" -> ingest, "a75_geoparquet_ingest" -> ingest,
      "a82_geoparquet_export" -> ingest, "a96_mercator_ingest" -> ingest,
      "a63_covering_index" -> catalog, "a64_manifest_datetime" -> catalog,
      "a85_catalog_pruned_search" -> catalog, "a86_catalog_compact" -> catalog,
      "a87_catalog_source" -> catalog, "a89_catalog_coldt_prune" -> catalog,
      "a56_upsert_search" -> state, "a60_time_travel" -> state,
      "a68_merge_patch" -> state,
      "a59_acquisition_gaps" -> "whole-view analytics with no search predicate")
  }

  test("every a-gate searches through StacApi or is a named exemption") {
    val unknown = stacExempt.keySet.diff(graft.search.StacSearch.queries.keySet)
    assert(unknown.isEmpty, s"exempt gates not in StacSearch.queries: $unknown")
    val src = lines(new File("src/main/scala/graft/search/StacSearch.scala"))
    // gate name → the function the queries map binds it to
    val mapStart = src.indexWhere(_.contains("val queries: Map["))
    assert(mapStart >= 0, "StacSearch.queries not found")
    val entry = """"(a\d+_\w+)"\s*->\s*\(?(\w+)""".r
    val gates = src.drop(mapStart).takeWhile(_.trim != ")")
      .flatMap(entry.findFirstMatchIn(_)).map(m => m.group(1) -> m.group(2)).toMap
    assert(gates.keySet == graft.search.StacSearch.queries.keySet, gates.keySet)
    // a member's body: its first line up to the next line at member indent
    val member = """^  (?:private(?:\[\w+\])? )?(def|val) \(?(\w+)""".r
    val defs = src.flatMap(member.findFirstMatchIn(_))
      .filter(_.group(1) == "def").map(_.group(2)).toSet
    def body(name: String): Seq[String] = {
      val i = src.indexWhere(l => member.findFirstMatchIn(l).exists(_.group(2) == name))
      assert(i >= 0, s"no definition of $name")
      src(i) +: src.drop(i + 1).takeWhile(l => !l.matches("  \\S.*|\\S.*"))
    }
    // the body plus every StacSearch def it reaches
    def reach(fn: String): Seq[(String, String)] = {
      var seen = Set(fn)
      var todo = List(fn)
      var out = Vector.empty[(String, String)]
      while (todo.nonEmpty) {
        val f = todo.head
        todo = todo.tail
        val ls = body(f)
        out ++= ls.map(f -> _)
        val called = ls.flatMap("""\w+""".r.findAllIn(_)).filter(defs).toSet.diff(seen)
        seen ++= called
        todo ++= called
      }
      out
    }
    val forbidden = Seq(
      """Geo\.(bboxContains|intersects|pointRelShapeCol)\w*(?<!Sql)\(""".r,
      """(?<![\w.])dt(Exact|Range|OpenStart|OpenEnd)\(""".r,
      """\.toColumn\b""".r,
      """\.where\(col\("(collection|id)"\)""".r)
    val viaApi = """StacApi\.(plan|applyFields|searchOn|search)\(""".r
    val hits = for {
      (gate, fn) <- gates.toSeq.sorted if !stacExempt.contains(gate)
      reached = reach(fn)
      hit <- (if (reached.exists(l => viaApi.findFirstIn(l._2).isDefined)) Nil
              else Seq(s"$gate: never calls StacApi")) ++
        reached.collect { case (f, l) if forbidden.exists(_.findFirstIn(l).isDefined) =>
          s"$gate: in $f: ${l.trim}" }
    } yield hit
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("only core/Memo.scala holds an in-memory cache map") {
    val files = sources(new File("src/main"))
    assert(files.exists(_.getPath.endsWith("core/Memo.scala")), "not run from the repo root")
    // the write overlay's revision maps, the job log's listener
    // bookkeeping and the listing-signature-checked footer memo
    val owners = Seq("core/Memo.scala", "search/TxnStore.scala", "graft/Harness.scala",
      "core/GeoParquet.scala")
    val hits = for {
      f <- files if !owners.exists(f.getPath.endsWith)
      (line, n) <- lines(f).zipWithIndex
      token <- Seq("TrieMap", "ConcurrentHashMap") if line.contains(token)
    } yield s"${f.getPath}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("spatial/Geo.scala declares one relation kernel per geometry target") {
    val f = new File("src/main/scala/graft/spatial/Geo.scala")
    assert(f.exists, "not run from the repo root")
    // a case class whose declaration extends a Catalyst *Expression
    val decl = """(?m)^(?:final )?case class (\w+)\([^)]*\)\s*extends\s+[\w.]*Expression\b""".r
    val kernels = decl.findAllMatchIn(lines(f).mkString("\n")).map(_.group(1)).toVector
    assert(kernels.toSet == Set("PointRelShape", "BoxRelShape", "WkbRelShape") &&
      kernels.size == 3, kernels)
  }

  test("src/main reads no hand-listed parquet file set") {
    val files = sources(new File("src/main"))
    assert(files.exists(_.getPath.endsWith("core/GeoParquet.scala")), "not run from the repo root")
    val listed = """\bread\.parquet\(\s*\w+\s*:\s*_\*\s*\)""".r
    // the enclosing member: a def at an object's member indent
    val enclosing = """^  (?:private(?:\[\w+\])? )?def\s+(\w+)""".r
    val hits = for {
      f <- files
      ls = lines(f)
      (line, n) <- ls.zipWithIndex if listed.findFirstIn(line).isDefined
      owner = ls.take(n + 1).reverseIterator.flatMap(enclosing.findFirstMatchIn(_))
        .map(_.group(1)).nextOption().getOrElse("")
      if !(f.getPath.endsWith("core/GeoParquet.scala") && owner == "maintainBatch")
    } yield s"${f.getPath}:${n + 1}: in $owner: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("one catalog writer: one parquet-mr writer construction, one publish step") {
    val files = sources(new File("src/main"))
    val home = "core/GeoParquet.scala"
    assert(files.exists(_.getPath.endsWith(home)), "not run from the repo root")
    val build = """\bnew\s+(GeoWriterBuilder|ParquetWriter)\b|ParquetWriter\.builder\b|ExampleParquetWriter""".r
    // the enclosing member: a def, val or class at an object's member indent
    val enclosing = """^  (?:private(?:\[\w+\])? )?(?:final )?(?:def|val|class)\s+(\w+)""".r
    def sites(token: scala.util.matching.Regex): Seq[(File, Int, String)] = for {
      f <- files
      ls = lines(f)
      (line, n) <- ls.zipWithIndex if token.findFirstIn(line).isDefined
      owner = ls.take(n + 1).reverseIterator.flatMap(enclosing.findFirstMatchIn(_))
        .map(_.group(1)).nextOption().getOrElse("")
    } yield (f, n + 1, owner)
    def at(f: File, owner: String) = s"${f.getPath} in $owner"
    val writers = sites(build)
    assert(writers.map { case (f, _, o) => at(f, o) } ==
      Seq(at(new File(s"src/main/scala/graft/$home"), "CatalogFileWriter")),
      writers.map { case (f, n, o) => s"${f.getPath}:$n: in $o" }.mkString("\n"))
    val moves = sites("""\bATOMIC_MOVE\b""".r).filterNot { case (f, _, o) =>
      (f.getPath.endsWith(home) && o == "publish") || f.getPath.endsWith("core/Staged.scala")
    }
    assert(moves.isEmpty, moves.map { case (f, n, o) => s"${f.getPath}:$n: in $o" }.mkString("\n"))
  }
}
