package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source-level rules that a plan or a test run would not catch.
  *
  *  - Staged state has one home: outside `core/Staged.scala`, no main
  *    source may gate on a marker file, pick its own temp directory or
  *    use the catalog as a marker.
  *  - The computed-extents collections query runs only where a collection
  *    document is returned, never as a per-request existence check.
  *  - In-memory caches have one home: outside `core/Memo.scala`, only the
  *    named owners of non-cache state hold a concurrent map.
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

  test("only collectionsPage and collectionNode call the extents query in search/") {
    val files = sources(new File("src/main/scala/graft/search"))
    assert(files.exists(_.getName == "StacHttp.scala"), "not run from the repo root")
    val call = """(StacApi\.collections|a26Collections)\(""".r
    // inside StacApi the alias is called bare
    val bare = """(?<![.\w])collections\(""".r
    val definition = """\bdef\s+(collections|a26Collections)\(""".r
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
      // allowed: the two serving sites, StacApi's alias for the query,
      // and the batch oracle gates (a<n>…) that derive the directory
      if !Set("collectionsPage", "collectionNode")(owner)
      if !(f.getName == "StacApi.scala" && owner == "collections")
      if !(f.getName == "StacSearch.scala" && owner.matches("a\\d+\\w*"))
    } yield s"${f.getPath}:${n + 1}: in $owner: ${line.trim}"
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
}
