package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Staged state has one home: outside `core/Staged.scala`, no main source
  * may gate on a marker file, pick its own temp directory or use the
  * catalog as a marker.
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
}
