package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** The loader's plan cache is keyed on the session object. */
class TablesSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("load binds the cached plan to the caller's session") {
    val other = s.newSession()
    val mine = Tables.load(s, TestSpark.sf, "orders")
    val theirs = Tables.load(other, TestSpark.sf, "orders")
    assert(mine.sparkSession eq s)
    assert(theirs.sparkSession eq other)
    assert(Tables.load(other, TestSpark.sf, "orders") eq theirs, "a second load is a cache hit")
    assert(Tables.load(s, TestSpark.sf, "orders") eq mine)
  }
}
