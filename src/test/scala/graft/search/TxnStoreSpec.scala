package graft.search

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Tables

/** The codec pair PATCH merges through: an items-view row rendered as
  * its Feature JSON and decoded back is the same row.
  */
class TxnStoreSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  // the sf0.01 fixture beside the suite's own
  private val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
  private val mapper = new ObjectMapper()

  test("parseFeature(renderFeature(r)) ≡ r on every column: point, area and " +
      "interval base rows and an overlay row with extra properties") {
    val store = new TxnStore(s, sf01)
    val items = Tables.items(s, sf01)
    def first(cond: Column): Row = items.where(cond).orderBy("id_num").limit(1).collect().head
    val point = first(col("id_num") % 2 === 0 && col("datetime").isNotNull)
    val area = first(col("id_num") % 2 === 1 && col("datetime").isNotNull)
    val interval = first(col("datetime").isNull)
    val overlay = store.parseFeature(mapper.readTree(
      """{"type":"Feature","id":"rt-1","geometry":{"type":"Point",
        |"coordinates":[12.5,43.25]},"properties":{"datetime":
        |"2024-02-03T04:05:06.123456","value":2.5,"user_id":7,"mission":"alpha",
        |"tags":["a","b"],"quality":{"cloud":0.25}}}""".stripMargin),
      "click", 1000002L)
    assert(Option(overlay.getAs[String]("props")).exists(_.contains("mission")))
    Seq(point, area, interval, overlay).foreach { r =>
      val id = r.getAs[String]("id")
      val back = store.parseFeature(store.renderFeature(r),
        r.getAs[String]("collection"), r.getAs[Long]("id_num"))
      assert(back.schema == r.schema, id)
      r.schema.fieldNames.foreach { f =>
        if (f == "props")
          assert(mapper.readTree(back.getAs[String](f)) == mapper.readTree(r.getAs[String](f)),
            s"$f of $id")
        else assert(back.getAs[Any](f) == r.getAs[Any](f), s"$f of $id")
      }
    }
  }
}
