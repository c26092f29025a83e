package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("the percentile rule refuses a percentile with fewer than 10 samples beyond it") {
    assert(Stats.samplesNeeded(50) == 20)
    assert(Stats.samplesNeeded(90) == 100)
    assert(Stats.samplesNeeded(95) == 200)
    val xs = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(xs, 90).isEmpty)
    assert(Stats.percentile(xs :+ 100.0, 90).contains(90.0))
    assert(Stats.percentile((1 to 19).map(_.toDouble), 50).isEmpty)
    assert(Stats.percentile((1 to 20).map(_.toDouble), 50).contains(10.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  private def ops(seed: Long, client: Int, writes: Boolean, n: Int): Seq[Op] = {
    val m = new Mix(seed, client, writes, id => Fixture.eventTypes(id % 5), 1000)
    Seq.fill(n)(m.next())
  }

  test("the same seed gives the same mix; another seed another one") {
    for (w <- Seq(false, true)) {
      assert(ops(7, 0, w, 200) == ops(7, 0, w, 200))
      assert(ops(7, 0, w, 200) != ops(8, 0, w, 200))
      assert(ops(7, 0, w, 200) != ops(7, 1, w, 200))
    }
  }

  test("every route gets an equal share of its kind, whatever the seed") {
    for (seed <- 1L to 5L) {
      val n = Mix.readRoutes.size
      val read = ops(seed, 0, writes = false, 10 * n)
      Mix.readRoutes.foreach(r => assert(read.count(_.route == r) == 10, r))
      assert(read.forall(!_.isWrite))
      val items = read.filter(_.route == "item")
      assert(items.count(_.expect == 404) == items.size / 10)
      Seq("search_bbox", "search_cql", "search_text", "aggregate").foreach { r =>
        val xs = read.filter(_.route == r)
        assert(math.abs(xs.count(_.broad) * 2 - xs.size) <= 1, r)
      }

      val perWrite = Mix.readsPerWrite + 1
      val cycles = 10 * Mix.writeRoutes.size
      val mixed = ops(seed, 0, writes = true, cycles * n * perWrite)
      val (w, r) = mixed.partition(_.isWrite)
      assert(w.size * perWrite == mixed.size)
      Mix.readRoutes.foreach(x => assert(r.count(_.route == x) == cycles * Mix.readsPerWrite, x))
      // a patch or delete dealt while the client holds no live item of its
      // own becomes a create, so patches and deletes can only fall short
      val each = w.size / Mix.writeRoutes.size
      Seq("txn_patch", "txn_delete").foreach(x => assert(w.count(_.route == x) <= each, x))
    }
  }

  test("writes target only items the client created and still holds") {
    val m = new Mix(3, 0, writes = true, id => Fixture.eventTypes(id % 5), 1000)
    val live = scala.collection.mutable.Set.empty[String]
    Seq.fill(400)(m.next()).filter(_.isWrite).foreach { op =>
      op.route match {
        case "txn_create" => live += op.body.get.split("\"id\":\"")(1).takeWhile(_ != '"')
        case "txn_patch" => assert(live(op.path.split("/").last))
        case "txn_delete" =>
          val id = op.path.split("/").last
          assert(live(id)); live -= id
      }
    }
    assert(m.written.values.filterNot(_.deleted).map(_.id).toSet == live.toSet)
  }

  private lazy val benchmark =
    mapper.readTree(new java.io.File(sys.props("user.dir")).getParentFile
      .toPath.resolve("BENCHMARK.json").toFile)

  private def declared(key: String): Seq[(String, String)] =
    benchmark.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("BENCHMARK.json names exactly the metrics the runs print, with their units") {
    assert(declared("end_to_end") == Main.endToEnd)
    assert(declared("per_layer") == Traced.perLayer)
    assert(benchmark.get("workloads").elements().asScala.map(_.get("name").asText)
      .forall(Main.workloads.contains))
  }

  test("the result line carries every named metric with its unit") {
    val metrics = Main.endToEnd.zipWithIndex.map { case ((n, u), i) => Metric(n, i + 0.5, u, 3) }
    val line = mapper.readTree(Main.resultLine(12, 0, metrics))
    assert(line.fieldNames().asScala.toSeq.sorted ==
      Seq("attempted", "correct", "failed", "metrics"))
    assert(line.get("correct").asBoolean && line.get("attempted").asInt == 12)
    Main.endToEnd.foreach { case (n, u) =>
      assert(line.get("metrics").get(n).get("unit").asText == u)
      assert(line.get("metrics").get(n).get("value").isNumber)
    }
    assert(!mapper.readTree(Main.resultLine(12, 1, metrics)).get("correct").asBoolean)
  }
}
