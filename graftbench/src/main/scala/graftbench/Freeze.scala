package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Maintenance entry point behind `freeze.py`: generates both fixtures,
  * runs every pipeline gate once on the pipeline fixture (some oracles read
  * the files a gate stages under `java.io.tmpdir`, which must outlive this
  * JVM until DuckDB has replayed them), and prints the fingerprints, the
  * Spark row counts and the oracle SQL of every gate as one JSON line.
  * Usage: `graftbench.Freeze --data DIR`.
  */
object Freeze {
  def main(argv: Array[String]): Unit = {
    val data = new java.io.File(argv.sliding(2).collectFirst {
      case Array("--data", d) => d }.getOrElse(sys.error("--data DIR required")))
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mapper = new ObjectMapper()
    val o = mapper.createObjectNode()
    val fx = o.putObject("fixture")
    Seq("serve" -> Main.serveScale, "pipeline" -> Main.pipelineScale).foreach { case (n, f) =>
      val dir = new java.io.File(data, s"$n-${Fixture.version}-$f")
      fx.put(n, Fixture.ensure(spark, dir, f))
      o.put(s"${n}_dir", dir.getAbsolutePath)
    }
    val spark_rows = o.putObject("spark_rows")
    val pipeDir = o.get("pipeline_dir").asText
    Pipeline.gates.foreach { g =>
      spark_rows.put(g, graft.SparkEntry.queries(g)(spark, pipeDir).count())
    }
    val sql = o.putObject("oracle_sql")
    Pipeline.gates.foreach { g =>
      graft.SparkEntry.oracleSql.get(g).foreach(s => sql.put(g, s)) }
    spark.stop()
    println(mapper.writeValueAsString(o))
  }
}
