package graft.core

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** The one primitive for derived state staged on disk: layouts, state
  * tables, tokenizer and index artifacts, media tables and GeoParquet
  * exports.
  *
  *  - PATH: `<java.io.tmpdir>/graft_<name>_v<version>_<key>`, key =
  *    [[FixtureGuard.stateKey]] of the fixture dir and the input tables
  *    the state derives from. `java.io.tmpdir` is read on every call (a
  *    harness may point it somewhere new per run). `version` is a
  *    constant each call site declares: a change to the code that builds
  *    the state bumps it, so state built by old code is never served.
  *  - COMMIT: `build` writes into a uniquely named sibling directory,
  *    which is then renamed onto the path with one atomic move. The
  *    committed directory's existence is the only marker — a build that
  *    throws or a JVM killed mid-build leaves no directory at the path,
  *    and the next call rebuilds. Two builders racing on one key (threads
  *    or JVMs) both build; the first rename wins and the loser drops its
  *    copy and serves the winner's.
  */
object Staged {
  /** Where the state for (name, version, fixture, inputs) lives. */
  def path(name: String, version: Int, fixture: String, inputs: String*): String =
    new File(sys.props("java.io.tmpdir"),
      s"graft_${name}_v${version}_${FixtureGuard.stateKey(fixture, inputs: _*)}")
      .getAbsolutePath

  /** The committed state directory, running `build(dir)` first if it is
    * absent. `build` must write everything under the directory it is
    * handed, which does not exist yet.
    */
  def apply(name: String, version: Int, fixture: String, inputs: String*)
           (build: String => Unit): String = {
    val target = new File(path(name, version, fixture, inputs: _*))
    if (!target.exists()) {
      val tmp = new File(target.getParentFile,
        s"${target.getName}.tmp-${java.util.UUID.randomUUID()}")
      try {
        build(tmp.getAbsolutePath)
        tmp.mkdirs()
        Files.move(tmp.toPath, target.toPath, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: FileSystemException if target.exists() => // lost the race
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    target.getAbsolutePath
  }

  /** Physical layout of a staged catalog table. */
  sealed trait Layout
  final case class Bucketed(buckets: Int, key: String, sortBy: String*) extends Layout
  final case class Partitioned(column: String) extends Layout

  /** A catalog table over staged files: `rows` is written through
    * [[apply]] (with `saveAsTable` under a throwaway name, since bucketed
    * writes need the catalog), then the committed directory is registered
    * under its own name, `graft_<name>_v<version>_<key>`, with its schema
    * and layout. Returns the table name.
    */
  def table(s: SparkSession, name: String, version: Int, fixture: String, inputs: String*)
           (layout: Layout, rows: => DataFrame): String = {
    val (shape, clause): (DataFrameWriter[Row] => DataFrameWriter[Row], String) =
      layout match {
        case Bucketed(n, key, sort @ _*) =>
          (_.bucketBy(n, key).sortBy(sort.head, sort.tail: _*),
            s"CLUSTERED BY ($key) SORTED BY (${sort.mkString(", ")}) INTO $n BUCKETS")
        case Partitioned(c) => (_.partitionBy(c), s"PARTITIONED BY ($c)")
      }
    val dir = apply(name, version, fixture, inputs: _*) { p =>
      val scratch = "graft_staging_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try shape(rows.write.mode("overwrite").option("path", p)).saveAsTable(scratch)
      finally s.sql(s"DROP TABLE IF EXISTS $scratch")
    }
    val t = new File(dir).getName
    synchronized {
      if (!s.catalog.tableExists(t)) {
        val ddl = rows.schema.fields.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
        s.sql(s"CREATE TABLE IF NOT EXISTS $t ($ddl) USING parquet $clause LOCATION '$dir'")
        // a partitioned table reads no rows until its partitions are listed
        if (layout.isInstanceOf[Partitioned]) s.sql(s"ALTER TABLE $t RECOVER PARTITIONS")
      }
    }
    t
  }
}
