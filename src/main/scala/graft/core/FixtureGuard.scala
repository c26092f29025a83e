package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Fixture-schema guard: asserts the LOADED (post-[[Tables]] normalization)
  * schema of every fixture table against the contract the query surface
  * assumes, naming each drifted column explicitly.
  *
  * Motivation (round 7 postmortem): the driver regenerated the fixtures
  * with `events.ts` as parquet TIMESTAMP(MICROS) where it had been
  * TIMESTAMP(NANOS); the loader's nanos-only workaround then threw
  * `DATATYPE_MISMATCH` on all 75 gates touching `events`, and the failure
  * surfaced as 75 opaque per-query crashes across two driver rounds. This
  * guard turns the next silent regeneration into ONE clear message at the
  * top of Verify/Bench output.
  *
  * Temporal columns accept any of DATE / TIMESTAMP / TIMESTAMP_NTZ: both
  * engines' date arithmetic in the gates goes through explicit casts, and
  * fixture generations have legitimately shipped more than one physical
  * type. `events.ts` is the exception — [[Tables.events]] normalizes it,
  * so post-load it must be exactly TIMESTAMP.
  */
object FixtureGuard {
  /** Content fingerprint of a fixture table's physical files (absolute
    * path + per-file name/length/mtime), so caches keyed on it cannot
    * serve stale artifacts after an in-place regeneration, and two
    * distinct dirs can never collide (the r9 ADVICE case: `sf0.1` vs
    * `sf0_1` under [^A-Za-z0-9]→_ sanitization). Metadata-plane only —
    * no Spark job, no file reads.
    */
  def fingerprint(dir: String, table: String): String = {
    val f = new java.io.File(dir, s"$table.parquet")
    val parts =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName)
          .map(p => s"${p.getName}:${p.length}:${p.lastModified}")
      else Array(s"${f.getName}:${f.length}:${f.lastModified}")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update((f.getAbsolutePath + "|" + parts.mkString("|"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Key for a PERSISTED cross-run state artifact — the `<key>` of every
    * [[Staged]] path: dir + the [[fingerprint]] of every source table the
    * artifact derives from. A key on the dir STRING alone
    * serves stale state after an in-place regeneration — and unlike the
    * session-local memos, disk artifacts outlive the JVM, so no cache
    * sweep can save you (observed: a band index built from a discarded
    * fixture generation fed C67 178M phantom candidate pairs). Fixture
    * dirs under test are immutable by doctrine, but probe/scale dirs
    * (ProbeScaleGen output) are legitimately regenerated in place.
    */
  def stateKey(dir: String, tables: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    tables.foreach { t =>
      md.update(("|" + fingerprint(dir, t))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  private val temporal: Set[DataType] =
    Set(DateType, TimestampType, TimestampNTZType)

  /** (table, column, acceptable data types) */
  private def contract: Seq[(String, String, Set[DataType])] = Seq(
    ("region",   "r_regionkey", Set(IntegerType, LongType)),
    ("region",   "r_name",      Set[DataType](StringType)),
    ("nation",   "n_nationkey", Set(IntegerType, LongType)),
    ("nation",   "n_name",      Set[DataType](StringType)),
    ("nation",   "n_regionkey", Set(IntegerType, LongType)),
    ("customer", "c_custkey",   Set[DataType](LongType)),
    ("customer", "c_nationkey", Set(IntegerType, LongType)),
    ("customer", "c_acctbal",   Set[DataType](DoubleType)),
    ("customer", "c_mktsegment", Set[DataType](StringType)),
    ("supplier", "s_suppkey",   Set[DataType](LongType)),
    ("part",     "p_partkey",   Set[DataType](LongType)),
    ("part",     "p_type",      Set[DataType](StringType)),
    ("part",     "p_retailprice", Set[DataType](DoubleType)),
    ("orders",   "o_orderkey",  Set[DataType](LongType)),
    ("orders",   "o_custkey",   Set[DataType](LongType)),
    ("orders",   "o_totalprice", Set[DataType](DoubleType)),
    ("orders",   "o_orderdate", temporal),
    ("orders",   "o_orderstatus", Set[DataType](StringType)),
    ("orders",   "o_orderpriority", Set[DataType](StringType)),
    ("lineitem", "l_orderkey",  Set[DataType](LongType)),
    ("lineitem", "l_partkey",   Set[DataType](LongType)),
    ("lineitem", "l_suppkey",   Set[DataType](LongType)),
    ("lineitem", "l_quantity",  Set[DataType](DoubleType)),
    ("lineitem", "l_extendedprice", Set[DataType](DoubleType)),
    ("lineitem", "l_discount",  Set[DataType](DoubleType)),
    ("lineitem", "l_returnflag", Set[DataType](StringType)),
    ("lineitem", "l_linestatus", Set[DataType](StringType)),
    ("lineitem", "l_shipdate",  temporal),
    ("events",   "event_id",   Set[DataType](LongType)),
    ("events",   "ts",         Set[DataType](TimestampType)), // post-normalization
    ("events",   "user_id",    Set[DataType](LongType)),
    ("events",   "event_type", Set[DataType](StringType)),
    ("events",   "value",      Set[DataType](DoubleType)),
    ("events",   "props",      Set[DataType](StringType)),
    ("documents", "doc_id",  Set[DataType](LongType)),
    ("documents", "text",    Set[DataType](StringType)),
    ("documents", "lang",    Set[DataType](StringType)),
    ("documents", "source",  Set[DataType](StringType)),
    ("documents", "n_chars", Set[DataType](LongType)),
    ("embeddings", "vec_id",    Set[DataType](LongType)),
    ("embeddings", "embedding", Set[DataType](ArrayType(FloatType), ArrayType(FloatType, containsNull = true), ArrayType(FloatType, containsNull = false))),
    ("embeddings", "label",     Set(IntegerType, LongType))
  )

  /** Human-readable drift messages; empty = fixtures match the contract. */
  def check(spark: SparkSession, dir: String): Seq[String] = {
    val loaders: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "region" -> (Tables.region _), "nation" -> (Tables.nation _),
      "customer" -> (Tables.customer _), "supplier" -> (Tables.supplier _),
      "part" -> (Tables.part _), "orders" -> (Tables.orders _),
      "lineitem" -> (Tables.lineitem _), "events" -> (Tables.events _),
      "documents" -> (Tables.documents _), "embeddings" -> (Tables.embeddings _))
    val schemas: Map[String, Either[String, StructType]] =
      loaders.map { case (t, f) =>
        t -> (try Right(f(spark, dir).schema)
              catch { case e: Throwable => Left(e.getMessage) })
      }
    contract.flatMap { case (table, colName, ok) =>
      schemas(table) match {
        case Left(err) => Some(s"$table: failed to load — $err")
        case Right(schema) =>
          schema.find(_.name == colName) match {
            case None => Some(s"$table.$colName: MISSING from fixture schema")
            case Some(f) if !ok.contains(f.dataType) =>
              Some(s"$table.$colName: fixture drifted to ${f.dataType.sql} " +
                s"(expected one of ${ok.map(_.sql).mkString("/")})")
            case _ => None
          }
      }
    }.distinct
  }

  /** Print drift loudly to stderr; returns true when clean. */
  def report(spark: SparkSession, dir: String, tool: String): Boolean = {
    val drift = check(spark, dir)
    if (drift.nonEmpty) {
      System.err.println(s"[$tool] FIXTURE SCHEMA DRIFT at $dir — " +
        s"downstream query failures below are likely THIS, fix graft.core.Tables first:")
      drift.foreach(m => System.err.println(s"[$tool]   $m"))
    }
    drift.isEmpty
  }
}
