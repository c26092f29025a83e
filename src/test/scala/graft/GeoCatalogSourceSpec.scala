package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.core.GeoParquet
import graft.search.StacSearch

/** The `geocatalog` DataSource V2: plan-time footer-bbox file pruning
  * from pushed filters, row/column fidelity against Spark's own parquet
  * reader over the identical files.
  */
class GeoCatalogSourceSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf
  private val fmt = "graft.sources.GeoCatalogSource"

  // the spatially-sharded catalog (A85's layout): z-bucket shards keep
  // each file's footer bbox tight so a bbox query CAN skip files
  private lazy val cat: String =
    GeoParquet.export(s, sf, 8, Some(StacSearch.zShard(8)), tag = "z")

  private def viaCatalog: DataFrame = s.read.format(fmt).load(cat)
  private def viaParquet: DataFrame = s.read.parquet(cat)

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("id"), col("id_num"), col("collection"),
        col("datetime").cast("string"), col("start_datetime").cast("string"),
        col("end_datetime").cast("string"), col("value"), col("user_id"),
        col("lon"), col("lat"),
        col("bbox.xmin"), col("bbox.ymin"), col("bbox.xmax"), col("bbox.ymax"),
        hex(col("geometry")))
      .collect().map(_.mkString("")).sorted.toSeq

  test("full scan ≡ Spark's parquet reader over the same files — every " +
      "column, geometry bytes included") {
    val got = canon(viaCatalog)
    val want = canon(viaParquet)
    assert(got.nonEmpty && got == want)
  }

  test("a bbox range filter prunes FILES at plan time and loses no rows") {
    val (w, so, e, n) = (-130.005, -60.005, -20.005, 10.005)
    def filtered(df: DataFrame): DataFrame =
      df.where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
        col("bbox.ymin") <= n && col("bbox.ymax") >= so)
    val df = filtered(viaCatalog)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    val (kept, total) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(kept < total && kept > 0, s"$kept/$total:\n$plan")
    assert(canon(df) == canon(filtered(viaParquet)))
  }

  test("a bbox that misses every footprint prunes every file at plan time") {
    val df = viaCatalog.where(col("bbox.xmin") <= 201.0 && col("bbox.xmax") >= 200.0 &&
      col("bbox.ymin") <= 92.0 && col("bbox.ymax") >= 91.0)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    val files = new java.io.File(cat).listFiles().count(_.getName.endsWith(".parquet"))
    assert(m.get.group(1).toInt == 0 && m.get.group(2).toInt == files && files > 0, plan)
    assert(df.count() == 0)
  }

  test("non-prunable filters stay conservative: no file skipped, rows exact") {
    val df = viaCatalog.where(col("bbox.xmin") >= -60.0) // footer can't decide
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan).get
    assert(m.group(1) == m.group(2), plan)
    assert(canon(df) == canon(viaParquet.where(col("bbox.xmin") >= -60.0)))
  }

  test("COUNT(*) and the four footer-bound extremes are served from " +
      "footers — the plan shows the agg scan, values match a real scan") {
    val agg = viaCatalog.agg(count(lit(1)).as("n"),
      min(col("bbox.xmin")).as("w"), min(col("bbox.ymin")).as("s"),
      max(col("bbox.xmax")).as("e"), max(col("bbox.ymax")).as("n2"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("aggregates served from footers"), plan)
    val got = agg.head()
    val want = viaParquet.agg(count(lit(1)), min(col("bbox.xmin")),
      min(col("bbox.ymin")), max(col("bbox.xmax")), max(col("bbox.ymax"))).head()
    assert(got.getLong(0) == want.getLong(0) && got.getLong(0) > 0)
    (1 to 4).foreach(i => assert(got.getDouble(i) == want.getDouble(i), i))
  }

  test("non-footer-answerable aggregates refuse the pushdown and still " +
      "answer correctly off the data plane") {
    val agg = viaCatalog.agg(min(col("bbox.xmax")).as("m")) // min of a MAX bound
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("served from footers"), plan)
    assert(agg.head().getDouble(0) ==
      viaParquet.agg(min(col("bbox.xmax"))).head().getDouble(0))
  }

  test("reported footer statistics let Catalyst broadcast the pruned catalog " +
      "side of a join") {
    val (w, so, e, n) = (-130.005, -60.005, -20.005, 10.005)
    val pruned = viaCatalog.where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
      col("bbox.ymin") <= n && col("bbox.ymax") >= so)
    val big = graft.core.Tables.items(s, sf).select(col("id"), col("value"))
    val j = big.join(pruned.select(col("id"), col("collection")), "id")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(j.count() > 0)
  }

  test("a consumed id_num filter VETOES the footer-aggregate pushdown: " +
      "the filtered count comes from the data plane, not unfiltered footers") {
    def q(df: DataFrame) = df.where(col("id_num") > 200L)
    val agg = q(viaCatalog).agg(count(lit(1)).as("n"))
    // the aggregate must NOT be served from footers (those totals ignore
    // the consumed predicate)…
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("served from footers"), plan)
    // …and the answer is the filtered count, exactly
    val want = q(viaParquet).count()
    assert(agg.head().getLong(0) == want && want > 0 &&
      want < viaParquet.count())
    // extremes under the same filter: data plane, still exact
    val m = q(viaCatalog).agg(min(col("bbox.xmin"))).head().getDouble(0)
    assert(m == q(viaParquet).agg(min(col("bbox.xmin"))).head().getDouble(0))
  }

  test("LIMIT pushes into the readers: a catalog peek decodes only the bound " +
      "and (r12) plans only the files covering it") {
    val peek = viaCatalog.limit(5)
    val plan = peek.queryExecution.executedPlan.toString
    assert(plan.contains("limit 5"), plan)
    graft.sources.GeoCatalogMetrics.opens.set(0L)
    assert(peek.collect().length == 5)
    // the bare-LIMIT file cut: footer row counts cover 5 rows within the
    // first file, so the plan schedules 1 file, not the whole catalog
    assert(graft.sources.GeoCatalogMetrics.opens.get() == 1L,
      s"opens=${graft.sources.GeoCatalogMetrics.opens.get()}")
  }

  test("keyset page: the Sort pushes as TopN, no SortExec in the plan, " +
      "sorted files early-stop, answers exact") {
    def page(df: DataFrame): DataFrame =
      df.where(col("id_num") > 200L).orderBy(col("id_num")).limit(5)
        .select(col("id"), col("id_num"), col("collection"))
    val df = page(viaCatalog)
    val physical = df.queryExecution.executedPlan.toString
    // the per-query sort is GONE: files advertise id_num order, readers
    // serve their heads, TakeOrderedAndProject merges them
    assert(!physical.contains("+- Sort "), physical)
    assert(physical.contains("TakeOrderedAndProject"), physical)
    val desc = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(desc.contains("topN id_num ASC 5"), desc)
    // the keyset predicate was CONSUMED by the readers (no residual
    // Filter between sort and scan — that is what lets the TopN push)
    assert(desc.contains("consumed [id_num > 200]"), desc)
    assert(!physical.contains("+- Filter"), physical)
    val want = page(viaParquet).collect().map(_.toString).toSeq
    assert(df.collect().map(_.toString).toSeq == want && want.size == 5)
    // deeper page, same contract
    def deep(df: DataFrame): DataFrame =
      df.where(col("id_num") >= 5000L).orderBy(col("id_num")).limit(7)
        .select(col("id_num"))
    assert(deep(viaCatalog).collect().map(_.getLong(0)).toSeq ==
      deep(viaParquet).collect().map(_.getLong(0)).toSeq)
    // a DESC order now pushes too (r12): sorted files serve their TAIL k
    def desc1(df: DataFrame): DataFrame =
      df.orderBy(col("id_num").desc).limit(3).select(col("id_num"))
    val dplan = desc1(viaCatalog).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(dplan.contains("topN id_num DESC 3"), dplan)
    assert(desc1(viaCatalog).collect().map(_.getLong(0)).toSeq ==
      desc1(viaParquet).collect().map(_.getLong(0)).toSeq)
  }

  test("keyset pages prune FILES on the sidecar's id_num extremes (r12): " +
      "a deep page opens only the covering files, answers exact") {
    def page(df: DataFrame): DataFrame =
      df.where(col("id_num") > 600L).orderBy(col("id_num")).limit(5)
        .select(col("id_num"))
    // the id-hash catalog spreads ids across every file (no id locality
    // → no prune possible there); the z catalog's shards are arbitrary
    // id ranges too — build an ID-SORTED sharding where extremes bite
    // (fixture ids are 0..999 → 5 shards of 200)
    val idShard = (col("id_num") / lit(200)).cast("long")
    val sortedCat = GeoParquet.export(s, sf, 8, Some(idShard), tag = "idrange")
    val all = new java.io.File(sortedCat).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val df = page(s.read.format(fmt).load(sortedCat))
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan).get
    assert(m.group(1).toInt < m.group(2).toInt && m.group(1).toInt > 0,
      s"keyset prune did not bite: ${m.group(1)}/${m.group(2)}\n$plan")
    // proven by OPEN counts, not plan text
    graft.sources.GeoCatalogMetrics.opens.set(0L)
    val got = df.collect().map(_.getLong(0)).toSeq
    val opens = graft.sources.GeoCatalogMetrics.opens.get()
    assert(opens < all, s"opened $opens of $all files")
    assert(got == page(s.read.parquet(sortedCat)).collect().map(_.getLong(0)).toSeq)
    // boundary soundness: a token exactly AT a file's id_max keeps the
    // next file, loses nothing
    def edge(df: DataFrame): DataFrame =
      df.where(col("id_num") >= 200L).orderBy(col("id_num")).limit(3)
        .select(col("id_num"))
    assert(edge(s.read.format(fmt).load(sortedCat)).collect().map(_.getLong(0)).toSeq ==
      edge(s.read.parquet(sortedCat)).collect().map(_.getLong(0)).toSeq)
  }

  test("general TopN pushes (r12): the A71 (value DESC, id ASC) page shape " +
      "runs sort-free with per-file k-bounded emission, answers exact") {
    def page(df: DataFrame): DataFrame =
      df.orderBy(col("value").desc, col("id")).limit(7)
        .select(col("id"), col("value"), col("collection"))
    val df = page(viaCatalog)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("+- Sort "), physical)
    assert(physical.contains("TakeOrderedAndProject"), physical)
    val desc = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(desc.contains("topN value DESC, id ASC 7"), desc)
    // per-file emission is bounded at k: the buffered selection paths
    // hand Spark at most k rows per file (counted, not inferred)
    graft.sources.GeoCatalogMetrics.topNEmitted.set(0L)
    val got = df.collect().map(_.toString).toSeq
    val emitted = graft.sources.GeoCatalogMetrics.topNEmitted.get()
    val nFiles = new java.io.File(cat).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(emitted > 0 && emitted <= 7L * nFiles, s"emitted=$emitted files=$nFiles")
    assert(got == page(viaParquet).collect().map(_.toString).toSeq && got.size == 7)
    // compound order with leading id_num ASC early-stops (strict sort
    // advertisement proves uniqueness, tiebreakers never fire)
    def compound(df: DataFrame): DataFrame =
      df.orderBy(col("id_num"), col("value").desc).limit(4)
        .select(col("id_num"), col("value"))
    val cplan = compound(viaCatalog).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(cplan.contains("topN id_num ASC, value DESC 4"), cplan)
    assert(compound(viaCatalog).collect().map(_.toString).toSeq ==
      compound(viaParquet).collect().map(_.toString).toSeq)
    // a DESC order under a consumed keyset filter stays exact
    def kd(df: DataFrame): DataFrame =
      df.where(col("id_num") > 100L)
        .orderBy(col("value").desc, col("id_num")).limit(5)
        .select(col("id_num"), col("value"))
    assert(kd(viaCatalog).collect().map(_.toString).toSeq ==
      kd(viaParquet).collect().map(_.toString).toSeq)
  }

  test("streaming read: files landed by the streaming ingest surface as " +
      "micro-batches, each file exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("catstream").toString
    val items = graft.core.Tables.items(s, sf)
      .select(col("id"), col("id_num"), col("collection"), col("datetime"),
        col("start_datetime"), col("end_datetime"), col("value"),
        col("user_id"), col("lon"), col("lat"))
    graft.core.GeoParquet.appendBatch(items.where(col("id_num") % 2 === 0), dir, 0L)
    val q = s.readStream.format(fmt).load(dir)
      .writeStream.format("memory").queryName("catstream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val n0 = s.sql("SELECT COUNT(*) FROM catstream").head().getLong(0)
      assert(n0 == items.where(col("id_num") % 2 === 0).count() && n0 > 0)
      graft.core.GeoParquet.appendBatch(items.where(col("id_num") % 2 === 1), dir, 1L)
      q.processAllAvailable()
      val all = s.sql("SELECT id FROM catstream").collect().map(_.getString(0))
      assert(all.length == items.count() && all.distinct.length == all.length)
    } finally q.stop()
  }

  test("streaming read with a bbox filter: new files prune on their footers " +
      "per batch — fewer input rows, same answers") {
    val (w, so, e, n) = (-130.005, -60.005, -20.005, 10.005)
    def boxed(df: org.apache.spark.sql.DataFrame) =
      df.where(col("bbox.xmin") <= e && col("bbox.xmax") >= w &&
        col("bbox.ymin") <= n && col("bbox.ymax") >= so)
    val q = boxed(s.readStream.format(fmt)
        .option("bbox", s"$w,$so,$e,$n").load(cat))
      .writeStream.format("memory").queryName("catstream_boxed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val served = s.sql("SELECT id FROM catstream_boxed").collect()
        .map(_.getString(0)).sorted.toSeq
      val want = boxed(viaParquet).select(col("id")).collect()
        .map(_.getString(0)).sorted.toSeq
      assert(served == want && served.nonEmpty)
      // the footer prune bit: the batch read fewer rows than the catalog
      val inputRows = q.recentProgress.map(_.numInputRows).sum
      val total = viaParquet.count()
      assert(inputRows < total && inputRows >= served.size,
        s"inputRows=$inputRows total=$total served=${served.size}")
    } finally q.stop()
  }

  test("edges: an empty catalog scans zero rows, counts 0, and serves NULL " +
      "bound extremes; marker files are ignored") {
    val dir = java.nio.file.Files.createTempDirectory("emptycat").toString
    new java.io.File(dir, "_SUCCESS").createNewFile()
    val df = s.read.format(fmt).load(dir)
    assert(df.collect().isEmpty)
    val agg = df.agg(count(lit(1)), min(col("bbox.xmin"))).head()
    assert(agg.getLong(0) == 0L && agg.isNullAt(1))
  }

  test("column pruning: a narrow projection reads and returns only the " +
      "requested fields") {
    val got = viaCatalog.select(col("id"), col("lon")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    val want = viaParquet.select(col("id"), col("lon")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(got == want && got.nonEmpty)
    val plan = viaCatalog.select(col("id"), col("lon"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("geometry"), plan)
  }

  // ------- r11: collection + datetime file prune (the `graft` sidecar)

  // the TIME-sharded catalog (A89's layout): shard = day-of-month of the
  // item instant, so datetime ranges CAN skip files; one collection per
  // file by the writer's (collection, shard) keying
  private lazy val tcat: String = {
    val shardCol = dayofmonth(coalesce(col("datetime"), col("start_datetime")))
    GeoParquet.export(s, sf, 31, Some(shardCol), tag = "t")
  }

  private def keptOf(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val m = """footer-pruned files (\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("collection = / IN filters prune files on the sidecar footer and " +
      "lose no rows") {
    def one(df: DataFrame) = df.where(col("collection") === "click")
    val (k1, t1) = keptOf(one(s.read.format(fmt).load(tcat)))
    assert(k1 < t1 && k1 > 0, s"$k1/$t1")
    assert(canon(one(s.read.format(fmt).load(tcat))) == canon(one(s.read.parquet(tcat))))
    def two(df: DataFrame) = df.where(col("collection").isin("click", "view"))
    val (k2, t2) = keptOf(two(s.read.format(fmt).load(tcat)))
    assert(k2 > k1 && k2 < t2, s"$k2/$t2 vs $k1")
    assert(canon(two(s.read.format(fmt).load(tcat))) == canon(two(s.read.parquet(tcat))))
  }

  test("the reference's datetime-overlap DISJUNCTION prunes day files and " +
      "keeps interval-only rows") {
    def tsn(t: String) = lit(t).cast("timestamp_ntz")
    val (lo, hi) = ("2024-01-08 00:00:00", "2024-01-12 00:00:00")
    def filt(df: DataFrame) = df.where(
      (col("datetime") >= tsn(lo) && col("datetime") <= tsn(hi)) ||
        (col("datetime").isNull &&
          col("start_datetime") <= tsn(hi) && col("end_datetime") >= tsn(lo)))
    val df = filt(s.read.format(fmt).load(tcat))
    val (kept, total) = keptOf(df)
    assert(kept < total && kept > 0, s"$kept/$total")
    val got = canon(df)
    assert(got == canon(filt(s.read.parquet(tcat))))
    // the Or translation kept the NULL-datetime branch alive: interval
    // rows whose window overlaps ride through the prune
    assert(df.where(col("datetime").isNull).count() > 0)
    // day files wholly inside the range survive, far days are gone:
    // roughly (5 days + interval spill) of 30 per collection
    assert(kept <= total / 3, s"$kept/$total — prune too weak")
  }

  test("SupportsWrite: append/overwrite land footer-exact files; read-back " +
      "≡ input; pruning works on the written catalog unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("wcat").toString
    val src = s.read.parquet(cat)
    src.repartition(col("collection")).write.format(fmt).mode("append").save(dir)
    // content round-trip through the DSv2 reader
    assert(canon(s.read.format(fmt).load(dir)) == canon(src))
    // every committed file: exact geo bbox + graft sidecar re-derived
    // from its own rows
    val foot = GeoParquet.footerInfo(dir)
    assert(foot.nonEmpty)
    foot.foreach { case (stem, gf) =>
      val f = s.read.parquet(s"$dir/$stem.parquet")
      val r = f.agg(min(col("bbox.xmin")), min(col("bbox.ymin")),
        max(col("bbox.xmax")), max(col("bbox.ymax")), count(lit(1)),
        countDistinct(col("collection")), first(col("collection"))).head()
      assert(gf.bbox == Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      assert(gf.rows == r.getLong(4))
      assert(r.getLong(5) == 1L && gf.collection.contains(r.getString(6)))
      assert(gf.dt.isDefined)
    }
    // collection prune works on the written catalog (files are
    // single-collection by the writer's per-collection rolling)
    val (kc, tc) = keptOf(s.read.format(fmt).load(dir)
      .where(col("collection") === "click"))
    assert(kc < tc && kc > 0, s"$kc/$tc")
    // append accumulates (job-unique names: a second append must not
    // clobber the first's files)
    src.repartition(col("collection")).write.format(fmt).mode("append").save(dir)
    assert(s.read.format(fmt).load(dir).count() == 2 * src.count())
    // overwrite truncates and replaces
    val clicks = src.where(col("collection") === "click")
    clicks.repartition(1).write.format(fmt).mode("overwrite").save(dir)
    assert(canon(s.read.format(fmt).load(dir)) == canon(clicks))
    // wrong shape is a typed error, not silent coercion (Spark's own
    // table-compatibility analysis fires first; the builder's require is
    // the backstop for paths that bypass it)
    val e = intercept[Exception] {
      src.drop("geometry").write.format(fmt).mode("append").save(dir)
    }
    assert(e.getMessage.contains("geometry") ||
      e.getMessage.contains("geocatalog write requires"), String.valueOf(e))
  }

  test("runtime file pruning: a broadcast join on collection prunes files " +
      "at EXECUTION time (DSv2 dynamic pruning), counted in actual opens") {
    import s.implicits._
    import graft.sources.GeoCatalogMetrics
    // a selective dimension whose surviving collections are only known
    // at RUNTIME: the filter is on a NON-join column over a real scan
    // (a filter on the join key itself would propagate statically into
    // the pushed filters and prune at plan time — also proven, by the
    // a89 tests; a LocalRelation dim constant-folds its filter away and
    // DPP sees no selective predicate at all)
    val dimDir = java.nio.file.Files.createTempDirectory("dpp_dim").toString
    Seq((1, "click"), (2, "view"), (3, "purchase"))
      .toDF("k", "collection").write.mode("overwrite").parquet(dimDir)
    val dim = s.read.parquet(dimDir).where(col("k") === 1)
      .select(col("collection"))
    def joined = viaCatalog.join(broadcast(dim), Seq("collection"))
    // correctness first: the runtime prune loses nothing
    assert(canon(joined) ==
      canon(viaParquet.join(broadcast(dim), Seq("collection"))))
    // the plan carries the dynamic-pruning runtime filter
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
    // evidence by OPENS, not plan text: the joined run touches fewer
    // files than a full scan of the same catalog
    GeoCatalogMetrics.opens.set(0L)
    viaCatalog.agg(sum(length(col("id")))).collect()
    val full = GeoCatalogMetrics.opens.get()
    GeoCatalogMetrics.opens.set(0L)
    joined.agg(sum(length(col("id")))).collect()
    val pruned = GeoCatalogMetrics.opens.get()
    assert(full > 0 && pruned > 0 && pruned < full, s"opens $pruned vs $full")
  }

  test("datetime prune composes with collection under And; conservative " +
      "when only one conjunct translates") {
    def tsn(t: String) = lit(t).cast("timestamp_ntz")
    val base = s.read.format(fmt).load(tcat)
    val both = base.where(col("collection") === "view" &&
      col("datetime") >= tsn("2024-01-25 00:00:00"))
    val (kb, tb) = keptOf(both)
    val (kc, _) = keptOf(base.where(col("collection") === "view"))
    assert(kb < kc, s"And composition did not tighten: $kb vs $kc")
    val wantBoth = s.read.parquet(tcat).where(col("collection") === "view" &&
      col("datetime") >= tsn("2024-01-25 00:00:00"))
    assert(canon(both) == canon(wantBoth))
    // value > x is untranslatable: And(collection, value) prunes on the
    // collection side only, rows stay exact
    val mixed = base.where(col("collection") === "view" && col("value") > 100.0)
    val (km, _) = keptOf(mixed)
    assert(km == kc, s"untranslatable conjunct changed the prune: $km vs $kc")
    assert(canon(mixed) ==
      canon(s.read.parquet(tcat).where(col("collection") === "view" && col("value") > 100.0)))
  }
}
