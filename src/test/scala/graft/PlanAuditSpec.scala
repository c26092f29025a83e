package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Analytics
import graft.search.{SearchParams, SortBy, StacApi, StacSearch}

/** Physical-plan audits (SURVEY.md §5): the 100 TB guarantees are plan
  * shapes, so they're asserted, not eyeballed.
  */
class PlanAuditSpec extends AnyFunSuite {
  private def s = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Plan with AQE off (Bench's configuration): static exchange-reuse
    * (ReusedExchange nodes) is only visible in non-adaptive plans — AQE
    * performs the same reuse at stage-materialization time instead.
    */
  private def planNoAqe(mk: => DataFrame): String = {
    val prev = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try plan(mk) finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("b1: filter and projection push down to the parquet scan") {
    val p = plan(Analytics.queries("b1_pushdown_scan")(s, sf))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThan(o_totalprice"), p)
    // 2-column ReadSchema — no full-row scan for a 2-column projection
    assert(p.contains("ReadSchema") &&
      p.split('\n').exists(l => l.contains("ReadSchema") &&
        l.contains("o_orderkey") && l.contains("o_totalprice") && !l.contains("o_comment")), p)
  }

  test("b3/b5: dimension joins broadcast — no shuffle of the fact side") {
    assert(plan(Analytics.queries("b3_broadcast_join")(s, sf)).contains("BroadcastHashJoin"))
    val p5 = plan(Analytics.queries("b5_star_join")(s, sf))
    assert(p5.contains("BroadcastHashJoin"), p5)
  }

  test("b32: salted join is a ShuffledHashJoin on (key, salt) — no broadcast, " +
      "no nested loop") {
    val p = plan(Analytics.queries("b32_salted_join")(s, sf))
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    // the salt participates in the join keys: both sides' keys name it
    val keyLines = p.split('\n').filter(l => l.contains("keys") || l.contains("Keys"))
    assert(keyLines.exists(l => l.contains("salt")), p)
  }

  test("b33: the funnel is joinless — one user-key aggregation pass, no " +
      "self-join cascade") {
    val p = plan(Analytics.queries("b33_funnel")(s, sf))
    assert(!p.contains("Join"), p)
    // exactly one user-key shuffle feeds the per-user aggregate (the
    // final single-row agg adds its own single-partition exchange), and
    // the collect_lists are partial (map-side) below it
    assert(p.split('\n').count(_.contains("hashpartitioning(user_id")) == 1, p)
    assert(p.contains("partial_collect_list"), p)
  }

  test("a58: mosaic argmax and cell count share one zcell exchange — no join, " +
      "no second shuffle") {
    val p = plan(StacSearch.queries("a58_mosaic_best")(s, sf))
    assert(!p.contains("Join"), p)
    // both windows ride the same zcell partitioning: one hash exchange
    assert(p.split('\n').count(_.contains("hashpartitioning(zcell")) == 1, p)
    assert(p.contains("row_number"), p)
  }

  test("b38: the correlated scalar subquery decorrelates — per-part aggregate " +
      "joined back, no nested loop, no per-row subquery execution") {
    val p = plan(Analytics.queries("b38_correlated_subquery")(s, sf))
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    // the rewrite's signature: an aggregate over the subquery side joined
    // on the correlation key
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.split('\n').count(_.contains("SortMergeJoin")) +
      p.split('\n').count(_.contains("ShuffledHashJoin")) +
      p.split('\n').count(_.contains("BroadcastHashJoin")) >= 2, p)
  }

  /** Runs a paged gate and materializes its frame: the jobs and SQL
    * plans it opened.
    */
  private def ranGate(gate: String) =
    JobCount(s)(StacSearch.queries(gate)(s, sf).collect())

  test("b7 + a16: global top-k plans as TakeOrderedAndProject, not a global sort; " +
      "the a16 page is the pager's one job") {
    assert(plan(Analytics.queries("b7_topk")(s, sf)).contains("TakeOrderedAndProject"))
    val a16 = ranGate("a16_sort")
    assert(a16.result.length == 50)
    assert(a16.jobs == 1, a16)
  }

  test("b2: aggregate is partial (map-side) before the exchange") {
    val p = plan(Analytics.queries("b2_agg")(s, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Exchange"), p)
  }

  test("a8 bbox: range predicates reach the parquet scan as pushed filters") {
    val p = plan(StacSearch.queries("a8_bbox")(s, sf))
    // lon/lat derive from value/user_id arithmetic — the pushable part is
    // the scan of only the needed source columns
    assert(p.contains("ReadSchema"), p)
  }

  test("a1: collection equality pushes to the scan") {
    val p = plan(StacSearch.queries("a1_scan_collection")(s, sf))
    assert(p.contains("EqualTo(event_type,click)"), p)
  }

  test("a22 flagship: collections + CQL2 filters reach the parquet scan of the " +
      "search page; sort+page is one job; props column pruned") {
    val ran = ranGate("a22_combined_search")
    assert(ran.jobs == 1, ran)
    // the pager's "search page" execution is the only one that scans
    val scans = ran.plans.filter(_.contains("ReadSchema"))
    assert(scans.size == 1, ran.plans.mkString("\n----\n"))
    val p = scans.head
    assert(p.contains("In(event_type, [click,purchase,view])"), p)
    assert(p.contains("GreaterThanOrEqual(value,20.5)"), p)
    assert(p.contains("LessThanOrEqual(value,400.5)"), p)
    assert(!p.split('\n').exists(l => l.contains("ReadSchema") && l.contains("props")), p)
  }

  test("b8: approx_count_distinct (HLL) within 5% of exact") {
    val exact = Tables.lineitem(s, sf)
      .agg(countDistinct(col("l_partkey"))).collect()(0).getLong(0)
    val approx = Tables.lineitem(s, sf)
      .agg(approx_count_distinct(col("l_partkey"))).collect()(0).getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("c6: query side of ANN is broadcast (corpus streams)") {
    val p = plan(graft.ops.Similarity.queries("c6_ann_bruteforce")(s, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("c17: exactly 2 corpus scans, stats side broadcast, no cartesian") {
    val p = plan(graft.ops.TextAnalysis.queries("c17_keyword_search")(s, sf))
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 2, s"expected 2 documents scans, got $scans\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("c14: centroid assignment is a projection — no Exchange, no Window, no 16x join") {
    // audit the assignment subplan through the public query: the only
    // exchanges allowed in the whole c14 plan are the probe-side broadcast
    // and the final top-k machinery — no Exchange may feed a Window over
    // the full corpus (the round-1 16×-expansion shape)
    val p = plan(graft.ops.Similarity.queries("c14_ann_ivf")(s, sf))
    val corpusScans = p.split('\n').count(l => l.contains("Location") && l.contains("embeddings.parquet"))
    assert(corpusScans <= 3, s"corpus re-scanned: $corpusScans\n$p")
    // the assignment itself contributes zero Exchange: total exchange count
    // is bounded by the probe broadcast + one shuffle for the rank window
    val exchanges = p.split('\n').count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"too many exchanges ($exchanges) — assignment must be shuffle-free\n$p")
  }

  test("b18: as-of join is JOINLESS — union + one window, no range-join explosion") {
    val p = plan(Analytics.queries("b18_asof_join")(s, sf))
    assert(!p.contains("Join"), p) // no SortMergeJoin/BroadcastHashJoin/Cartesian
    assert(p.contains("Window"), p)
    assert(p.contains("Union"), p)
  }

  test("c23: sequence packing is one shuffle+sort (window), no driver loop artifacts") {
    val p = plan(graft.ops.TextAnalysis.queries("c23_sequence_packing")(s, sf))
    assert(p.contains("Window"), p)
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p")
  }

  test("a23 keyset: the continuation predicate reaches the scan's pushed filters") {
    val p = plan(StacSearch.queries("a23_keyset_paginate")(s, sf))
    // value > 250.0 must be pushable (events.value is the source column)
    assert(p.split('\n').exists(l => l.contains("PushedFilters") && l.contains("value")), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("c20: bucketed embedding near-dup plans with NO cartesian product") {
    val p = plan(graft.ops.Dedup.queries("c20_dedup_embedding_lsh")(s, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("a40: shape-intersects envelope prune reaches the scan's pushed filters") {
    val p = plan(StacSearch.queries("a40_intersects_shapes")(s, sf))
    // the collection envelope is a lon/lat range over source `value` /
    // derived lat — at minimum the value-range CQL conjunct must push
    assert(p.split('\n').exists(l => l.contains("PushedFilters") && l.contains("value")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("a42: WKB round-trip is a single scan, no join, no shuffle before the sort") {
    val p = plan(StacSearch.queries("a42_wkb_roundtrip")(s, sf))
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
    assert(!p.contains("Join"), p)
  }

  test("c25: bloom decontamination broadcasts the verify side, no cartesian") {
    val p = plan(graft.ops.TextAnalysis.queries("c25_decontaminate_bloom")(s, sf))
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b20: keyless range join plans as a bin equi-join — no nested loop, no cartesian") {
    val p = plan(Analytics.queries("b20_range_join")(s, sf))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the residual interval predicate rides the equi-join, it doesn't
    // become a post-join Filter-over-cartesian
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("a26: collections metadata joins as a broadcast onto one aggregation pass") {
    val p = plan(StacSearch.queries("a26_collections")(s, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p")
  }

  test("a46: grid aggregation is one scan with partial aggregation; " +
      "c30: top pairs plan as TakeOrderedAndProject") {
    val p46 = plan(StacSearch.queries("a46_grid_agg")(s, sf))
    val scans = p46.split('\n').count(l => l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p46")
    assert(p46.contains("HashAggregate"), p46)
    val p30 = plan(graft.ops.TextAnalysis.queries("c30_bpe_pairs")(s, sf))
    assert(p30.contains("TakeOrderedAndProject"), p30)
    // the vocabulary trick: pairs explode off the aggregated vocab, so the
    // plan has the word aggregate BELOW the pair generate
    assert(p30.contains("Generate"), p30)
  }

  test("c37: the encode dictionary broadcasts; the corpus is scanned once " +
      "outside the merge loop") {
    val p = plan(graft.ops.TextAnalysis.queries("c37_bpe_encode")(s, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-doc pass reads documents.parquet exactly once — the merge
    // loop's vocabulary work is behind a localCheckpoint, not a rescan
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p")
  }

  test("a54: serving the incremental directory reads ONLY the state table — " +
      "no raw item scan in the plan") {
    val p = plan(StacSearch.queries("a54_collections_incremental")(s, sf))
    assert(!p.contains("events.parquet"), p) // raw items never re-read
    assert(p.contains("graft_extents_"), p)  // the state table is the source
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("c43: quality rules are one scan, no join, no shuffle before the sort") {
    val p = plan(graft.ops.TextAnalysis.queries("c43_gopher_rules")(s, sf))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p")
  }

  test("c41/c42: the encode dictionary broadcasts into the packing pipeline") {
    val p41 = plan(graft.ops.TextAnalysis.queries("c41_bpe_packing")(s, sf))
    assert(p41.contains("BroadcastHashJoin"), p41)
    val scans = p41.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"expected 1 corpus scan below the window, got $scans\n$p41")
  }

  test("c39: classifier inference is one scan, no join, no aggregate exchange") {
    val p = plan(graft.ops.TextAnalysis.queries("c39_classifier_score")(s, sf))
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
    val scans = p.split('\n').count(l => l.contains("Location") && l.contains("documents.parquet"))
    assert(scans == 1, s"expected 1 corpus scan, got $scans\n$p")
  }

  test("c27: vocab joins broadcast under the size ceiling, shuffle above it — " +
      "same results either way") {
    import graft.ops.TextAnalysis
    val under = TextAnalysis.c27ScoreWith(s, sf, Long.MaxValue)
    val over = TextAnalysis.c27ScoreWith(s, sf, 0L) // every vocab exceeds 0
    val pUnder = plan(under)
    val pOver = plan(over)
    assert(pUnder.contains("BroadcastHashJoin"), pUnder)
    assert(!pOver.contains("BroadcastHashJoin"), pOver)
    assert(pOver.contains("SortMergeJoin") || pOver.contains("ShuffledHashJoin"), pOver)
    assert(under.collect().toSeq == over.collect().toSeq)
    // a real finite ceiling measures the vocab and still picks broadcast
    // when it genuinely fits
    assert(plan(TextAnalysis.c27ScoreWith(s, sf, TextAnalysis.c27BroadcastMaxVocab))
      .contains("BroadcastHashJoin"))
  }

  test("b25: changelog compaction is a partial-combining aggregate — " +
      "no Window, no sort below the exchange") {
    val p = plan(Analytics.queries("b25_changelog_compact")(s, sf))
    assert(!p.contains("Window"), p) // the whole point vs row_number()=1
    // partial (map-side) aggregation below the key exchange: the shuffle
    // carries |keys| candidate rows, never the changelog
    assert(p.contains("partial_max_by"), p)
  }

  test("c66: familiarity reshaped — no Window anywhere (the r07 unpartitioned-" +
      "window scale-killer), scalar corpus total via 1-row broadcast, no cartesian") {
    val p = plan(graft.ops.TextAnalysis.queries("c66_familiarity")(s, sf))
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the lm equi-join side is broadcast under the measured ceiling
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c68: edit verify joins candidates to texts by equality — no cartesian, " +
      "no unbanded blow-up shape") {
    val p = plan(graft.ops.Dedup.queries("c68_edit_verify")(s, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("c70: novelty's first-seer is a gh-PARTITIONED window min (r12 — " +
      "was a groupBy + self-join): no join at all, no cartesian, and the " +
      "window partitions by the gram key, never unpartitioned") {
    val p = plan(graft.ops.Dedup.queries("c70_novelty")(s, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), p)
    val wins = p.split('\n').filter(_.contains("windowspecdefinition"))
    assert(wins.nonEmpty && wins.forall(_.contains("gh#")), p)
  }

  test("c67: the incremental cluster merge is equi-joins over state + " +
      "checkpointed subgraph — no cartesian, no nested loop") {
    val p = plan(graft.ops.Dedup.queries("c67_incremental_clusters")(s, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("c78: index-only keyword serving — no documents scan, no text " +
      "column anywhere, query terms pushed into the postings scan") {
    val p = plan(graft.ops.TextAnalysis.queries("c78_index_search")(s, sf))
    assert(!p.contains("documents.parquet"), p)
    assert(!p.split('\n').exists(l => l.contains("ReadSchema") && l.contains("text")), p)
    assert(p.contains("graft_invindex_"), p)
    // the IN(w, terms) predicate reaches the postings scan
    assert(p.split('\n').exists(l => l.contains("PushedFilters") && l.contains("In(w")), p)
    // the tf-only query PRUNES the positions column C79 shares the table with
    assert(!p.split('\n').exists(l => l.contains("ReadSchema") && l.contains("positions")), p)
  }

  test("c79: phrase serving — index tables only, equality filters pushed, " +
      "positions read on this path") {
    val p = plan(graft.ops.TextAnalysis.queries("c79_phrase_search")(s, sf))
    assert(!p.contains("documents.parquet"), p)
    assert(p.split('\n').exists(l =>
      l.contains("PushedFilters") && l.contains("EqualTo(w")), p)
    assert(p.split('\n').exists(l =>
      l.contains("ReadSchema") && l.contains("positions")), p)
  }

  test("c74: source-vocab similarity — map-side partial aggregate, norms " +
      "broadcast, no cartesian") {
    val p = plan(graft.ops.TextAnalysis.queries("c74_source_vocab_sim")(s, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-wide (source, bucket) count combines before its exchange:
    // a partial_count appears below the final count
    assert(p.contains("partial_count"), p)
  }

  test("c75: frequency spectrum — two aggregation levels, both partial-" +
      "combined, no join anywhere") {
    val p = plan(graft.ops.TextAnalysis.queries("c75_freq_spectrum")(s, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
  }

  test("c76: chunking is one scan with a per-row Generate — no join, no " +
      "exchange below the deterministic output sort") {
    val p = plan(graft.ops.TextAnalysis.queries("c76_chunk")(s, sf))
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p)
    // exactly one Exchange: the range partitioning of the final Sort
    val exchanges = p.split('\n').count(_.matches(".*\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1, s"expected only the sort's exchange, got $exchanges:\n$p")
  }

  test("c73: matryoshka funnel — no 64-dim vector crosses an exchange; " +
      "shortlist and query sides broadcast") {
    val p = plan(graft.ops.Similarity.queries("c73_ann_matryoshka")(s, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every Exchange's input carries ids + scalars only — never the full
    // nv (or prefix pnv) vector columns; that is the operator's 100 TB
    // contract (stage-1 shuffle = (q_id, vec_id, pre_sim); vectors are
    // re-fetched by a broadcast join against the corpus scan)
    val lines = p.split('\n')
    lines.zipWithIndex.filter(_._1.matches(".*\\(\\d+\\) Exchange.*")).foreach {
      case (_, i) =>
        val input = lines.drop(i).find(_.trim.startsWith("Input")).getOrElse("")
        assert(!input.contains("nv"), s"vector crossed an exchange:\n$input\n$p")
    }
  }

  test("c72: bucketed-history anti-join — SortMergeJoin LeftAnti, history " +
      "side scan bucketed with NO Exchange above it; shuffles only on the increment") {
    val p = plan(graft.ops.Dedup.queries("c72_incremental_dedup_bucketed")(s, sf))
    assert(p.contains("SortMergeJoin") && p.contains("LeftAnti"), p)
    // the history (anti) side reads the bucketed state table and no
    // Exchange sits between the SMJ and that scan: in the formatted tree
    // the scan's immediate ancestors are a partition-local Sort + Filter
    // only (the increment side pays the plan's exchanges; the tiny
    // first-in-increment frame may broadcast — that join is not the one
    // under audit)
    val lines = p.split('\n')
    val scanIdx = lines.indexWhere(l =>
      l.contains("Scan parquet") && l.contains("graft_bucketed_histfps"))
    assert(scanIdx > 0, p)
    // the right-branch chain immediately above the bucketed scan is a
    // partition-local Sort (+ Filter) — NO Exchange in those lines (the
    // left child's subtree prints earlier and owns the plan's exchanges)
    val branch = lines.slice(math.max(0, scanIdx - 3), scanIdx)
    assert(branch.exists(_.contains("Sort")) &&
      !branch.exists(_.contains("Exchange")),
      s"unexpected shape above the bucketed history scan:\n$p")
  }

  test("b41: CDC with deletes keeps B25's aggregate shape (partial max_by, " +
      "no Window) and the tombstone filter sits ABOVE the merge") {
    val p = plan(Analytics.queries("b41_cdc_deletes")(s, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max_by"), p)
    // the tombstone predicate must NOT reach the scan: filtering deletes
    // before the merge would resurrect the superseded revision
    assert(!p.split('\n').exists(l => l.contains("PushedFilters") &&
      l.contains("error")), p)
  }

  test("a56: upsert search — aggregate merge (no Window), key-stable " +
      "collections filter pushed to the scan BELOW the merge") {
    val p = plan(StacSearch.queries("a56_upsert_search")(s, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max_by"), p)
    // the collections predicate (event_type pre-derivation) reaches
    // PushedFilters; the bbox (mutable lon/lat) must NOT appear there
    assert(p.split('\n').exists(l => l.contains("PushedFilters") &&
      l.contains("event_type")), p)
    assert(!p.split('\n').exists(l => l.contains("PushedFilters") &&
      l.contains("value")), p)
  }

  test("a68: merge patch — one aggregate merge (no Window, no Join), " +
      "partial per-field max below the scene shuffle, collections pushed") {
    val p = plan(StacSearch.queries("a68_merge_patch")(s, sf))
    assert(!p.contains("Window") && !p.contains("Join"), p)
    // the per-field LWW cells map-side combine (partial_max on structs)
    assert(p.contains("partial_max"), p)
    assert(p.split('\n').exists(l => l.contains("PushedFilters") &&
      l.contains("event_type")), p)
  }

  test("c80/c84: one map-side-combined aggregate each — partial counts " +
      "below the group shuffle, no join") {
    val p80 = plan(graft.ops.TextAnalysis.queries("c80_blocklist_filter")(s, sf))
    assert(p80.contains("partial_count") && !p80.contains("Join"), p80)
    val p84 = plan(graft.ops.TextAnalysis.queries("c84_template_prefixes")(s, sf))
    assert(p84.contains("partial_count") && !p84.contains("Join"), p84)
    assert(p84.contains("partial_min") && p84.contains("partial_max"), p84)
  }

  test("a70: aggregations bundle — ONE scan, ONE Expand, ONE aggregation " +
      "shuffle serves every granularity (no union of per-agg scans)") {
    val p = plan(graft.search.StacSearch.queries("a70_agg_bundle")(s, sf))
    // formatted mode prints each node in the tree AND a detail block —
    // count the numbered detail headers, which appear exactly once
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
    assert("""\(\d+\) Expand""".r.findAllIn(p).size == 1, p)
    assert(p.split('\n').count(_.contains("hashpartitioning")) == 1, p)
    assert(!p.contains("Union"), p)
    assert(p.contains("partial_count"), p) // map-side combine below the shuffle
  }

  test("a80/a81/a83 batteries: one items scan, codegen'd projection — " +
      "no join, no aggregate, no window") {
    Seq("a80_cql2_accenti", "a81_cql2_bbox", "a83_cql2_fuzz").foreach { q =>
      val p = plan(StacSearch.queries(q)(s, sf))
      assert(!p.contains("Join"), s"$q:\n$p")
      assert(!p.contains("HashAggregate"), s"$q:\n$p")
      assert(!p.contains("Window"), s"$q:\n$p")
      assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, s"$q:\n$p")
    }
  }

  test("a82: exported-catalog read-back — footer frame broadcasts onto ONE " +
      "distributed scan of the export; no shuffle join, no second scan") {
    val p = plan(StacSearch.queries("a82_geoparquet_export")(s, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("Cartesian"), p)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, p)
  }

  test("c104: LM scoring joins broadcast the measured-small count tables; " +
      "the forced 100 TB path plans sort-merge with zero broadcast hash joins") {
    val pb = plan(graft.ops.TextAnalysis.c104ScoredDoc(s, sf, Long.MaxValue))
    assert(pb.contains("BroadcastHashJoin"), pb)
    assert(!pb.contains("SortMergeJoin") && !pb.contains("CartesianProduct"), pb)
    val pm = plan(graft.ops.TextAnalysis.c104ScoredDoc(s, sf, 0L))
    assert(pm.contains("SortMergeJoin"), pm)
    assert(!pm.contains("BroadcastHashJoin"), pm)
    assert(!pm.contains("CartesianProduct"), pm)
  }

  test("c104/c105: the tercile cut is histogram-ranked — windows partitioned " +
      "by lang, bucket join-back broadcast; the mixture is joinless over the " +
      "memoized bucket frame") {
    val p = plan(graft.ops.TextAnalysis.c104BucketsWith(s, sf, Long.MaxValue))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
    // every window partitions by lang — no unpartitioned corpus window
    val wins = p.split('\n').filter(_.contains("windowspecdefinition"))
    assert(wins.nonEmpty && wins.forall(_.contains("lang#")), p)
    // the gates read the memoized bucket frame: no join re-runs
    Seq("c104_ngram_lm", "c105_perplexity_mixture").foreach { q =>
      val pg = plan(graft.ops.TextAnalysis.queries(q)(s, sf))
      assert(!pg.contains("Join"), s"$q:\n$pg")
    }
  }

  test("c82: hard negatives — anchors broadcast; no Exchange input carries " +
      "a vector column (ids and one double on the wire)") {
    val df = graft.ops.Similarity.queries("c82_hard_negatives")(s, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastExchange"), p)
    // the window's shuffle input must be scalars only — nv/qnv stay
    // below the broadcast join, never enter a shuffle
    val exchanges = p.split('\n').filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(l => l.contains("nv#") || l.contains("qnv#")), p)
  }

  test("c53: coverage curve has NO window (the r11 |vocab|-wide ranking " +
      "scale-killer) — distributed TakeOrdered head + reused word-count " +
      "exchange for the total") {
    val p = planNoAqe(graft.ops.TextAnalysis.queries("c53_coverage_curve")(s, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the scalar-total branch reads the SAME word-count shuffle the
    // top-K branch built: one corpus scan, one |vocab| exchange
    assert(p.contains("ReusedExchange"), p)
    assert(p.split('\n').count(l =>
      l.contains("Location") && l.contains("documents.parquet")) == 1, p)
  }

  test("c16: curation pipeline — exact dedup is one min_by aggregation " +
      "(no join-back), survivors' exchange reused by banding and anti-join " +
      "(single corpus scan), no distinct stage on the drop side") {
    val p = planNoAqe(graft.ops.Curation.queries("c16_curation_pipeline")(s, sf))
    assert(p.contains("partial_min_by"), p)
    assert(p.contains("ReusedExchange"), p)
    assert(p.split('\n').count(l =>
      l.contains("Location") && l.contains("documents.parquet")) == 1, p)
  }

  test("c45: curation v2 — the C43 battery scan runs once (checkpointed " +
      "slim frame feeds eval side + dedup chain), exact dedup is min_by, " +
      "decontamination anti-join broadcasts") {
    val p = plan(graft.ops.Curation.queries("c45_curation_v2")(s, sf))
    assert(p.contains("partial_min_by"), p)
    assert(p.split('\n').exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")), p)
    // the corpus is read through the one checkpointed RDD — no second
    // parquet scan of documents anywhere in the plan
    assert(!p.contains("Scan parquet"), p)
  }

  test("c74: vocab similarity is ONE corpus pass — the norms come off the " +
      "pair frame's diagonal (the r12 fix: a separate norm aggregation " +
      "re-tokenized the corpus), pair join broadcast, no sort-merge") {
    val p = planNoAqe(graft.ops.TextAnalysis.queries("c74_source_vocab_sim")(s, sf))
    assert(p.split('\n').count(l =>
      l.contains("Location") && l.contains("documents.parquet")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c97: source overlap stages the pair matrix once — the final plan " +
      "reads only the checkpointed pair frame (three consumers), no " +
      "sort-merge join, no re-run of the shingle pass per diagonal " +
      "broadcast (the r12-opt fix)") {
    val p = planNoAqe(graft.ops.Dedup.queries("c97_source_overlap")(s, sf))
    assert(!p.contains("SortMergeJoin"), p)
    // the shingle pass lives in the checkpoint build, not here: the final
    // plan must not touch the corpus parquet at all
    assert(!p.split('\n').exists(l =>
      l.contains("Location") && l.contains("documents.parquet")), p)
    assert(p.split('\n').count(_.contains("Scan ExistingRDD")) >= 3, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("c101: contamination closure is all-broadcast — the corpus pass " +
      "never sort-merges against the |eval matches|-sized mark frames, " +
      "and the fingerprint kernel runs off the rebalanced (multi-task) " +
      "checkpoint, not the 1-partition scan (the r12-opt fixes)") {
    val p = planNoAqe(graft.ops.Dedup.queries("c101_contamination_closure")(s, sf))
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.split('\n').count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter")) == 2, p)
  }

  test("c5/prepared: the shared similarity projection rebalances the " +
      "embeddings scan before the normalize/plane kernels (round-robin " +
      "exchange of raw rows only — the r12-opt single-task fix; the r13 " +
      "conditional keeps it because the fixture scan is one split)") {
    val p = planNoAqe(graft.ops.Dedup.queries("c5_dedup_embedding")(s, sf))
    assert(p.contains("RoundRobinPartitioning"), p)
    // the exchange carries the raw vector, never derived features: find
    // the numbered Exchange operator whose Arguments are the round-robin
    // and check ITS Input attribute list (the r12 form checked the
    // Arguments line itself, which never lists columns — vacuous)
    val lines = p.split('\n')
    val argIdx = lines.indexWhere(_.contains("RoundRobinPartitioning"))
    assert(argIdx > 0, p)
    // formatted explain prints "(n) Exchange" then "Input [k]: [cols]"
    // then "Arguments: RoundRobinPartitioning..."
    val input = lines.slice(argIdx - 2, argIdx).find(_.contains("Input"))
    assert(input.isDefined, p)
    assert(input.exists(l => l.contains("embedding") && !l.contains("nv#") &&
      !l.contains("bucket")), s"round-robin exchange must carry raw rows only: $input\n$p")
  }

  test("c38: in-cluster pair enumeration keys on (cent, lane-cell), not " +
      "cent alone — |centroids| is a fixed training constant, so a " +
      "cent-only join collapses to 16 reduce tasks at any corpus size; " +
      "the triangular lane cells parallelize it (r13)") {
    // lanes forced to 3 (the 32-core policy value) so the pin is
    // independent of the test JVM's core count
    val p = planNoAqe(graft.ops.Similarity
      .c38SemanticDedupWith(s, sf, 3))
    // the pair join's equi-keys are the three cell columns
    val keyLines = p.split('\n').filter(l =>
      l.contains("keys [3]") || (l.contains("Left keys") || l.contains("Right keys")))
    assert(keyLines.exists(l => l.contains("cent#") && l.contains("ca#") &&
      l.contains("cb#")), p)
    // lane derivation is deterministic (retried tasks must reproduce it)
    assert(p.contains("xxhash64"), p)
    // policy: 32 cores / 16 centroids → 3 lanes; 8 cores degenerates to
    // the plain cent join; lane count grows with the cluster
    assert(graft.ops.Similarity.c38Lanes(32, 16) == 3)
    assert(graft.ops.Similarity.c38Lanes(8, 16) == 1)
    assert(graft.ops.Similarity.c38Lanes(10000, 16) >
      graft.ops.Similarity.c38Lanes(32, 16))
  }

  test("serving: a Feature search is ONE pass that builds no JSON and " +
      "reads no props — the document is projected over the page only") {
    val ran = JobCount(s)(StacApi.searchFeaturesOn(Tables.items(s, sf),
      SearchParams(collections = Seq("click", "view"),
        sortBy = Seq(SortBy("datetime", desc = true)), limit = 10)))
    assert(ran.result._1.length == 10)
    assert(ran.jobs == 1, ran)
    val scans = ran.plans.filter(_.contains("ReadSchema"))
    assert(scans.size == 1, ran.plans.mkString("\n----\n"))
    val p = scans.head
    assert(!p.contains("to_json"), p)
    assert(!p.split('\n').exists(l => l.contains("ReadSchema") && l.contains("props")), p)
    assert(p.split('\n').exists(l => l.contains("ReadSchema") && l.contains("user_id")), p)
  }
}
