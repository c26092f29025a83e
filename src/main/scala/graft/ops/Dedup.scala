package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Staged, Tables}
import TextExprs._

/** C1-C5: deduplication operators (SURVEY.md §2.C).
  *
  * Scale discipline (SURVEY.md §5): every near-dup operator is
  * bucket-first — MinHash bands (C2), SimHash prefix bands (C3), so the
  * candidate join is O(collisions), never O(n²). C4 (exact Jaccard) is the
  * *verify* stage that at 100 TB runs only on C2's candidates; here it runs
  * standalone on shared-shingle candidates for an independent oracle. C5's
  * all-pairs form is the small-scale baseline whose scale path is C7's LSH.
  */
object Dedup {

  /** Ordered-pair expansion of a sorted id array `ds` — the shared
    * in-bucket candidate generator (c2/c4/c20): emits struct(d1, d2) for
    * every i < j pair, evaluated once per bucket inside the Generate.
    */
  private[ops] val pairExpansion: String =
    "flatten(transform(sequence(1, size(ds) - 1), i -> " +
      "transform(slice(ds, i + 1, size(ds) - i), y -> " +
      "struct(element_at(ds, i) AS d1, y AS d2))))"

  /** One row per gram occurrence. The array expression is INLINED into the
    * explode: Generate over a PROJECTED array column doesn't collapse the
    * intermediate Project, and the un-collapsed shape measured 12× slower
    * (4.2s vs 0.34s for the 260k-gram explode at sf0.1).
    */
  private def gramRows(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("w", expr(wordsSpark))
      .where(expr("size(w) >= 3"))
      .select(col("doc_id"), explode(expr(trigramsSpark)).as("gram"))

  private val gramsDuck: String =
    s"""SELECT doc_id, $trigramsDuck AS g
       |  FROM (SELECT doc_id, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= 3""".stripMargin

  // ------------------------------------------------------- C1 exact dedup
  /** Exact dedup: content-hash groupBy, keep-first (min doc_id). One
    * map-side-combined shuffle on the hash; no row comparison.
    */
  def c1DedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("h"))

  val c1Sql: String =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin

  // ------------------------------------------------- C2 MinHash + LSH
  /** 8 minhash lanes over trigram shingles; 4 bands × 2 lanes. Candidate
    * pairs = equi-join on (band, band-key): O(collisions).
    *
    * Lanes use Kirsch-Mitzenmacher double hashing — lane_j(s) = h1(s) +
    * j·(h2(s) mod 2⁵⁹) — so each shingle costs 2 md5s, not 8, with no
    * int64 overflow. The Spark side EXPLODES shingles to rows: md5/conv
    * are codegen'd scalar expressions there (a higher-order `transform`
    * lambda runs interpreted per element), and the per-lane `min` becomes
    * a partially-aggregated groupBy — the shape that scales (the shuffle
    * carries 8 longs per doc, not the shingle set).
    */
  private val nLanes = 8
  private val nBands = 4
  private val h2Mod = 576460752303423488L // 2^59

  def c2DedupMinhash(s: SparkSession, d: String): DataFrame =
    c2Pairs(s, d).orderBy(col("d1"), col("d2"))

  /** The distinct C2 candidate-pair set, unordered — shared by the C2
    * gate and C52's attribution matrix.
    */
  // memoized with the band index it expands (C2/C18/C98/C101 all read
  // it): at deployment the candidate-pair frame is a persisted artifact
  // right next to the bucket index
  private[ops] def c2Pairs(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.frame(s, s"c2pairs:$d")(
      pairsFromBands(c2Bands(s, d)))

  /** Per-document LSH band keys `(doc_id, band, bkey)` — C2's bucket
    * index as a frame. The whole signature comes from ONE codegen'd
    * projection ([[graft.functions.MinHashSig]]: one md5 per shingle,
    * h1/h2 = disjoint 15-hex-digit digest halves, per-lane running min)
    * — shingle rows never exist, so the former explode → per-lane-min
    * groupBy (and its shuffle) is gone; min is order-insensitive so the
    * kernel is value-identical (asserted in GraftFunctionsSpec). At
    * scale this frame IS the persisted near-dup bucket index (D18's
    * bucket-state table); C67 probes it with an increment.
    */
  private def c2Bands(s: SparkSession, d: String): DataFrame =
    // staged once per session (core.Memo): the persisted bucket index is
    // consumed by C2, C18, C47, C67 and C98's calibration; derives from
    // the staged signature frame so the MinHashSig kernel runs once per
    // session for the whole family
    graft.core.Memo.frame(s, s"c2bands:$d")(bandsOfSig(mhSig(s, d)))

  /** Band keys over a prebuilt (doc_id, mh) signature frame. */
  private def bandsOfSig(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until nBands).map { b =>
      expr(s"concat(CAST(element_at(mh, ${2 * b + 1}) AS STRING), '_', " +
        s"CAST(element_at(mh, ${2 * b + 2}) AS STRING))")
    }
    sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** The corpus MinHash signature frame (doc_id, mh[nLanes]) staged once
    * per session — the band index derives from it and C98's calibration
    * reads the raw lanes.
    */
  private[ops] def mhSig(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.frame(s, s"mhsig:$d")(
      Tables.documents(s, d)
        .where(expr(s"size($wordsSpark) >= 3"))
        .select(col("doc_id"),
          graft.functions.MinHashSig(col("text"), nLanes).as("mh")))

  /** Distinct unordered candidate pairs from a band-key frame: one pass,
    * no self-join — bucket members → in-bucket pair expansion. (A
    * bands⋈bands self-join would recompute the whole signature pipeline
    * for each side — Spark plans no ReusedExchange here.)
    */
  private[graft] def pairsFromBands(bands: DataFrame): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("bkey"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) >= 2)
    buckets.select(explode(expr(pairExpansion)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()
  }

  // ----------------------- C52 cross-source duplication attribution
  /** C52: WHERE the duplication comes from — the provenance matrix a
    * curation team reads before setting per-source policy (which crawls
    * mirror each other, which source self-duplicates): near-dup pair
    * counts by UNORDERED source pair — C2's MinHash pairs joined to each
    * side's source, least/greatest normalization so (a,b) ≡ (b,a), the
    * diagonal counting within-source duplication. Scale shape: the pair
    * frame ≪ corpus (near-dup pairs only), the doc→source map rides two
    * equi-joins, and the matrix aggregate is \|sources²\| at most —
    * constant-size output regardless of corpus size. The oracle
    * restates the chain from the SAME c2pairs CTE the C2 gate uses, so
    * the attribution can't drift from the gated pair set.
    */
  def c52DupAttribution(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    c2Pairs(s, d)
      .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
      .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val c52Sql: String =
    s"""WITH $c2PairsCtes
       |SELECT least(a.source, b.source) AS src_a,
       |  greatest(a.source, b.source) AS src_b, COUNT(*) AS n_pairs
       |FROM c2pairs p
       |JOIN documents a ON p.d1 = a.doc_id
       |JOIN documents b ON p.d2 = b.doc_id
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  val c2Sql: String = {
    val lanes = (0 until nLanes)
      .map(j => s"min(h1 + $j * h2) AS m$j").mkString(", ")
    val bandCase = (0 until nBands)
      .map(b => s"WHEN b = $b THEN CAST(m${2 * b} AS VARCHAR)||'_'||CAST(m${2 * b + 1} AS VARCHAR)")
      .mkString(" ")
    s"""WITH ${c2PairsCtes}
       |SELECT d1, d2 FROM c2pairs ORDER BY d1, d2""".stripMargin
  }

  /** C2's pipeline as an embeddable CTE chain ending in `c2pairs(d1, d2)`
    * — shared by the c2 gate and C18's clustering oracle.
    */
  private[ops] lazy val c2PairsCtes: String = {
    val lanes = (0 until nLanes)
      .map(j => s"min(h1 + $j * h2) AS m$j").mkString(", ")
    val bandCase = (0 until nBands)
      .map(b => s"WHEN b = $b THEN CAST(m${2 * b} AS VARCHAR)||'_'||CAST(m${2 * b + 1} AS VARCHAR)")
      .mkString(" ")
    s"""g AS ($gramsDuck),
       |sh AS (SELECT doc_id, ('0x'||substr(hex,1,15))::BIGINT AS h1,
       |         ('0x'||substr(hex,17,15))::BIGINT % $h2Mod AS h2
       |       FROM (SELECT doc_id, md5('mh:'||s) AS hex
       |             FROM (SELECT doc_id, unnest(g) AS s FROM g))),
       |sig AS (SELECT doc_id, $lanes FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id, b, CASE $bandCase END AS bkey
       |  FROM sig, range($nBands) t(b)),
       |c2pairs AS (
       |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
  }

  // ------------------------------------------------------- C3 SimHash
  /** 32-bit SimHash over word hashes; near-dup pairs at hamming ≤ 3 via
    * 4 disjoint 8-bit prefix bands (pigeonhole: ≤3 differing bits leave at
    * least one band identical — the banded candidate set provably covers
    * the naive O(n²) oracle join).
    */
  private val simBits = 32
  private val hamMax = 3

  private def simhashDuck: String = {
    val terms = (0 until simBits).map { k =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $k) & 1) * 2 - 1)) > 0 " +
        s"THEN ${1L << k} ELSE 0 END)"
    }
    terms.mkString("(", " + ", ")")
  }

  /** Spark side: the whole signature comes from ONE codegen'd projection
    * ([[graft.functions.SimHashSig]] — word hashes, ±1 bit votes, and
    * assembly in a single per-row pass), so word rows never shuffle and
    * the only exchange left is the tiny per-band bucket aggregation.
    * Integer math throughout — equal to the oracle's list-fold form (and
    * to the former explode → 32-column groupBy pipeline, asserted in
    * GraftFunctionsSpec) by exactness; vote addition is commutative so
    * accumulation order is irrelevant.
    */
  def c3DedupSimhash(s: SparkSession, d: String): DataFrame = {
    // rebalanced: the SimHash token kernel otherwise runs at the
    // 1-partition scan width (measured: a 0.7-1.0 s ×1-task scan stage)
    val sim = Tables.documentsRebalanced(s, d)
      .select(col("doc_id"),
        graft.functions.SimHashSig(col("text"), "sh:", simBits).as("sh"))
    val bandKeys = (0 until 4).map(b => expr(s"shiftright(sh, ${8 * b}) & 255"))
    val bands = sim.select(col("doc_id"), col("sh"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    // same one-pass bucket-expansion shape as C2 (no self-join recompute)
    val buckets = bands.groupBy(col("band"), col("bkey"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sh")))).as("ds"))
      .where(size(col("ds")) >= 2)
    buckets.select(explode(expr(
        "flatten(transform(sequence(1, size(ds) - 1), i -> " +
          "transform(slice(ds, i + 1, size(ds) - i), y -> " +
          "struct(element_at(ds, i).doc_id AS d1, y.doc_id AS d2, " +
          "bit_count(element_at(ds, i).sh ^ y.sh) AS hamming))))")).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.hamming").as("hamming"))
      .where(col("hamming") <= hamMax)
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  val c3Sql: String =
    s"""WITH sim AS (
       |  SELECT doc_id, $simhashDuck AS sh
       |  FROM (SELECT doc_id,
       |          list_transform(w, x -> ${h64Duck("'sh:'||x")}) AS hs
       |        FROM (SELECT doc_id, $wordsDuck AS w FROM documents)))
       |SELECT x.doc_id AS d1, y.doc_id AS d2,
       |  CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS hamming
       |FROM sim x JOIN sim y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh, y.sh)) <= $hamMax
       |ORDER BY d1, d2""".stripMargin

  // ----------------------------------------------- C4 n-gram Jaccard
  /** Exact Jaccard ≥ 0.6 on distinct trigram sets, fully relational:
    * explode → shared-gram equi-join → count intersections → sizes.
    * At 100 TB this runs on C2's candidates; standalone here for an
    * independent oracle.
    *
    * HOT-GRAM CAP: a gram appearing in > [[dfCap]] documents is a
    * stop-gram — it expands O(df²) candidate pairs while carrying almost
    * no set-similarity signal. Both engines drop capped grams from the
    * GRAM SETS themselves (postings AND sizes), so Jaccard stays
    * internally consistent (J over the filtered sets). The cap (64) is
    * far above every df in the fixtures (max 25 at sf0.1) — the gates
    * prove Spark ≡ DuckDB under identical cap semantics while the valve
    * bounds worst-case expansion at scale.
    */
  private val jacMin = 0.6
  private val dfCap = 64

  /** The capped posting lists over a documents frame — shared by C4
    * (Jaccard) and C56 (containment): one row per gram hash with the
    * sorted doc ids carrying it, hot grams (> [[dfCap]] docs) dropped.
    */
  private def cappedPostings(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("w", expr(wordsSpark))
      .where(expr("size(w) >= 3"))
      .select(col("doc_id"), explode(expr(s"array_distinct($trigramsSpark)")).as("gram"))
      .select(col("doc_id"), expr(h64Spark("concat('jg:', gram)")).as("gh"))
      .groupBy(col("gh"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= dfCap)

  /** The corpus postings, staged once per session (core.Memo) — C4 and
    * C56 read the same table.
    */
  private def corpusPostings(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.frame(s, s"postings:$d")(
      cappedPostings(Tables.documents(s, d)))

  def c4DedupJaccard(s: SparkSession, d: String): DataFrame = {
    // posting list per gram (singletons kept — they feed the set sizes)
    // → df cap → in-bucket pair expansion → count = |A∩B|; sizes come
    // from the SAME capped postings (one corpus pass total), broadcast
    // into the final join.
    // shuffle 60-bit gram hashes, not strings (hash collisions would be
    // identical in the oracle, which buckets by the same md5 lanes)
    val posting = corpusPostings(s, d)
    val inter = posting.where(size(col("ds")) >= 2)
      .select(explode(expr(pairExpansion)).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("inter"))
    // checkpointed (|docs| rows): the two aliased broadcasts below do not
    // canonicalize to one exchange, so without it the explode+count over
    // the postings runs twice
    val sizes = posting.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    inter
      .join(broadcast(sizes.alias("sa")), col("d1") === col("sa.doc_id"))
      .join(broadcast(sizes.alias("sb")), col("d2") === col("sb.doc_id"))
      .select(col("d1"), col("d2"),
        expr("CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)").as("jac"))
      .where(col("jac") >= jacMin)
      .orderBy(col("d1"), col("d2"))
  }

  val c4Sql: String =
    s"""WITH g AS ($gramsDuck),
       |gr0 AS (SELECT doc_id, ${h64Duck("'jg:'||gram")} AS gh
       |        FROM (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM g)),
       |hot AS (SELECT gh FROM gr0 GROUP BY gh HAVING COUNT(*) > $dfCap),
       |gr AS (SELECT * FROM gr0 WHERE gh NOT IN (SELECT gh FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM gr GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS inter
       |  FROM gr x JOIN gr y ON x.gh = y.gh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, jac FROM (
       |  SELECT d1, d2,
       |    CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jac
       |  FROM inter
       |  JOIN sz sa ON d1 = sa.doc_id
       |  JOIN sz sb ON d2 = sb.doc_id)
       |WHERE jac >= $jacMin
       |ORDER BY d1, d2""".stripMargin

  // ----------------------------------- C56 asymmetric containment
  /** C56: DIRECTIONAL shingle containment (Broder's containment
    * coefficient, C(A,B) = |S(A)∩S(B)| / |S(A)|) — the asymmetric
    * companion to C4's Jaccard: a short document quoted or embedded
    * inside a long one has high containment but LOW Jaccard (the union
    * is dominated by the long side), so symmetric near-dup thresholds
    * miss exactly the quote/superset duplication that inflates a
    * training corpus. Emits both directions of every candidate pair with
    * containment ≥ 0.8 of the source side, plus the pair's Jaccard in
    * the same integer basis points for triage.
    *
    * Same scale chain as C4 (shared [[cappedPostings]]): hot-gram cap
    * bounds the candidate join at O(df²·capped), intersection counts
    * come from the in-bucket pair expansion, sizes broadcast. Integer
    * `bp = x·10000 DIV y` keeps both engines bit-identical — no double
    * division. DedupQualitySpec pins the asymmetric semantics on a
    * constructed quote-inside-document corpus (containment fires where
    * Jaccard stays below the near-dup bar).
    */
  private val contMinBp = 8000L

  def c56Containment(s: SparkSession, d: String): DataFrame =
    c56ContainmentOver(corpusPostings(s, d))

  /** Test hook: postings over a constructed (doc_id, text) frame. */
  private[graft] def cappedPostingsForTest(docsDf: DataFrame): DataFrame =
    cappedPostings(docsDf)

  /** The chain over prebuilt postings — the spec drives it with a
    * constructed corpus.
    */
  private[graft] def c56ContainmentOver(posting: DataFrame): DataFrame = {
    val inter = posting.where(size(col("ds")) >= 2)
      .select(explode(expr(pairExpansion)).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("inter"))
    // checkpointed (|docs| rows): the sa/sb broadcasts otherwise rebuild
    // the explode+count over the postings twice (c4's fix, same shape)
    val sizes = posting.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    // staged once: the fwd and rev projections both consume `sided`, and
    // the union's two branches do NOT canonicalize to a reused exchange —
    // without the checkpoint the pair expansion + count aggregate and
    // both size broadcasts run twice (plan-verified: no ReusedExchange)
    val sided = inter
      .join(broadcast(sizes.alias("sa")), col("d1") === col("sa.doc_id"))
      .join(broadcast(sizes.alias("sb")), col("d2") === col("sb.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        col("sa.sz").as("sz1"), col("sb.sz").as("sz2"))
      .localCheckpoint(true)
    val fwd = sided.select(col("d1").as("src"), col("d2").as("dst"),
      expr("inter * 10000 DIV sz1").as("cont_bp"),
      expr("inter * 10000 DIV (sz1 + sz2 - inter)").as("jac_bp"))
    val rev = sided.select(col("d2").as("src"), col("d1").as("dst"),
      expr("inter * 10000 DIV sz2").as("cont_bp"),
      expr("inter * 10000 DIV (sz1 + sz2 - inter)").as("jac_bp"))
    fwd.unionAll(rev)
      .where(col("cont_bp") >= contMinBp)
      .orderBy(col("src"), col("dst"))
  }

  val c56Sql: String =
    s"""WITH g AS ($gramsDuck),
       |gr0 AS (SELECT doc_id, ${h64Duck("'jg:'||gram")} AS gh
       |        FROM (SELECT doc_id, unnest(list_distinct(g)) AS gram FROM g)),
       |hot AS (SELECT gh FROM gr0 GROUP BY gh HAVING COUNT(*) > $dfCap),
       |gr AS (SELECT * FROM gr0 WHERE gh NOT IN (SELECT gh FROM hot)),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM gr GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS inter
       |  FROM gr x JOIN gr y ON x.gh = y.gh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |sided AS (
       |  SELECT d1, d2, inter, sa.sz AS sz1, sb.sz AS sz2
       |  FROM inter JOIN sz sa ON d1 = sa.doc_id JOIN sz sb ON d2 = sb.doc_id),
       |dir AS (
       |  SELECT d1 AS src, d2 AS dst, inter * 10000 // sz1 AS cont_bp,
       |         inter * 10000 // (sz1 + sz2 - inter) AS jac_bp FROM sided
       |  UNION ALL
       |  SELECT d2, d1, inter * 10000 // sz2,
       |         inter * 10000 // (sz1 + sz2 - inter) FROM sided)
       |SELECT src, dst, cont_bp, jac_bp FROM dir
       |WHERE cont_bp >= $contMinBp
       |ORDER BY src, dst""".stripMargin

  // ----------------------------------- C5 embedding cosine near-dup
  /** Cosine ≥ 0.45 threshold self-join over embeddings. Vectors normalize
    * ONCE below the join; per-pair work is a single codegen'd dot product
    * ([[graft.functions.DotProduct]]) whose ascending-index accumulation is
    * bit-identical to the oracle's sequential `list_reduce`. The all-pairs
    * join is the correctness baseline; the scale path is C7's LSH
    * bucketing.
    */
  private[graft] val cosMin = 0.45

  def c5DedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = Similarity.prepared(s, d).select(col("vec_id"), col("nv"))
    e.alias("x").join(e.alias("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"),
        graft.functions.DotProduct(col("x.nv"), col("y.nv")).as("cos_sim"))
      .where(col("cos_sim") >= cosMin)
      .orderBy(col("v1"), col("v2"))
  }

  val c5Sql: String =
    s"""WITH ${Similarity.preparedDuck}
       |SELECT v1, v2, cos_sim FROM (
       |  SELECT x.vec_id AS v1, y.vec_id AS v2,
       |    ${Similarity.nvDotDuck("x.nv", "y.nv")} AS cos_sim
       |  FROM prep x JOIN prep y ON x.vec_id < y.vec_id)
       |WHERE cos_sim >= $cosMin
       |ORDER BY v1, v2""".stripMargin

  // -------------------------- C20 bucketed embedding near-dup (scale path)
  /** C5's scale path: NO cartesian join. Candidates come from 22
    * independent random-hyperplane LSH tables (3 planes each — an
    * OR-of-ANDs construction); cosine is verified only on in-bucket
    * pairs. Gated A24-style: the oracle is the ALL-PAIRS form, so result
    * equality proves the table union covers every qualifying pair on this
    * data (checked at sf0.001, sf0.01 AND sf0.1 — the round-8 pinned 12
    * tables targeted 97.5% design recall and measured 141/144 at sf0.1;
    * 22 tables = the 99.9% design point from [[c20TablesFor]], and table
    * coverage is monotone in b since the families are independent. The
    * gate threshold 0.45 is a ~63° angle, the hard regime for sign LSH;
    * at real near-dup thresholds (≥0.8) fewer tables give full recall at
    * a fraction of the candidates. At 100 TB the (table, bucket) key is
    * the shuffle key and candidate count is O(Σ bucket²), never O(n²).
    * Regime note (docs/PERF.md): the b-table OR-construction ships
    * each vector b times — the right trade for the NEAR-EXACT regime
    * (designCos ≥ 0.95, b ≈ 20); as the design threshold drops, b
    * explodes (0.8 → b≈80 at policy plane counts) and the sub-0.8
    * semantic regime belongs to C38's IVF-bucketed dedup, where the
    * bucket set is trained centroids and each vector ships once.)
    */
  private[graft] val c20Tables = 22
  private[graft] val c20Planes = 3

  /** Plane count policy at scale: buckets per table should track corpus
    * size so candidate volume stays O(n · bucket-size) — planes ≈
    * log₂(n / targetBucket) with targetBucket ~64 keeps ~64 vectors per
    * bucket at any n (n=10⁹ → 24 planes). The GATE pins (3, 12) because
    * at the fixtures' n=500 that configuration provably covers every
    * qualifying pair (the all-pairs oracle is the proof).
    */
  def c20PlanesFor(n: Long, targetBucket: Int = 64): Int =
    math.max(3, (math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).round.toInt)

  /** Table-count policy — the other half of the scale story. Planes come
    * from [[c20PlanesFor]] (bucket occupancy); the number of
    * OR-construction tables must then GROW with them to hold recall,
    * because each added plane cuts a pair's per-table collision odds. A
    * pair at cosine c collides under one random hyperplane with
    * probability 1 - acos(c)/π, so one table of k planes catches it with
    * p = (1 - acos(c)/π)^k and b tables reach recall 1 - (1-p)^b ⇒
    * b = ⌈ln(1-recall) / ln(1-p)⌉. At the gate's design point
    * (c = cosMin = 0.45, k = 3, recall 0.999) this reproduces the pinned
    * 22 tables exactly (the round-8 12-table config was the 0.975
    * design point and measured 141/144 at sf0.1 — short of the exact
    * all-pairs oracle); the measured recall-vs-b curve is in
    * SimilaritySpec. Growth is steep at this hard ~63° threshold — the
    * honest cost of the OR-construction; at realistic near-dup
    * thresholds (c ≥ 0.8) b stays modest, and C13's multi-probe is the
    * lever when b gets expensive.
    */
  def c20TablesFor(planes: Int, designCos: Double = cosMin,
                   targetRecall: Double = 0.999): Int = {
    val pPlane = 1.0 - math.acos(designCos) / math.Pi
    val pTable = math.pow(pPlane, planes.toDouble)
    math.max(1, math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable)).toInt)
  }

  /** Fully adaptive form: both knobs derived from the corpus size. */
  def c20DedupEmbeddingLshAdaptive(s: SparkSession, d: String, n: Long): DataFrame = {
    val planes = c20PlanesFor(n)
    c20DedupEmbeddingLsh(s, d, c20TablesFor(planes), planes)
  }

  private[graft] def c20Plane(t: Int, j: Int): Array[Double] =
    Array.tabulate(64)(i => ((TextExprs.h64Local(s"tb${t}_$j:$i") % 2001L) - 1000L) / 1000.0)

  def c20DedupEmbeddingLsh(s: SparkSession, d: String): DataFrame =
    c20DedupEmbeddingLsh(s, d, c20Tables, c20Planes)

  /** Parameterized form: `tables` OR-construction tables of `planes`
    * sign-bits each.
    */
  def c20DedupEmbeddingLsh(s: SparkSession, d: String,
                           nTables: Int, nPlanes: Int): DataFrame =
    c20Over(Similarity.prepared(s, d).select(col("vec_id"), col("nv")),
      nTables, nPlanes, cosMin)

  /** The occupied LSH buckets of a normalized (vec_id, nv) frame — the
    * kernel's only shuffle.
    */
  private def c20Buckets(e: DataFrame,
                         nTables: Int, nPlanes: Int): DataFrame = {
    // all table keys from ONE codegen'd expression over the flattened
    // plane matrix — the inline per-table expression form broke janino's
    // method-size limits once the scale policy picked dozens of tables
    val planes = Array.tabulate(nTables, nPlanes)(c20Plane).flatten.flatten
    e.select(col("vec_id"), col("nv"),
        posexplode(graft.functions.LshTableKeys(col("nv"), planes,
          nTables, nPlanes, 64)).as(Seq("tb", "bkey")))
      .groupBy(col("tb"), col("bkey"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("nv")))).as("vs"))
      .where(size(col("vs")) >= 2)
  }

  /** Distributed-LSH verify over any normalized (vec_id, nv) frame: each
    * vector ships to its (table, bucket) WITH its normalized vector, and
    * the bucket generates + verifies its own pairs inside one codegen'd
    * projection (CosinePairs) — no candidate-stream join, no pre-verify
    * distinct. The former pair-expand → nv-lookup-join form materialized
    * the multi-million duplicated candidate stream as a join input
    * (mis-planned broadcast side) and shuffled it again to dedup; here
    * the only large movement is the bucket shuffle itself, and only
    * qualifying pairs leave the bucket. Cross-table collisions dedup on
    * the tiny survivor set.
    */
  /** Per-cell member cap for the skew valve below. The planes policy
    * keeps EXPECTED bucket occupancy ~64, but a degenerate key (a run of
    * identical vectors, a constant embedding column) concentrates one
    * bucket arbitrarily — and a C(m,2) loop inside one CosinePairs call
    * is one task no AQE can split. Fixture buckets sit far below this.
    */
  private[graft] val c20MaxBucket = 4096

  private[graft] def c20Over(e: DataFrame, nTables: Int, nPlanes: Int,
                             minCos: Double): DataFrame =
    c20Over(e, nTables, nPlanes, minCos, c20MaxBucket)

  /** Skew-valved verify: buckets within `maxBucket` verify whole (one
    * CosinePairs call); an oversized bucket is decomposed into a
    * TRIANGULAR GRID of contiguous vec_id-sorted slices — g = ⌈m/cap⌉
    * groups, every a ≤ b cell its own row: same-slice cells verify via
    * CosinePairs, cross-slice cells via CosineCrossPairs (slices are
    * ordered, so v1 < v2 holds structurally in both). The pair SET is
    * identical to the unsplit bucket (spec-pinned on a constructed
    * degenerate corpus); the work becomes O(cap²)-bounded rows the
    * scheduler spreads instead of one C(m,2) task.
    */
  private[graft] def c20Over(e: DataFrame, nTables: Int, nPlanes: Int,
                             minCos: Double, maxBucket: Int): DataFrame = {
    val buckets = c20Buckets(e, nTables, nPlanes)
    val small = buckets.where(size(col("vs")) <= maxBucket)
      .select(explode(graft.functions.CosinePairs(col("vs"), minCos)).as("p"))
    val cells = buckets.where(size(col("vs")) > maxBucket)
      .withColumn("g", expr(s"CAST(ceil(size(vs) / $maxBucket.0D) AS INT)"))
      .select(col("vs"), col("g"), explode(expr(
        "flatten(transform(sequence(0, g - 1), a -> " +
          "transform(sequence(a, g - 1), b -> struct(a AS a, b AS b))))")).as("c"))
      // slice is 1-based; ceil-spread the members across the g groups
      .select(col("vs"), col("g"), col("c.a").as("a"), col("c.b").as("b"),
        expr(s"slice(vs, c.a * $maxBucket + 1, $maxBucket)").as("va"),
        expr(s"slice(vs, c.b * $maxBucket + 1, $maxBucket)").as("vb"))
    val big = cells.select(explode(when(col("a") === col("b"),
        graft.functions.CosinePairs(col("va"), minCos))
      .otherwise(graft.functions.CosineCrossPairs(col("va"), col("vb"), minCos)))
      .as("p"))
    small.unionAll(big)
      .select(col("p.v1"), col("p.v2"), col("p.cos_sim"))
      .distinct()
      .orderBy(col("v1"), col("v2"))
  }

  /** Oracle = the all-pairs threshold join (C5's form): equality proves
    * the LSH cover.
    */
  val c20Sql: String = c5Sql

  // ------------------------------- C24 duplicated-passage detection
  /** Duplicate-PASSAGE detection (the substring-dedup primitive of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): an 8-word shingle occurring in ≥2 documents marks a
    * copied passage; per doc we report how many shingles and how many
    * token positions lie inside such passages (the mask a trainer would
    * cut). Shapes: positional shingle explode → hash df → flagged
    * occurrences → span-union via position explode + distinct — all
    * partial-agg'd equi-joins on the shingle hash, O(occurrences), no
    * pairwise comparisons at any point.
    */
  private val passageLen = 8

  /** The positional 8-gram shingle stream (doc_id, pos, gh), materialized
    * once — several consumers (df count, flagged join, per-doc totals)
    * read it (at scale: a staged shingle table). Shared by C24 and C40.
    */
  private def p8Grams(s: SparkSession, d: String): DataFrame =
    // the shingle hashes come from ONE codegen'd call per document
    // (graft.functions.WordShingleHashes) — the equivalent
    // transform-lambda form pays an interpreted md5 expression tree per
    // shingle and was 2.6× the oracle at sf0.1 (parity asserted in
    // GraftFunctionsSpec; the oracle still computes the HOF form).
    // core.Memo: one build per session — C24, C40 and C70's distinct
    // projection all read the same staged shingle table.
    graft.core.Memo.frame(s, s"p8grams:$d")(
      Tables.documentsRebalanced(s, d) // kernel off the 1-partition scan
        .where(expr(s"size($wordsSpark) >= $passageLen"))
        .select(col("doc_id"), posexplode(
          graft.functions.WordShingleHashes(col("text"), passageLen, "p8:"))
          .as(Seq("pos", "gh"))))

  /** Occurrences of shingles seen in ≥2 documents (the copied passages).
    * "≥2 distinct docs" is exactly `min(doc_id) ≠ max(doc_id)` — a
    * single-phase map-combinable aggregate, where countDistinct plans a
    * two-exchange distinct expansion (r12).
    */
  private def p8Flagged(g8: DataFrame): DataFrame = {
    val dupHashes = g8.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .where(col("d0") =!= col("d1")).select(col("gh"))
    g8.join(dupHashes, "gh")
  }

  def c24DupPassages(s: SparkSession, d: String): DataFrame = {
    val g8 = p8Grams(s, d)
    val flagged = p8Flagged(g8)
    val totals = g8.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // ONE per-doc aggregation (r12; was two, plus an 8× token explode
    // and a corpus-sized DISTINCT): the flagged gram POSITIONS per doc
    // are unique and bounded by doc length, so the covered-token count
    // is an in-row interval-union fold over the sorted starts —
    // overlapping length-8 windows contribute min(8, gap) each
    val dupStats = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_grams"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), col("n_dup_grams"),
        expr(s"aggregate(ps, struct(CAST(-$passageLen AS INT) AS prev, " +
          "CAST(0 AS BIGINT) AS tot), (a, p) -> struct(p AS prev, " +
          s"a.tot + least($passageLen, p - a.prev) AS tot), a -> a.tot)")
          .as("dup_tokens"))
    // both sides are doc_id aggregations — the join inherits their hash
    // partitioning, no further exchange
    totals
      .join(dupStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .orderBy(col("doc_id"))
  }

  val c24Sql: String = {
    val gram8 = (1 until passageLen)
      .foldLeft("w[i]") { case (acc, k) => s"$acc||' '||w[i + $k]" }
    s"""WITH base AS (
       |  SELECT doc_id, w FROM (SELECT doc_id, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= $passageLen),
       |g8 AS (
       |  SELECT doc_id, i - 1 AS pos, ${h64Duck(s"'p8:'||($gram8)")} AS gh
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${passageLen - 2})) AS i FROM base)),
       |dup AS (SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM g8 GROUP BY gh)
       |        WHERE nd >= 2),
       |flagged AS (SELECT g8.* FROM g8 JOIN dup USING (gh)),
       |totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM g8 GROUP BY doc_id),
       |dg AS (SELECT doc_id, COUNT(*) AS n_dup_grams FROM flagged GROUP BY doc_id),
       |dt AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM (
       |  SELECT DISTINCT doc_id, tp FROM (
       |    SELECT doc_id, unnest(range(pos, pos + $passageLen)) AS tp FROM flagged))
       |  GROUP BY doc_id)
       |SELECT totals.doc_id AS doc_id, n_grams,
       |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
       |  COALESCE(dup_tokens, 0) AS dup_tokens
       |FROM totals
       |LEFT JOIN dg ON totals.doc_id = dg.doc_id
       |LEFT JOIN dt ON totals.doc_id = dt.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- C18 duplicate clusters (CC)
  /** Connected components over the C2 candidate graph — the correct
    * canonicalization when duplicates chain (A≈B≈C must collapse to ONE
    * representative). Iterative min-label propagation run to FIXPOINT
    * (driver loop, one join per round, O(diameter) rounds — the standard
    * Spark CC shape). Oracle: recursive-CTE transitive closure + min over
    * reachable set — the exact fixpoint, so bounded-iteration bugs can't
    * hide.
    */
  /** The cluster frame is a shared intermediate — C18's own gate plus
    * C36/C57/C61/C64 all consume it, and a production pipeline computes
    * the components ONCE per corpus snapshot, not once per consumer.
    * Two layers, both keyed by the input dir (= the corpus snapshot):
    *
    *  1. an ON-DISK state table (tiny: graph members only) written the
    *     first time any consumer asks — the same idempotence pattern as
    *     the bucketed/partitioned layout materializers, and the
    *     cross-SESSION half of the story: tomorrow's run reads the
    *     table instead of re-running the CC rounds (a new snapshot gets
    *     a new dir → a new table; C47's staleness contract);
    *  2. a session-local memo of the read-back frame so repeated
    *     consumers in one session don't re-open the files.
    */
  private[graft] def c18StatePath(d: String): String =
    Staged.path("clusters", c18StateVersion, d, "documents")
  private final val c18StateVersion = 1

  // session-local memo via core.Memo: a map keyed on the DIR alone would
  // (a) hand a new session a frame whose checkpoint blocks died with the
  // old one, and (b) lose the frame to the bench's between-gate
  // block-store sweep, which keeps only blocks that memo frames hold
  def c18DupClusters(s: SparkSession, d: String): DataFrame =
    graft.core.Memo.frame(s, s"c18clusters:$d") {
      val p = Staged("clusters", c18StateVersion, d, "documents")(
        c18DupClustersCompute(s, d).write.parquet(_))
      s.read.parquet(p).orderBy(col("doc_id"))
    }

  private def c18DupClustersCompute(s: SparkSession, d: String): DataFrame = {
    val pairs = c2DedupMinhash(s, d).select(col("d1"), col("d2"))
    ccMinLabel(pairs.union(pairs.select(col("d2"), col("d1"))))
      .select(col("node").as("doc_id"), col("lab").as("cluster"))
      .orderBy(col("doc_id"))
  }

  /** Min-label connected components over a SYMMETRIC edge list (both
    * directions present) — the shared CC kernel of C18 (whole corpus)
    * and C67 (touched subgraph only). Returns `(node, lab)` with lab =
    * the component's minimum node id (the stable cluster label every
    * consumer keys on). Hop + pointer-doubling: label distances halve
    * each round, so convergence is O(log diameter) rounds instead of
    * O(diameter) (the chainy-corpus risk the round-2 verdict flagged).
    */
  /** Edge-count ceiling for the driver union-find fast path. C27's
    * measured-size doctrine applied to graph state: the dup-pair graph
    * is SPARSE by construction (LSH collisions, not |corpus|²), so the
    * edge list is usually orders of magnitude smaller than the corpus —
    * below this ceiling a single collect + union-find replaces
    * O(log diameter) rounds × 3 shuffles × (plan + checkpoint + count)
    * of driver-loop latency (measured: c67's merge 6.1 s → 3.2 s at
    * sf0.1). Above it — a 100 TB corpus's full history graph — the
    * distributed hop + pointer-doubling loop is the path that survives.
    */
  private val ccDriverMaxEdges = 2000000L

  private def ccMinLabel(edgesIn: DataFrame): DataFrame = {
    // localCheckpoint (not persist): each round's plan must start from the
    // materialized result, or the nested lineage of N rounds blows up the
    // planner (OOM at sf0.1 with ~10 rounds)
    val edges = edgesIn.toDF("src", "dst").localCheckpoint(true)
    // one probe job decides the path AND feeds the driver fast path: a
    // capped collect either returns the WHOLE edge list (≤ cap → those
    // rows ARE the union-find input, no second collect, no count job) or
    // proves the graph is loop-sized
    val probe = edges.limit((ccDriverMaxEdges + 1).toInt).collect()
    if (probe.length <= ccDriverMaxEdges) ccMinLabelDriverOn(probe, edges)
    else {
      val n = edges.count()
      // Size the loop's shuffle width to the GRAPH, not the session: the
      // per-round joins run over the (usually small) edge frame, and a
      // 32-way exchange over a few-MB frame is pure task-launch overhead
      // × 3 shuffles × rounds. AQE would coalesce these at runtime; the
      // bench runs AQE-off, so the loop sizes itself (restored after).
      val s = edges.sparkSession
      val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
      val width = math.max(1L, math.min(prevShuffle.toLong, n / 200000L + 1L))
      s.conf.set("spark.sql.shuffle.partitions", width.toString)
      try ccMinLabelLoop(edges)
      finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  /** Union-find with path compression over a collected edge list —
    * union-by-min keeps every root the component's minimum node id, so
    * after full compression `find(node)` IS the min label the
    * distributed loop converges to (same output, one Spark job).
    */
  private[graft] def ccMinLabelDriver(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    ccUnionFind(es, edges)
  }

  /** Driver path over already-collected edge rows (the ccMinLabel probe —
    * saves the second collect and the count job of the two-step form).
    */
  private def ccMinLabelDriverOn(rows: Array[org.apache.spark.sql.Row],
                                 edges: DataFrame): DataFrame =
    ccUnionFind(rows.map(r => (r.getLong(0), r.getLong(1))), edges)

  private def ccUnionFind(es: Array[(Long, Long)],
                          edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) x = parent(x)
      var y = x0 // compress the walked path
      while (parent.getOrElse(y, y) != y) { val nxt = parent(y); parent(y) = x; y = nxt }
      x
    }
    es.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keysIterator.map(nd => (nd, find(nd))).toIndexedSeq
    edges.unpersist()
    out.toDF("node", "lab")
  }

  private[graft] def ccMinLabelLoop(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      // hop: pull the min label across one edge
      val prop = edges.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("lab")).as("cand"))
      val hopped = labels.join(prop, col("node") === col("dst"), "left")
        .select(col("node"), col("lab").as("old_lab"),
          least(col("lab"), coalesce(col("cand"), col("lab"))).as("lab1"))
      // pointer-doubling shortcut: follow the label's own label
      val l2 = hopped.select(col("node").as("pnode"), col("lab1").as("plab"))
      // keep old AND new label through the checkpoint: the changed-count
      // then reads the materialized rows instead of re-running the joins
      val step = hopped.join(l2, hopped("lab1") === l2("pnode"), "left")
        .select(hopped("node"), hopped("old_lab"),
          least(hopped("lab1"), coalesce(l2("plab"), hopped("lab1"))).as("lab"))
        .localCheckpoint(true)
      changed = step.where(col("lab") < col("old_lab")).count()
      rounds += 1
      labels = step.select(col("node"), col("lab"))
    }
    System.err.println(s"[cc] connected components converged in $rounds rounds")
    edges.unpersist()
    labels
  }

  val c18Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, min(dst) AS cluster
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  // ------------------------------- C57 leakage-free train/test split
  /** C57: near-dup-aware TRAIN/TEST SPLIT — the assignment step that a
    * plain hash-of-doc split gets wrong: two near-duplicate documents
    * hashed independently can land on opposite sides, leaking training
    * text into the eval set. Here the split decision hashes the
    * DUPLICATE CLUSTER (C18's connected components; singletons are
    * their own cluster, C36's coalesce pattern), so every member of a
    * dup cluster lands on the same side by construction — 90/10
    * train/test from the same md5-lane integers every other sampling
    * decision uses (engine-reproducible, restart-stable).
    *
    * Scale: the cluster frame holds only graph members (≪ corpus); one
    * left join on doc_id, then a scalar projection — no extra shuffle
    * beyond the join. The oracle recomputes the clusters with DuckDB's
    * recursive CTE (the C18 oracle chain) and applies the same hash —
    * two clustering algorithms, one assignment.
    */
  def c57LeakFreeSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(c18DupClusters(s, d), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .withColumn("split",
        when(expr(s"${h64Spark("concat('split:', CAST(cluster AS STRING))")} % 100 < 90"),
          lit("train")).otherwise(lit("test")))
      .orderBy(col("doc_id"))

  val c57Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cl AS (SELECT src AS doc_id, min(dst) AS cluster
       |       FROM reach GROUP BY src)
       |SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster,
       |  CASE WHEN ${h64Duck("'split:'||CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR)")} % 100 < 90
       |       THEN 'train' ELSE 'test' END AS split
       |FROM documents d LEFT JOIN cl USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ------------------------------- C64 cluster-size distribution
  /** C64: dup-cluster SIZE DISTRIBUTION — the dedup-health histogram (a
    * corpus whose mass sits in large clusters is a crawl problem, not a
    * dedup problem): documents per cluster size, singletons included
    * (C36's coalesce — docs outside the near-dup graph are their own
    * cluster of 1). Rides the memoized C18 frame; two tiny aggregates
    * (cluster sizes, then the size histogram) after one left join —
    * the histogram is \|distinct sizes\| rows regardless of corpus.
    */
  def c64ClusterStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .join(c18DupClusters(s, d), Seq("doc_id"), "left")
      .select(coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"))
      .orderBy(col("cluster_size"))

  val c64Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |cl AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |m AS (
       |  SELECT COALESCE(cl.cluster, d.doc_id) AS cluster
       |  FROM documents d LEFT JOIN cl USING (doc_id)),
       |sz AS (SELECT cluster, COUNT(*) AS sz FROM m GROUP BY cluster)
       |SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
       |  CAST(SUM(sz) AS BIGINT) AS n_docs
       |FROM sz GROUP BY sz ORDER BY cluster_size""".stripMargin

  // --------------------------- C36 cluster representative selection
  /** C36: the dedup DECISION — C18's duplicate clusters joined with C9's
    * quality scores, keeping the best-quality member per cluster
    * (tie → lowest doc_id). This is the step production pipelines run
    * between clustering and the write ("keep best, not keep first"):
    * near-dup removal that never discards the highest-quality copy.
    *
    * Full-corpus semantics: documents outside the near-dup graph form
    * their own singleton cluster (cluster = COALESCE(graph cluster,
    * doc_id)) and are trivially kept, so the output is a per-document
    * keep verdict over the WHOLE corpus, directly usable as a semi-join
    * filter.
    *
    * Scale: the cluster frame holds only graph members (≪ corpus), the
    * join shuffles on doc_id, and the argmax window partitions by
    * cluster — millions of small partitions, never a global sort. The
    * quality doubles are the same bit-identical expressions as the C9
    * gate, so the argmax ordering agrees across engines.
    */
  def c36ClusterReps(s: SparkSession, d: String): DataFrame = {
    val clusters = c18DupClusters(s, d) // doc_id, cluster (graph members only)
    val quality = TextAnalysis.c9TextQuality(s, d)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    quality.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"), col("quality"))
      .withColumn("keep",
        (row_number().over(w) === 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  val c36Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |clus AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |q AS (SELECT doc_id, quality FROM (
       |${TextAnalysis.c9Sql.stripSuffix("ORDER BY doc_id")})),
       |j AS (
       |  SELECT q.doc_id AS doc_id, COALESCE(c.cluster, q.doc_id) AS cluster, q.quality
       |  FROM q LEFT JOIN clus c ON q.doc_id = c.doc_id)
       |SELECT doc_id, cluster, quality,
       |  CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
       |    ORDER BY quality DESC, doc_id) = 1 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  // --------------------------- C85 duplication cap (keep best k)
  /** C85: DUPLICATION CAP — C36's keep-one generalized to keep-at-most-k
    * (Muennighoff et al. 2023, data-constrained scaling: repeating data
    * a few epochs is nearly as good as fresh data, so when the corpus is
    * the bottleneck a pipeline keeps UP TO k near-dup copies instead of
    * deduplicating to one; the cap bounds boilerplate flood while
    * retaining repeat value): per C18 cluster, members rank by (quality
    * desc, doc_id) and the top [[c85CapK]] survive; singletons (C36's
    * coalesce) trivially survive. Output carries the cluster size and
    * the member's rank so the mixture accounting (C61) can weight
    * retained copies. Same frame sizes as C36 — the cluster frame ≪
    * corpus, the window partitions by cluster, never global.
    */
  private val c85CapK = 2

  def c85DupCap(s: SparkSession, d: String): DataFrame = {
    val clusters = c18DupClusters(s, d)
    val quality = TextAnalysis.c9TextQuality(s, d)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    val wc = Window.partitionBy(col("cluster"))
    quality.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"), col("quality"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("copies", count(lit(1)).over(wc))
      .withColumn("keep", (col("rk") <= c85CapK).cast("int"))
      .select(col("doc_id"), col("cluster"), col("copies"), col("rk"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val c85Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |clus AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |q AS (SELECT doc_id, quality FROM (
       |${TextAnalysis.c9Sql.stripSuffix("ORDER BY doc_id")})),
       |j AS (
       |  SELECT q.doc_id AS doc_id, COALESCE(c.cluster, q.doc_id) AS cluster, q.quality
       |  FROM q LEFT JOIN clus c ON q.doc_id = c.doc_id)
       |SELECT doc_id, cluster,
       |  COUNT(*) OVER (PARTITION BY cluster) AS copies,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY cluster
       |    ORDER BY quality DESC, doc_id) AS BIGINT) AS rk,
       |  CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY cluster
       |    ORDER BY quality DESC, doc_id) <= $c85CapK THEN 1 ELSE 0 END AS INT) AS keep
       |FROM j ORDER BY doc_id""".stripMargin

  // ------------------------------- C61 dedup-funnel accounting
  /** C61: the DEDUP FUNNEL readout — how many documents and tokens each
    * source contributes raw, after exact dedup, and after near-dup rep
    * selection: the "effective dataset size" table a data lead reads
    * before committing a mixture (raw token counts overstate a crawly
    * source precisely because dedup will melt it). Sequential
    * semantics, stated identically in both engines: stage 1 keeps the
    * min doc_id per content hash (C1); stage 2 keeps, per near-dup
    * cluster (C18's components over the WHOLE corpus — the cluster
    * structure is a property of the text, not of stage order), the
    * best-quality EXACT-SURVIVOR (C36's argmax restricted to stage-1
    * survivors). Three tiny per-source aggregates join on the 4-row
    * source frame; the heavy inputs are the already-audited C1/C18/C9
    * shapes.
    */
  def c61DedupFunnel(s: SparkSession, d: String): DataFrame = {
    // rebalanced + checkpointed: the md5+tokenize projection feeds three
    // consumers (the keep-first aggregate, the survivor join, the raw
    // stage rollup) and otherwise re-runs per consumer at the
    // 1-partition scan width
    val base = Tables.documentsRebalanced(s, d).select(col("doc_id"),
      col("source"), md5(col("text")).as("h"),
      expr(s"size($wordsSpark)").cast("long").as("nt"))
      .localCheckpoint(true)
    val keep1 = base.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val surv1 = base.join(keep1, "doc_id")
    val quality = TextAnalysis.c9TextQuality(s, d).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    val surv2 = surv1.join(quality, "doc_id")
      .join(c18DupClusters(s, d), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
    def stage(df: DataFrame, n: String, t: String) =
      df.groupBy(col("source"))
        .agg(count(lit(1)).as(n), sum(col("nt")).as(t))
    // |sources| rows per stage rollup — broadcast, not sort-merge
    stage(base, "n_raw", "tok_raw")
      .join(broadcast(stage(surv1, "n_exact", "tok_exact")), "source")
      .join(broadcast(stage(surv2, "n_near", "tok_near")), "source")
      .orderBy(col("source"))
  }

  val c61Sql: String =
    s"""WITH RECURSIVE $c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |clus AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |base AS (
       |  SELECT doc_id, source, md5(text) AS h,
       |    CAST(len($wordsDuck) AS BIGINT) AS nt
       |  FROM documents),
       |keep1 AS (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY h),
       |surv1 AS (SELECT base.* FROM base JOIN keep1 USING (doc_id)),
       |q AS (SELECT doc_id, quality FROM (
       |${graft.ops.TextAnalysis.c9Sql.stripSuffix("ORDER BY doc_id")})),
       |surv2 AS (
       |  SELECT * FROM (
       |    SELECT s1.doc_id, s1.source, s1.nt,
       |      ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster, s1.doc_id)
       |                         ORDER BY q.quality DESC, s1.doc_id) AS rk
       |    FROM surv1 s1 JOIN q USING (doc_id)
       |    LEFT JOIN clus c ON s1.doc_id = c.doc_id)
       |  WHERE rk = 1)
       |SELECT source,
       |  (SELECT COUNT(*) FROM base b WHERE b.source = a.source) AS n_raw,
       |  (SELECT CAST(SUM(nt) AS BIGINT) FROM base b WHERE b.source = a.source) AS tok_raw,
       |  (SELECT COUNT(*) FROM surv1 s WHERE s.source = a.source) AS n_exact,
       |  (SELECT CAST(SUM(nt) AS BIGINT) FROM surv1 s WHERE s.source = a.source) AS tok_exact,
       |  (SELECT COUNT(*) FROM surv2 s WHERE s.source = a.source) AS n_near,
       |  (SELECT CAST(SUM(nt) AS BIGINT) FROM surv2 s WHERE s.source = a.source) AS tok_near
       |FROM (SELECT DISTINCT source FROM base) a
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------------ registry
  // ------------------------------- C40 duplicated-passage REMOVAL
  /** C40: duplicated-passage REMOVAL — C24's detection carried to the
    * pipeline's actual output (Lee et al. 2022 §3: cut every substring
    * duplicated across documents and TRAIN ON THE REST): per document,
    * excise all tokens inside cross-document 8-gram spans and rebuild the
    * cleaned text.
    *
    * Scale shape: the only token-level shuffle is the dup-position
    * aggregate C24 already pays; reconstruction is NOT a token shuffle —
    * the cut positions collapse to ONE sorted array per affected doc
    * (rows ≪ corpus), left-join back onto documents, and a single
    * index-aware `filter` lambda rebuilds the text in a projection.
    * Documents with no copied passages pass through with an empty cut
    * set; under-8-token documents never enter the shingle stream.
    */
  def c40PassageRemove(s: SparkSession, d: String): DataFrame = {
    // per-doc flagged positions aggregate FIRST (bounded by doc length);
    // the covered token set expands IN-ROW — no 8× explode, no
    // corpus-sized DISTINCT exchange (r12)
    val cuts = p8Flagged(p8Grams(s, d))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        "array_sort(array_distinct(flatten(transform(ps, " +
          s"p -> sequence(p, p + ${passageLen - 1})))))").as("cut"))
    Tables.documents(s, d)
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("w", expr(wordsSpark))
      .withColumn("kept", expr(
        "filter(w, (x, i) -> NOT array_contains(coalesce(cut, CAST(array() AS ARRAY<INT>)), i))"))
      .select(col("doc_id"),
        expr("size(w)").cast("long").as("n_tokens"),
        expr("size(kept)").cast("long").as("kept_tokens"),
        array_join(col("kept"), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val c40Sql: String = {
    val gram8 = (1 until passageLen)
      .foldLeft("w[i]") { case (acc, k) => s"$acc||' '||w[i + $k]" }
    s"""WITH base AS (
       |  SELECT doc_id, w FROM (SELECT doc_id, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= $passageLen),
       |g8 AS (
       |  SELECT doc_id, i - 1 AS pos, ${h64Duck(s"'p8:'||($gram8)")} AS gh
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${passageLen - 2})) AS i FROM base)),
       |dup AS (SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM g8 GROUP BY gh)
       |        WHERE nd >= 2),
       |flagged AS (SELECT g8.* FROM g8 JOIN dup USING (gh)),
       |cuts AS (
       |  SELECT doc_id, list_sort(list(DISTINCT tp)) AS cut FROM (
       |    SELECT doc_id, unnest(range(pos, pos + $passageLen)) AS tp FROM flagged)
       |  GROUP BY doc_id)
       |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(kept) AS BIGINT) AS kept_tokens,
       |  -- DuckDB's array_to_string([]) is NULL; Spark's array_join([]) is ''
       |  COALESCE(array_to_string(kept, ' '), '') AS clean_text
       |FROM (
       |  SELECT doc_id, w,
       |    list_filter(w, (x, i) -> NOT list_contains(COALESCE(cut, CAST([] AS BIGINT[])), i - 1)) AS kept
       |  FROM (SELECT doc_id, $wordsDuck AS w FROM documents)
       |  LEFT JOIN cuts USING (doc_id))
       |ORDER BY doc_id""".stripMargin
  }

  // ----- C72 zero-shuffle incremental dedup (bucketed fingerprint state)
  /** C72: C47's incremental dedup with the HISTORY side re-shuffled ZERO
    * times — B22's bucketed-table discipline applied to the dedup state:
    * the historical fingerprint set is materialized hash-bucketed AND
    * sorted by `fp` (one file per bucket, paid once at state-entry), so
    * the nightly anti-join reads co-located pre-sorted history buckets —
    * SortMergeJoin LeftAnti with NO Exchange and NO Sort on the history
    * side; the only shuffle in the merge is the increment's own (tiny by
    * definition). C47 broadcasts history when it fits — the right call
    * until it doesn't; at 100 TB the fingerprint set is itself huge and
    * THIS is the shape that survives (shuffle ∝ increment, never
    * history). The history side is pinned `hint("merge")` so the
    * planner's size estimate can't sneak a broadcast back in at test
    * scale. Same survivors as C47 — the oracle is C47's (two physical
    * strategies, one answer); PlanAuditSpec pins the bucketed scan and
    * the exchange count.
    */
  private def c72HistTable(s: SparkSession, d: String): String =
    Staged.table(s, "bucketed_histfps", 1, d, "documents")(
      Staged.Bucketed(8, "fp", "fp"),
      c47Fps(s, d).where(col("doc_id") < c47Split)
        .select(col("fp")).distinct()
        .repartition(8, col("fp")))

  def c72IncrementalDedupBucketed(s: SparkSession, d: String): DataFrame = {
    val hist = s.table(c72HistTable(s, d))
    val increment = c47Fps(s, d).where(col("doc_id") >= c47Split)
      .localCheckpoint(true)
    val firstInIncrement = increment
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    increment
      .join(firstInIncrement, "doc_id")
      .join(hist.hint("merge"), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Two physical strategies, one answer: the oracle is C47's.
    * (lazy: c47Sql is declared later in the object — an eager val here
    * would read null at init time.)
    */
  lazy val c72Sql: String = c47Sql

  // ------------------------ C70 crawl-order novelty scoring
  /** C70: NOVELTY scoring in crawl order — per document, the share of
    * its distinct 8-gram shingles never seen in any EARLIER document
    * (doc_id = ingestion order): the marginal-value readout a curation
    * team reads before paying for more of a source (a crawl whose
    * novelty curve collapses is re-crawling what the corpus already
    * holds), and the document-level complement of C24's passage mask
    * (C24 asks "which spans are copied anywhere"; C70 asks "how much of
    * THIS doc was already on the shelf when it arrived"). Rides the
    * same staged shingle stream as C24/C40 (one codegen'd kernel call
    * per doc): first-occurrence per gram is ONE map-side-combined min
    * aggregate (shuffle = \|gram vocab\|), the join back is
    * O(occurrences), per-doc roll-up all-integer basis points —
    * hash-exact; no pairwise comparisons anywhere.
    */
  def c70Novelty(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g8 = p8Grams(s, d).select(col("doc_id"), col("gh")).distinct()
    // first-seer per shingle as a gh-PARTITIONED window min (r12; was a
    // groupBy + self-join — one more exchange plus a sort-merge join of
    // the presence frame with itself). Partitioned by the shingle hash:
    // partition size = docs sharing one shingle, the same skew bound the
    // join had.
    g8.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("gh"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty_bp", expr("(n_grams - n_seen) * 10000 DIV n_grams"))
      .orderBy(col("doc_id"))
  }

  val c70Sql: String = {
    val gram8 = (1 until passageLen)
      .foldLeft("w[i]") { case (acc, k) => s"$acc||' '||w[i + $k]" }
    s"""WITH base AS (
       |  SELECT doc_id, w FROM (SELECT doc_id, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= $passageLen),
       |g8 AS (
       |  SELECT DISTINCT doc_id, ${h64Duck(s"'p8:'||($gram8)")} AS gh
       |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - ${passageLen - 2})) AS i FROM base)),
       |first AS (SELECT gh, min(doc_id) AS first_doc FROM g8 GROUP BY gh)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
       |  (COUNT(*) - CAST(SUM(CASE WHEN first_doc < doc_id THEN 1 ELSE 0 END) AS BIGINT))
       |    * 10000 // COUNT(*) AS novelty_bp
       |FROM g8 JOIN first USING (gh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------- C71 per-source novelty curve
  /** C71: the NOVELTY CURVE proper — C70's per-document score rolled up
    * by (source, ingestion decile): for each source, docs bucket into
    * ten equal ingestion-order cohorts (ntile over doc_id — ANSI
    * remainder split, parity pinned by the B31 gate) and each cohort
    * reports docs + integer mean novelty. THIS is the table a curation
    * team actually reads (does source X's marginal value collapse after
    * the third cohort?); \|sources × 10\| output rows regardless of
    * corpus size. One extra window (per-source, on the \|docs\|-row
    * novelty frame — not on tokens) + one aggregate over C70's chain.
    */
  def c71NoveltyCurve(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    c70Novelty(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("docs"),
        expr("SUM(novelty_bp) DIV COUNT(*)").as("mean_novelty_bp"))
      .orderBy(col("source"), col("decile"))
  }

  val c71Sql: String =
    s"""WITH nov AS ($c70Sql),
       |dec AS (
       |  SELECT source, novelty_bp,
       |    CAST(NTILE(10) OVER (PARTITION BY source ORDER BY nov.doc_id) AS BIGINT) AS decile
       |  FROM nov JOIN documents USING (doc_id))
       |SELECT source, decile, COUNT(*) AS docs,
       |  CAST(SUM(novelty_bp) AS BIGINT) // COUNT(*) AS mean_novelty_bp
       |FROM dec GROUP BY source, decile
       |ORDER BY source, decile""".stripMargin

  /** C67 COMPACTION: fold a merge result back into a VERSIONED cluster
    * state table (C50's append-only artifact pattern on graph state):
    * each compaction appends the full merged cluster table under a new
    * `version` partition — past versions stay immutable (yesterday's
    * run reproduces exactly), serving reads only the latest (partition-
    * pruned), and tomorrow's increment merges against today's compacted
    * state instead of replaying today's increment. Directory adds only;
    * spec pins latest ≡ the merge, v1 ≡ the pre-merge history state,
    * and idempotence.
    */
  // both versions land in ONE staged build: a JVM killed between the two
  // appends leaves no table, never a v1-only one served as "latest"
  private[graft] def c67VersionsPath(s: SparkSession, d: String): String =
    Staged("clusterversions", 1, d, "documents") { root =>
      s.read.parquet(c67StatePath(s, d)).withColumn("version", lit(1))
        .write.partitionBy("version").parquet(root)
      c67IncrementalClusters(s, d).withColumn("version", lit(2))
        .write.mode("append").partitionBy("version").parquet(root)
    }

  def c67CompactState(s: SparkSession, d: String): DataFrame = {
    val root = c67VersionsPath(s, d)
    val latest = s.read.parquet(root)
      .agg(max(col("version"))).head().getInt(0)
    s.read.parquet(root).where(col("version") === latest)
      .select(col("doc_id"), col("cluster"))
  }

  // ------------------ C68 edit-distance verified near-dup
  /** C68: EDIT-DISTANCE verification over the LSH candidate set — the
    * third verification metric after Jaccard (C4) and containment (C56),
    * and the one that catches CHARACTER-level mutations shingle-set
    * metrics blur (a doc with every 10th character corrupted keeps most
    * 3-word shingles but drifts in edit space, and vice versa for
    * reordered paragraphs): for each C2 candidate pair, Levenshtein
    * distance over a fixed 240-char PREFIX and the integer similarity
    * `(cap − lev)·10⁴ DIV cap`. The prefix cap is the scale contract —
    * it bounds per-pair cost at O(cap²) regardless of document length
    * (full-text edit distance is quadratic and unbounded; production
    * substring dedup is C24/C40's shingle form), and candidates stay
    * bounded by LSH bucket collisions, never |corpus|². All-integer,
    * `levenshtein` is exact in both engines — hash-exact gate; pairs
    * emitted with both metrics so the disagreement between edit space
    * and shingle space is itself visible in the output.
    */
  private val c68PrefixCap = 240
  private val c68MinSimBp = 7500L // keep pairs ≥ 75% prefix similarity
  /** Smallest band that cannot drop a qualifying pair: the Spark side
    * computes the distance BANDED (`levenshtein(l, r, threshold)` —
    * O(cap·band) cells instead of O(cap²)): a pair whose true distance
    * exceeds the band provably can't reach the similarity bar
    * (lev > cap·(1−minSim) ⟹ sim_bp < minSim, strict under integer DIV
    * since cap ≤ the prefix cap), so dropping the band's −1 rows is
    * exact and kept rows carry the exact distance. The oracle runs the
    * full unbanded distance with the same filter — equality proves the
    * band sound. 13.2 s → sub-second at sf0.1 on 13.6k candidate pairs.
    */
  private val c68Band =
    (c68PrefixCap * (10000L - c68MinSimBp) / 10000L).toInt + 1

  def c68EditVerify(s: SparkSession, d: String): DataFrame = {
    val txt = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, c68PrefixCap).as("p"))
    // broadcast the PREFIX side explicitly: left alone the planner
    // broadcasts the (smaller) pair frame instead, which lands every
    // banded-DP evaluation on the documents scan's few input partitions
    // (one task did all 13.6k × O(cap·band) cells — 3.4 s; with the pair
    // frame streaming through its 32 shuffle partitions: 1.6 s at sf0.1).
    // At scale the prefix frame is |corpus| and this becomes the bucketed
    // join C72 uses; the DP-work placement argument is the same.
    c2Pairs(s, d)
      .join(broadcast(txt.select(col("doc_id").as("d1"), col("p").as("p1"))), "d1")
      .join(broadcast(txt.select(col("doc_id").as("d2"), col("p").as("p2"))), "d2")
      .select(col("d1"), col("d2"),
        levenshtein(col("p1"), col("p2"), c68Band).cast("long").as("lev"),
        greatest(length(col("p1")), length(col("p2"))).cast("long").as("cap"))
      .where(col("lev") >= 0) // −1 = beyond the band = provably below the bar
      .withColumn("sim_bp", expr("(cap - lev) * 10000 DIV cap"))
      .where(col("sim_bp") >= c68MinSimBp)
      .select(col("d1"), col("d2"), col("lev"), col("sim_bp"))
      .orderBy(col("d1"), col("d2"))
  }

  val c68Sql: String =
    s"""WITH $c2PairsCtes,
       |txt AS (SELECT doc_id, substr(text, 1, $c68PrefixCap) AS p FROM documents),
       |scored AS (
       |  SELECT d1, d2,
       |    CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
       |    CAST(greatest(len(a.p), len(b.p)) AS BIGINT) AS cap
       |  FROM c2pairs
       |  JOIN txt a ON d1 = a.doc_id
       |  JOIN txt b ON d2 = b.doc_id)
       |SELECT d1, d2, lev, (cap - lev) * 10000 // cap AS sim_bp
       |FROM scored
       |WHERE (cap - lev) * 10000 // cap >= $c68MinSimBp
       |ORDER BY d1, d2""".stripMargin

  // ------------------------------ C47 incremental ingestion dedup
  /** C47: INCREMENTAL exact dedup — dedup a nightly increment against
    * the full historical corpus WITHOUT rescanning history: the state is
    * a slice-partitioned table of DISTINCT content hashes (set union is
    * a monoid, so appending a slice of new hashes is a directory add —
    * B24's layout applied to dedup). An incoming document survives iff
    * its hash is absent from the merged historical state AND it is the
    * first occurrence within its own increment. The gate's oracle dedups
    * the increment against ALL raw history directly — equality proves
    * the incremental path sees exactly the full-history duplicates.
    * History = doc_id < [[c47Split]] (the fixture's "already ingested"
    * prefix); the dedup key is C11's document FINGERPRINT (min shingle
    * hash — the key C19/C25 decontaminate on; the fixture's raw texts
    * are all distinct, so a text hash would make the gate vacuous). At
    * scale the anti-join broadcasts or buckets on the fingerprint.
    */
  private val c47Split = 400L

  private def c47Fps(s: SparkSession, d: String): DataFrame =
    // rebalanced: the shingle/min-hash kernel otherwise runs at the
    // 1-partition corpus-scan width (and localCheckpoint in the c47/c72
    // consumers pins that width) — measured as a one-task 0.5-0.7 s job.
    // The consumers' doc_id split filters still reach the parquet scan:
    // predicates push through RepartitionOperation.
    Tables.documentsRebalanced(s, d)
      .withColumn("w", expr(wordsSpark))
      .where(expr("size(w) >= 3"))
      .select(col("doc_id"), col("source"), expr(fpSpark).as("fp"))

  private def c47StatePath(s: SparkSession, d: String): String =
    Staged("dedupstate", 1, d, "documents")(
      c47Fps(s, d)
        .where(col("doc_id") < c47Split)
        .select((col("doc_id") / 100).cast("bigint").as("slice"), col("fp"))
        .distinct()
        .write.partitionBy("slice").parquet(_))

  def c47IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val histFps = s.read.parquet(c47StatePath(s, d)).select(col("fp")).distinct()
    // the increment frame feeds both the first-occurrence aggregate and
    // the join back — checkpointed once so the fingerprint projection
    // (shingle explode + min hash) runs once, not twice
    val increment = c47Fps(s, d).where(col("doc_id") >= c47Split)
      .localCheckpoint(true)
    val firstInIncrement = increment
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    increment
      .join(firstInIncrement, "doc_id")
      .join(broadcast(histFps), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  // ---------------- C67 incremental near-dup CLUSTER maintenance
  /** C67: INCREMENTAL near-dup cluster maintenance — merge a nightly
    * increment into the persisted C18 cluster state WITHOUT re-clustering
    * history (the missing piece between C47's incremental exact dedup and
    * C18's whole-corpus components; at 100 TB re-running CC over all
    * history every night is exactly what a pipeline can't afford):
    *
    *  - state = C18's cluster table computed over HISTORY only
    *    (doc_id < [[c67SplitFor]] — the first 80% of ids, graph members
    *    only), persisted once;
    *  - the increment's MinHash band keys probe the corpus bucket index
    *    (at scale: D18's persisted bucket-state table — history is never
    *    re-signed) for candidate edges with ≥1 increment endpoint; the
    *    equi-join is bounded by bucket collisions with the increment,
    *    never |history|²;
    *  - TOUCHED history components (those adjacent to a new edge) are
    *    re-labeled by running the shared CC kernel over new edges +
    *    the touched components' star edges (node↔old label — a star is
    *    connectivity-equivalent to the original component, so old edges
    *    never need storing); untouched clusters pass through UNCHANGED.
    *    Old labels are component minima, so the merged min-label ≡ the
    *    full-corpus label and the CC input is bounded by the increment's
    *    bucket neighborhood, not the corpus.
    *
    * Gate: oracle = the full-corpus recursive-CTE closure (C18's oracle,
    * two algorithms AND two maintenance strategies, one result — A54's
    * append-only maintenance proof applied to graph state).
    */
  /** Split the corpus 80/20 into history/increment by doc_id — RELATIVE
    * to corpus size (an absolute split would make the "increment" 99% of
    * a larger fixture, inverting the workload the operator models). The
    * oracle is the full-corpus closure, so gate correctness is split-
    * independent; only the work distribution depends on it. Memoized per
    * session (the probe is one stats-only max over doc_id), so it agrees
    * with the documents listing the session's c67 state derives from.
    */
  private[graft] def c67SplitFor(s: SparkSession, d: String): Long =
    graft.core.Memo(s, s"c67split:$d") {
      val n = Tables.documents(s, d).agg(max(col("doc_id"))).head().getLong(0) + 1
      n * 4 / 5
    }

  private[graft] def c67StatePath(s: SparkSession, d: String): String =
    Staged("clusterstate", 1, d, "documents") { p =>
      val histPairs = pairsFromBands(
        s.read.parquet(c67BucketStatePath(s, d)))
      ccMinLabel(histPairs.union(histPairs.select(col("d2"), col("d1"))))
        .select(col("node").as("doc_id"), col("lab").as("cluster"))
        .write.parquet(p)
    }

  /** History's persisted BUCKET INDEX (doc_id, band, bkey) — D18's
    * bucket-state table in batch form: history documents are signed ONCE
    * when they enter the state, never re-signed by a later merge (the
    * nightly job's corpus scan is the increment only). The cluster state
    * derives from the same index, so the two state tables can't disagree
    * on the pair set.
    */
  private[graft] def c67BucketStatePath(s: SparkSession, d: String): String =
    Staged("bucketstate", 1, d, "documents")(
      c2Bands(s, d).where(col("doc_id") < c67SplitFor(s, d)).write.parquet(_))

  def c67IncrementalClusters(s: SparkSession, d: String): DataFrame = {
    val oldState = s.read.parquet(c67StatePath(s, d)) // doc_id, cluster
    // increment: the ONLY rows signed at merge time; history band keys
    // come from the persisted bucket index
    // the increment's signatures are the merge's only corpus scan;
    // checkpointed once — the frame feeds BOTH the probe side and the
    // bucket-index union, and without it the sig subtree runs twice
    val inc = c2Bands(s, d).where(col("doc_id") >= c67SplitFor(s, d))
      .localCheckpoint(true)
    val bands = s.read.parquet(c67BucketStatePath(s, d)).unionByName(inc)
    // candidate edges touching the increment: increment band keys probe
    // the full bucket index; both-increment and increment↔history pairs
    // fall out of the same equi-join (distinct dedups band collisions).
    // Checkpointed: the frame feeds THREE downstream executions (the CC
    // edge checkpoint, the touched-cluster probe, and — through touched —
    // the final anti-join's broadcast); without it the probe join +
    // distinct re-ran once per consumer (measured: the merge's two
    // broadcast-thread jobs each re-executed this 5-stage subtree).
    val cand = inc.join(
        bands.select(col("doc_id").as("doc2"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .where(col("doc_id") =!= col("doc2"))
      .select(least(col("doc_id"), col("doc2")).as("d1"),
        greatest(col("doc_id"), col("doc2")).as("d2"))
      .distinct()
      .localCheckpoint(true)
    val newEdges = cand.select(col("d1").as("src"), col("d2").as("dst"))
      .union(cand.select(col("d2"), col("d1")))
    val endpoints = newEdges.select(col("src").as("doc_id")).distinct()
    // touched components only: |touched| is bounded by the increment's
    // bucket neighborhood — broadcast-sized by construction. Checkpointed
    // for the same reason: broadcast(touched) is built TWICE (star-edge
    // construction and the final untouched anti-join), and each build
    // otherwise re-runs the oldState⋈endpoints probe from the parquet up.
    val touched = oldState.join(endpoints, "doc_id")
      .select(col("cluster")).distinct()
      .localCheckpoint(true)
    val touchedRows = oldState.join(broadcast(touched), "cluster")
    val starEdges = touchedRows
      .select(col("doc_id").as("src"), col("cluster").as("dst"))
      .union(touchedRows.select(col("cluster"), col("doc_id")))
    val merged = ccMinLabel(newEdges.union(starEdges))
      .select(col("node").as("doc_id"), col("lab").as("cluster"))
    oldState.join(broadcast(touched), Seq("cluster"), "left_anti")
      .select(col("doc_id"), col("cluster"))
      .union(merged)
      .orderBy(col("doc_id"))
  }

  /** Full-corpus closure — maintenance on the Spark side, recompute on
    * the oracle side; equality IS the incremental-maintenance proof.
    */
  val c67Sql: String = c18Sql

  val c47Sql: String =
    s"""WITH fps AS (
       |  SELECT doc_id, source,
       |    list_min(list_transform($trigramsDuck, g -> ${h64Duck("g")})) AS fp
       |  FROM (SELECT doc_id, source, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= 3)
       |SELECT doc_id, source FROM fps d
       |WHERE doc_id >= $c47Split
       |  AND NOT EXISTS (
       |    SELECT 1 FROM fps h
       |    WHERE h.fp = d.fp
       |      AND (h.doc_id < $c47Split OR h.doc_id < d.doc_id))
       |ORDER BY doc_id""".stripMargin

  // ------------------- C101 contamination closure over dup clusters
  /** C101: TRANSITIVE decontamination — the leak a fingerprint-only pass
    * (C19/C25) provably misses: a paraphrased near-duplicate of an
    * eval-matching document carries the same content but not the same
    * fingerprint, so it sails through the anti-join while its twin is
    * removed. The closure: any member of a near-dup CLUSTER (C18's
    * connected components) containing a directly-matching document is
    * contaminated too — C57's leakage-free-split argument applied to
    * decontamination. Per source: corpus docs, direct fingerprint hits
    * (C19's exact mechanism), TRANSITIVE hits (cluster-mates of a direct
    * hit that are not themselves direct), and the clean remainder.
    *
    * Scale shape: the direct-hit frame is |eval matches| (tiny, from the
    * broadcast eval join); the cluster frame holds only dup-graph
    * members (≪ corpus, memoized on disk by C18); the closure is ONE
    * equi-join of those two small frames on the cluster id, then one
    * left join back to the corpus on doc_id — no new corpus-sized
    * shuffle beyond what C19 and C18 already paid. The oracle recomputes
    * the clusters with the recursive-CTE closure and takes the identical
    * set algebra — two cluster algorithms, one verdict.
    */
  def c101ContaminationClosure(s: SparkSession, d: String): DataFrame =
    closureOf(contamFps(s, d), c18DupClusters(s, d))

  /** (direct, transitive) doc-id frames of the contamination closure —
    * shared by the C101 accounting and C102's clean-corpus mixture.
    */
  private[ops] def closureParts(fps: DataFrame,
      clusters: DataFrame): (DataFrame, DataFrame) = {
    val evalFps = fps.where(col("doc_id") % 97 === 0).select(col("fp"))
    val corpus = fps.where(col("doc_id") % 97 =!= 0)
    val direct = corpus.join(broadcast(evalFps), Seq("fp"))
      .select(col("doc_id")).distinct()
    val dirtyClusters = clusters
      .join(direct.select(col("doc_id")), "doc_id")
      .select(col("cluster")).distinct()
    // direct and the dirty-cluster membership are |eval matches|-sized
    // by construction — broadcast them so neither the anti-join nor the
    // eval-row guard shuffles (the corpus side stays exchange-free).
    val transitive = corpus.select(col("doc_id")) // eval rows never count
      .join(broadcast(clusters.join(broadcast(dirtyClusters), "cluster")
        .select(col("doc_id"))
        .join(broadcast(direct), Seq("doc_id"), "left_anti")), "doc_id")
    (direct, transitive)
  }

  /** C101's fingerprint frame, shared with C102. */
  private[ops] def contamFps(s: SparkSession, d: String): DataFrame = {
    import graft.ops.TextExprs.fpSpark
    // rebalanced: this frame is checkpointed below, and the checkpoint
    // otherwise pins the fingerprint kernel to the 1-partition scan
    // width (measured: a one-task ~1 s localCheckpoint job in c101/c102).
    Tables.documentsRebalanced(s, d)
      .withColumn("w", expr(wordsSpark))
      .where(expr("size(w) >= 3"))
      .select(col("doc_id"), col("source"), expr(fpSpark).as("fp"))
      .localCheckpoint(true)
  }

  /** The closure core over arbitrary (doc_id, source, fp) + (doc_id,
    * cluster) frames — the spec feeds it a crafted graph to prove the
    * transitive path actually fires (on the synthetic fixtures the
    * direct hits happen to have no cluster-mates, so the gate alone
    * cannot distinguish the closure from a no-op).
    */
  private[graft] def closureOf(fps: DataFrame, clusters: DataFrame): DataFrame = {
    val corpus = fps.where(col("doc_id") % 97 =!= 0)
    val (direct, transitive) = closureParts(fps, clusters)
    // both mark frames are tiny (see closureParts) — broadcast outer
    // joins keep the corpus pass shuffle-free up to the final groupBy
    corpus.select(col("doc_id"), col("source"))
      .join(broadcast(direct.withColumn("is_direct", lit(1L))),
        Seq("doc_id"), "left")
      .join(broadcast(transitive.withColumn("is_trans", lit(1L))),
        Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_direct"), lit(0L))).as("n_direct"),
        sum(coalesce(col("is_trans"), lit(0L))).as("n_transitive"))
      .withColumn("n_clean",
        col("n_docs") - col("n_direct") - col("n_transitive"))
      .orderBy(col("source"))
  }

  /** The contamination-closure CTE chain (clusters, fingerprints,
    * direct, trans) — shared by the C101 and C102 oracles.
    */
  private[ops] lazy val c101ClosureCtes: String =
    s"""$c2PairsCtes,
       |edges AS (SELECT d1 AS src, d2 AS dst FROM c2pairs
       |          UNION SELECT d2, d1 FROM c2pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |clus AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |fps AS (
       |  SELECT doc_id, source,
       |    list_min(list_transform($trigramsDuck, g -> ${h64Duck("g")})) AS fp
       |  FROM (SELECT doc_id, source, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= 3),
       |corpus AS (SELECT * FROM fps WHERE doc_id % 97 <> 0),
       |direct AS (
       |  SELECT DISTINCT doc_id FROM corpus
       |  WHERE fp IN (SELECT fp FROM fps WHERE doc_id % 97 = 0)),
       |dirty AS (
       |  SELECT DISTINCT cluster FROM clus JOIN direct USING (doc_id)),
       |trans AS (
       |  SELECT c.doc_id FROM clus c JOIN dirty USING (cluster)
       |  JOIN corpus USING (doc_id)
       |  WHERE c.doc_id NOT IN (SELECT doc_id FROM direct))""".stripMargin

  lazy val c101Sql: String =
    s"""WITH RECURSIVE $c101ClosureCtes
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM direct) THEN 1 ELSE 0 END) AS BIGINT) AS n_direct,
       |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM trans) THEN 1 ELSE 0 END) AS BIGINT) AS n_transitive,
       |  CAST(COUNT(*) - SUM(CASE WHEN doc_id IN (SELECT doc_id FROM direct) THEN 1 ELSE 0 END)
       |    - SUM(CASE WHEN doc_id IN (SELECT doc_id FROM trans) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       |FROM corpus GROUP BY source ORDER BY source""".stripMargin

  // ------------------- C98 MinHash estimator calibration
  /** C98: CALIBRATION of the MinHash Jaccard estimator — the measurement
    * that justifies reading band thresholds as Jaccard thresholds (the
    * banding math assumes P[lane match] = J; if the implementation's
    * estimate is biased, every threshold the pipeline sets from it is
    * off): per C2 candidate pair, the lane-match estimate
    * (matches/8 lanes, in bp) next to the TRUE trigram-set Jaccard and
    * the absolute error. All-integer output.
    *
    * Scale shape: the pair frame ≪ corpus bounds everything — signatures
    * join to pairs by id (8 longs per row on the wire), and the exact
    * Jaccard is computed ONLY for pair members (the docs-in-pairs
    * semi-join keeps the gram explode to candidate docs; the intersect
    * join keys on (d2, gram) with both sides restricted to pair docs).
    * The estimator is the codegen'd [[graft.functions.MinHashSig]] lane
    * array — the SAME kernel the candidate generation used, so the gate
    * calibrates what production runs, not a re-derivation.
    */
  def c98MinhashCalibration(s: SparkSession, d: String): DataFrame = {
    // every input frame is a session-staged artifact (c47/c66 doctrine):
    // `pairs` (the full C2 LSH pipeline, three consumers here) and `sig`
    // (the md5-per-shingle MinHash projection) are memoized corpus
    // artifacts; `gr` (distinct trigrams of pair-member docs, three
    // consumers) is memoized below — the gate's live work is the
    // estimate/intersect joins it exists to measure
    val pairs = c2Pairs(s, d)
    val sig = mhSig(s, d)
    val est = pairs
      .join(sig.select(col("doc_id").as("d1"), col("mh").as("mh1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("mh").as("mh2")), "d2")
      .select(col("d1"), col("d2"),
        expr(s"CAST(size(filter(zip_with(mh1, mh2, (a, b) -> a = b), x -> x)) " +
          s"* 10000 DIV $nLanes AS BIGINT)").as("est_bp"))
    val gr = graft.core.Memo.frame(s, s"c98grams:$d") {
      val docsIn = pairs.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
        .distinct()
      Tables.documents(s, d).join(docsIn, "doc_id")
        .withColumn("w", expr(wordsSpark))
        .where(expr("size(w) >= 3"))
        .select(col("doc_id"), explode(expr(s"array_distinct($trigramsSpark)")).as("gram"))
    }
    // |pair-member docs| rows, two aliased broadcasts (c4/c56's fix)
    val sizes = gr.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    val inter = pairs
      .join(gr.select(col("doc_id").as("d1"), col("gram")), "d1")
      .join(gr.select(col("doc_id").as("d2"), col("gram")), Seq("d2", "gram"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("d1", "d2"))
      .join(broadcast(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1"))), "d1")
      .join(broadcast(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2"))), "d2")
      .select(col("d1"), col("d2"), col("est_bp"),
        expr("CAST(inter * 10000 DIV (sz1 + sz2 - inter) AS BIGINT)").as("true_bp"))
      .withColumn("err_bp", abs(col("est_bp") - col("true_bp")))
      .orderBy(col("d1"), col("d2"))
  }

  val c98Sql: String = {
    val laneMatches = (0 until nLanes)
      .map(j => s"CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $c2PairsCtes,
       |est AS (
       |  SELECT d1, d2,
       |    CAST(($laneMatches) * 10000 // $nLanes AS BIGINT) AS est_bp
       |  FROM c2pairs JOIN sig x ON x.doc_id = d1 JOIN sig y ON y.doc_id = d2),
       |docsin AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT d1 AS doc_id FROM c2pairs UNION ALL SELECT d2 FROM c2pairs)),
       |gr AS (
       |  SELECT DISTINCT doc_id, s AS gram FROM (
       |    SELECT doc_id, unnest(g) AS s FROM g JOIN docsin USING (doc_id))),
       |sz AS (SELECT doc_id, COUNT(*) AS sz FROM gr GROUP BY doc_id),
       |inter AS (
       |  SELECT d1, d2, COUNT(*) AS inter
       |  FROM c2pairs
       |  JOIN gr g1 ON g1.doc_id = d1
       |  JOIN gr g2 ON g2.doc_id = d2 AND g2.gram = g1.gram
       |  GROUP BY d1, d2)
       |SELECT e.d1, e.d2, e.est_bp,
       |  CAST(i.inter * 10000 // (s1.sz + s2.sz - i.inter) AS BIGINT) AS true_bp,
       |  ABS(e.est_bp - CAST(i.inter * 10000 // (s1.sz + s2.sz - i.inter) AS BIGINT)) AS err_bp
       |FROM est e
       |JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
       |JOIN sz s1 ON s1.doc_id = e.d1
       |JOIN sz s2 ON s2.doc_id = e.d2
       |ORDER BY e.d1, e.d2""".stripMargin
  }

  // ------------------- C97 inter-source copy matrix (shared passages)
  /** C97: WHO COPIES FROM WHOM — the provenance matrix behind source-level
    * dedup policy (two feeds syndicating the same wire content should be
    * deduped against each other BEFORE mixture weighting, or the shared
    * text is double-counted; C74's vocab cosine says two sources sound
    * alike — this says they literally share passages): per source pair,
    * the number of distinct 8-gram shingles (C24's passage unit, same
    * codegen'd [[graft.functions.WordShingleHashes]] kernel) present in
    * BOTH, plus Broder's containment in basis points against the smaller
    * side. Sparse by construction — pairs with zero shared shingles never
    * materialize.
    *
    * Scale shape: ONE shuffle groups the corpus by SHINGLE
    * (`collect_set(source)` — the set is bounded by |sources|, never by
    * corpus size, and dedups (source, shingle) presence in the same
    * pass, so no separate DISTINCT stage exists); the source pairs then
    * expand IN-ROW from each sorted set — INCLUDING the diagonal, so
    * the per-source totals are the pair frame's (s, s) rows (the c74
    * diagonal doctrine: no separate totals aggregation, no third
    * exchange) — and re-aggregate over the tiny pair domain
    * (≤ C(|sources|+1, 2) rows per shingle). No self-join: the old
    * shape shuffled the presence frame twice more to join it with
    * itself. At 100 TB this runs off the staged shingle table C24
    * already materializes.
    */
  def c97SourceOverlap(s: SparkSession, d: String): DataFrame = {
    // rebalanced: the shingle kernel otherwise runs in the 1-partition
    // scan stage (Tables.documentsRebalanced doctrine)
    val pairs = Tables.documentsRebalanced(s, d)
      .where(expr(s"size($wordsSpark) >= $passageLen"))
      .select(col("source"), explode(
        graft.functions.WordShingleHashes(col("text"), passageLen, "p8:"))
        .as("gh"))
      .groupBy(col("gh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 1, size(srcs) - i), b ->
          |    struct(a AS source_a, b AS source_b))))""".stripMargin))
        .as("p"))
      .select(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      // ≤ C(|sources|+1, 2) rows, but THREE consumers (the two diagonal
      // broadcasts + the off-diagonal stream) — without the checkpoint
      // each diagonal broadcast re-ran the whole shingle pass (measured:
      // two identical 0.6 s 4-stage jobs); coalesce(1) keeps the
      // downstream reads one-task
      .coalesce(1).localCheckpoint(true)
    // dot(s, s) on the diagonal IS the per-source shingle total
    val per = pairs.where(col("source_a") === col("source_b"))
      .select(col("source_a").as("source"), col("n_shared").as("n_sh"))
    pairs.where(col("source_a") < col("source_b"))
      .join(broadcast(per.select(col("source").as("source_a"), col("n_sh").as("n_a"))), "source_a")
      .join(broadcast(per.select(col("source").as("source_b"), col("n_sh").as("n_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("CAST(n_shared * 10000 DIV least(n_a, n_b) AS BIGINT)")
          .as("containment_bp"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val c97Sql: String = {
    val gram8 = (1 until passageLen)
      .foldLeft("w[i]") { case (acc, k) => s"$acc||' '||w[i + $k]" }
    s"""WITH base AS (
       |  SELECT doc_id, source, w FROM (SELECT doc_id, source, $wordsDuck AS w FROM documents)
       |  WHERE len(w) >= $passageLen),
       |sh AS (
       |  SELECT DISTINCT source, ${h64Duck(s"'p8:'||($gram8)")} AS gh
       |  FROM (SELECT source, w, unnest(range(1, len(w) - ${passageLen - 2})) AS i FROM base)),
       |per AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT source_a, source_b, n_shared,
       |  CAST(n_shared * 10000 // least(pa.n_sh, pb.n_sh) AS BIGINT) AS containment_bp
       |FROM pairs
       |JOIN per pa ON pa.source = source_a
       |JOIN per pb ON pb.source = source_b
       |ORDER BY source_a, source_b""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c97_source_overlap" -> (c97SourceOverlap _),
    "c98_minhash_calibration" -> (c98MinhashCalibration _),
    "c101_contamination_closure" -> (c101ContaminationClosure _),
    "c47_incremental_dedup" -> (c47IncrementalDedup _),
    "c67_incremental_clusters" -> (c67IncrementalClusters _),
    "c68_edit_verify" -> (c68EditVerify _),
    "c70_novelty" -> (c70Novelty _),
    "c72_incremental_dedup_bucketed" -> (c72IncrementalDedupBucketed _),
    "c71_novelty_curve" -> (c71NoveltyCurve _),
    "c40_passage_remove" -> (c40PassageRemove _),
    "c1_dedup_exact"     -> (c1DedupExact _),
    "c2_dedup_minhash"   -> (c2DedupMinhash _),
    "c52_dup_attribution" -> (c52DupAttribution _),
    "c3_dedup_simhash"   -> (c3DedupSimhash _),
    "c4_dedup_jaccard"   -> (c4DedupJaccard _),
    "c56_containment"    -> (c56Containment _),
    "c5_dedup_embedding" -> (c5DedupEmbedding _),
    "c18_dup_clusters"   -> (c18DupClusters _),
    "c36_cluster_reps"   -> (c36ClusterReps _),
    "c85_dup_cap"        -> (c85DupCap _),
    "c57_leakfree_split" -> (c57LeakFreeSplit _),
    "c61_dedup_funnel"   -> (c61DedupFunnel _),
    "c64_cluster_stats"  -> (c64ClusterStats _),
    "c20_dedup_embedding_lsh" -> ((s: SparkSession, d: String) => c20DedupEmbeddingLsh(s, d)),
    "c24_dup_passages"   -> (c24DupPassages _)
  )

  val oracle: Map[String, String] = Map(
    "c47_incremental_dedup" -> c47Sql,
    "c67_incremental_clusters" -> c67Sql,
    "c68_edit_verify" -> c68Sql,
    "c70_novelty" -> c70Sql,
    "c97_source_overlap" -> c97Sql,
    "c98_minhash_calibration" -> c98Sql,
    "c101_contamination_closure" -> c101Sql,
    "c72_incremental_dedup_bucketed" -> c72Sql,
    "c71_novelty_curve" -> c71Sql,
    "c40_passage_remove" -> c40Sql,
    "c1_dedup_exact"     -> c1Sql,
    "c2_dedup_minhash"   -> c2Sql,
    "c52_dup_attribution" -> c52Sql,
    "c3_dedup_simhash"   -> c3Sql,
    "c4_dedup_jaccard"   -> c4Sql,
    "c56_containment"    -> c56Sql,
    "c5_dedup_embedding" -> c5Sql,
    "c18_dup_clusters"   -> c18Sql,
    "c36_cluster_reps"   -> c36Sql,
    "c85_dup_cap"        -> c85Sql,
    "c57_leakfree_split" -> c57Sql,
    "c61_dedup_funnel"   -> c61Sql,
    "c64_cluster_stats"  -> c64Sql,
    "c20_dedup_embedding_lsh" -> c20Sql,
    "c24_dup_passages"   -> c24Sql
  )
}
