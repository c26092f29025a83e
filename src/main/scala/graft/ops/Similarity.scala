package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.DotProduct
import TextExprs._

/** C6-C7: approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors), SURVEY.md §2.C.
  *
  * C6 is the brute-force baseline: a tiny broadcast query set against the
  * corpus — the correct plan at ANY corpus size (queries broadcast, corpus
  * streams, per-query top-k via window). C7 is the scale path: deterministic
  * random-hyperplane LSH buckets make the candidate join O(bucket size).
  *
  * Vectors are normalized ONCE in a projection below the join (cosine =
  * single dot product per pair), and dot products run in a codegen'd
  * Catalyst expression ([[graft.functions.DotProduct]]) — the interpreted
  * higher-order-function fold was 25× slower at sf0.1. The DuckDB oracle
  * mirrors the same normalize-then-dot op order, so doubles stay
  * bit-identical.
  */
object Similarity {

  // ------------------------- C65 embedding-space dimension profile
  /** C65: per-DIMENSION embedding profile — the embedding-space health
    * check run before trusting any ANN/dedup built on it (a dead
    * dimension, a scale-drifted dimension, or a mean far off zero all
    * break cosine geometry silently): n, mean and variance per
    * dimension. One posexplode + one map-side-combined aggregate whose
    * shuffle carries |dims| rows. Exactness: each float is quantized as
    * `floor(x·2²⁰)` — a DYADIC scale, so the double multiply is exact
    * and both engines floor the identical value to the identical
    * integer (a float→DECIMAL cast is NOT engine-identical: Spark casts
    * through the float's shortest decimal string, DuckDB through its
    * double expansion — measured divergent at the 10th digit). Integer
    * sums are order-insensitive; the float math is confined to a final
    * projection over the exact sums (B15's doctrine), at quantization
    * error ≤ 2⁻²⁰ per element. The oracle re-derives each element by
    * index (embedding[dim]) instead of exploding — two access paths,
    * one profile.
    */
  private val c65Q = 1048576L // 2^20

  def c65EmbeddingProfile(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q", expr(s"CAST(FLOOR(CAST(x AS DOUBLE) * $c65Q.0) AS BIGINT)"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sq2"))
      .select(col("dim").cast("long").as("dim"), col("n"),
        expr(s"CAST(sq AS DOUBLE) / $c65Q.0 / n").as("mean"),
        expr(s"CAST(sq2 AS DOUBLE) / ($c65Q.0 * $c65Q.0) / n - " +
          s"(CAST(sq AS DOUBLE) / $c65Q.0 / n) * (CAST(sq AS DOUBLE) / $c65Q.0 / n)")
          .as("variance"))
      .orderBy(col("dim"))

  val c65Sql: String =
    s"""SELECT dim, n,
       |  CAST(sq AS DOUBLE) / $c65Q.0 / n AS mean,
       |  CAST(sq2 AS DOUBLE) / ($c65Q.0 * $c65Q.0) / n -
       |    (CAST(sq AS DOUBLE) / $c65Q.0 / n) * (CAST(sq AS DOUBLE) / $c65Q.0 / n)
       |    AS variance
       |FROM (
       |  SELECT dim, COUNT(*) AS n, SUM(q) AS sq, SUM(q * q) AS sq2
       |  FROM (
       |    SELECT k.dim,
       |      CAST(FLOOR(CAST(embedding[k.dim + 1] AS DOUBLE) * $c65Q.0) AS BIGINT) AS q
       |    FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) k)
       |  GROUP BY dim)
       |ORDER BY dim""".stripMargin

  private val kNN = 10
  private val nQueries = 8 // query set: vec_id < 8
  private val nPlanes = 4
  private val kLsh = 5

  // C7's LSH geometry, shared with the D31 streaming serving mirror
  private[graft] def c7Plane(j: Int): Array[Double] = plane(j)
  private[graft] val c7NPlanes: Int = nPlanes
  private[graft] val c7KLsh: Int = kLsh
  private[graft] val c7NQueries: Int = nQueries

  /** plane(j)(i) ∈ [-1, 1] from md5("pl j : i") — deterministic, computed
    * at plan build and inlined into both backends.
    */
  private[ops] def plane(j: Int): Array[Double] =
    Array.tabulate(64)(i => ((h64Local(s"pl$j:$i") % 2001L) - 1000L) / 1000.0)

  private def planeCol(j: Int): Column = lit(plane(j))

  private def planeLitDuck(p: Array[Double]): String =
    p.mkString("([", ", ", "]::DOUBLE[])")

  /** vec_id, nv (unit-normalized), bucket (LSH hyperplane signs) — the one
    * shared projection every similarity op builds on.
    */
  private[ops] def prepared(s: SparkSession, d: String): DataFrame = {
    val bucket = (0 until nPlanes).map { j =>
      when(DotProduct(col("v"), planeCol(j)) >= 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    // rebalanced: every consumer chains per-vector kernels (normalize,
    // plane dots, centroid assignment) on this frame, and the raw scan
    // is one split at fixture scale — without the exchange those kernels
    // (and auto-broadcast builds of derived frames) run single-task.
    Tables.embeddingsRebalanced(s, d)
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
      .select(col("vec_id"),
        expr("transform(v, x -> x / nrm)").as("nv"),
        bucket.as("bucket"))
  }

  /** Oracle CTE mirroring [[prepared]] — same op order. */
  private[ops] val preparedDuck: String = {
    val bucket = (0 until nPlanes).map { j =>
      s"(CASE WHEN ${dotDuck("v", planeLitDuck(plane(j)))} >= 0.0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""prep AS (
       |  SELECT vec_id, list_transform(v, x -> x / nrm) AS nv, $bucket AS bucket
       |  FROM (SELECT vec_id, v, sqrt(${norm2Duck("v")}) AS nrm
       |        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)))""".stripMargin
  }

  /** Normalized-vector dot in the oracle (cosine of unit vectors). */
  private[ops] def nvDotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> $a[i] * $b[i])), (s, x) -> s + x)"

  // ----------------------------------------- C6 brute-force cosine top-k
  def c6AnnBruteforce(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"))
    val corpus = e.where(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.crossJoin(broadcast(q))
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kNN)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c6Sql: String =
    s"""WITH $preparedDuck,
       |q AS (SELECT vec_id AS q_id, nv AS qnv FROM prep WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, vec_id, ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM prep CROSS JOIN q WHERE vec_id >= $nQueries),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kNN ORDER BY q_id, rk""".stripMargin

  // ------------------------------ C82 hard-negative mining
  /** C82: HARD-NEGATIVE mining for contrastive training — the
    * embedding-training data op (random in-batch negatives are too easy;
    * training wants the most-similar examples of a DIFFERENT class —
    * Karpukhin et al. 2020 DPR §3.2, Xiong et al. 2021 ANCE): per anchor
    * (the query vectors with their labels), the top-5 corpus vectors by
    * cosine among those whose label differs from the anchor's. Same
    * normalized-dot doctrine as C6 (one codegen'd [[DotProduct]] per
    * candidate, identical op order in both engines — doubles bit-exact);
    * the label-mismatch predicate rides the broadcast-join condition, so
    * same-class rows never materialize into the candidate stream. The
    * anchor frame broadcasts (mining batches are small by construction);
    * the per-anchor top-k window partitions by anchor. At 100 TB the
    * candidate stream comes from the ANN family (C7/C14/C73) with the
    * same label-mismatch predicate appended — this is the exactness
    * baseline that gates those shortcuts.
    */
  private val c82K = 5

  def c82HardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .withColumn("nrm", sqrt(DotProduct(col("v"), col("v"))))
      .select(col("vec_id"), col("label"),
        expr("transform(v, x -> x / nrm)").as("nv"))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("nv").as("qnv"))
    val corpus = e.where(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"),
        col("label").as("n_label"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= c82K)
      .select(col("q_id"), col("q_label"), col("vec_id").as("n_id"),
        col("n_label"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c82Sql: String =
    s"""WITH prep AS (
       |  SELECT vec_id, label, list_transform(v, x -> x / nrm) AS nv
       |  FROM (SELECT vec_id, label, v, sqrt(${norm2Duck("v")}) AS nrm
       |        FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings))),
       |q AS (SELECT vec_id AS q_id, label AS q_label, nv AS qnv
       |      FROM prep WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, q_label, vec_id, label AS n_label,
       |    ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM prep JOIN q ON label <> q_label WHERE vec_id >= $nQueries),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, vec_id) AS INT) AS rk FROM scored)
       |SELECT q_id, q_label, vec_id AS n_id, n_label, rk, cos_sim
       |FROM ranked WHERE rk <= $c82K ORDER BY q_id, rk""".stripMargin

  // ------------------------------ C86 class-geometry profile
  /** C86: embedding CLASS-GEOMETRY profile — the separability readout
    * run before trusting labels for stratified eval or training a
    * classifier head on the embedding space (tight-to-own-centroid plus
    * loose-to-global = separable classes; both tight = collapsed space;
    * both loose = noisy labels): per label, the mean cosine of members
    * to their OWN label centroid (cohesion) and to the GLOBAL centroid
    * (the between-class reference). Numerics follow the c65 doctrine —
    * dims quantize to integers (×2²⁰) so every sum is an exact BIGINT
    * regardless of aggregation order; centroids are integer means
    * (component DIV n, bounded back to 2²⁰ so the 64-term dot stays
    * far from BIGINT overflow); the only doubles are one fixed-order
    * sqrt/divide chain per row, floored to basis points before the
    * final integer mean — hash-exact end to end. Shape: one
    * |labels|·64-row centroid aggregate (map-side combined), collected
    * and inlined as literal arrays into a second single-scan projection
    * (C14's trained-artifact pattern — at 100 TB the centroid table is
    * exactly what a k-means artifact is); the oracle recomputes
    * centroids in CTEs and takes the join form of the same integer
    * dots — two algorithms, one answer.
    */
  private val c86Q = 1L << 20

  private def c86CosBp(dot: String, n2a: String, n2b: String): String =
    s"CAST(FLOOR(CAST($dot AS DOUBLE) / (sqrt(CAST($n2a AS DOUBLE)) * " +
      s"sqrt(CAST($n2b AS DOUBLE))) * 10000.0) AS BIGINT)"

  def c86ClassGeometry(s: SparkSession, d: String): DataFrame = {
    val qv = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        expr(s"transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          s"x -> CAST(FLOOR(x * $c86Q.0) AS BIGINT))").as("q"))
    val sums = qv
      .select(col("label"), posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .collect()
    val dims = 64
    val byLabel: Map[Int, (Array[Long], Long)] =
      sums.groupBy(_.getInt(0)).map { case (l, rs) =>
        val a = new Array[Long](dims)
        rs.foreach(r => a(r.getInt(1)) = r.getLong(2))
        l -> (a, rs.head.getLong(3))
      }
    val totalN = byLabel.values.map(_._2).sum
    // TRUNCATING division (Java `/`), matching the oracle's `//` and SQL
    // DIV — Math.floorDiv rounds toward -∞ and diverges on negative
    // non-divisible sums (bit us at sf0.1: one centroid component off by
    // one moved a row's cosine across a bp floor boundary)
    val globalMean = Array.tabulate(dims) { i =>
      byLabel.values.map(_._1(i)).sum / totalN
    }
    def arrLit(a: Array[Long]) = s"array(${a.mkString("L,")}L)"
    val centCase = "CASE label " + byLabel.toSeq.sortBy(_._1).map {
      case (l, (a, n)) =>
        s"WHEN $l THEN ${arrLit(a.map(_ / n))}"
    }.mkString(" ") + " END"
    val dot = (a: String, b: String) =>
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
    qv.withColumn("c", expr(centCase))
      .withColumn("g", expr(arrLit(globalMean)))
      .select(col("label"),
        expr(c86CosBp(dot("q", "c"), dot("q", "q"), dot("c", "c"))).as("own_bp"),
        expr(c86CosBp(dot("q", "g"), dot("q", "q"), dot("g", "g"))).as("glob_bp"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("SUM(own_bp) DIV COUNT(1)").as("cohesion_bp"),
        expr("SUM(glob_bp) DIV COUNT(1)").as("global_bp"))
      .orderBy(col("label"))
  }

  val c86Sql: String = {
    val q = s"list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * $c86Q.0) AS BIGINT))"
    s"""WITH qv AS (SELECT vec_id, label, $q AS q FROM embeddings),
       |ex AS (SELECT vec_id, label, k.dim AS dim, q[k.dim + 1] AS x
       |       FROM qv, (SELECT unnest(range(0, 64)) AS dim) k),
       |cent AS (SELECT label, dim, CAST(SUM(x) AS BIGINT) // COUNT(*) AS c
       |         FROM ex GROUP BY label, dim),
       |gcent AS (SELECT dim, CAST(SUM(x) AS BIGINT) // COUNT(*) AS g
       |         FROM ex GROUP BY dim),
       |dots AS (
       |  SELECT e.vec_id, e.label,
       |    CAST(SUM(e.x * c.c) AS BIGINT) AS dqc,
       |    CAST(SUM(e.x * e.x) AS BIGINT) AS n2q,
       |    CAST(SUM(c.c * c.c) AS BIGINT) AS n2c,
       |    CAST(SUM(e.x * g.g) AS BIGINT) AS dqg,
       |    CAST(SUM(g.g * g.g) AS BIGINT) AS n2g
       |  FROM ex e
       |  JOIN cent c ON e.label = c.label AND e.dim = c.dim
       |  JOIN gcent g ON e.dim = g.dim
       |  GROUP BY e.vec_id, e.label),
       |scored AS (
       |  SELECT label,
       |    ${c86CosBp("dqc", "n2q", "n2c")} AS own_bp,
       |    ${c86CosBp("dqg", "n2q", "n2g")} AS glob_bp
       |  FROM dots)
       |SELECT label, COUNT(*) AS n_vecs,
       |  CAST(SUM(own_bp) // COUNT(*) AS BIGINT) AS cohesion_bp,
       |  CAST(SUM(glob_bp) // COUNT(*) AS BIGINT) AS global_bp
       |FROM scored GROUP BY label ORDER BY label""".stripMargin
  }

  // ------------------------------ C92 embedding-space decontamination
  /** C92: SEMANTIC decontamination — flag corpus examples whose embedding
    * is too close to a held-out benchmark's embedding set (the
    * contamination the exact/fingerprint passes C19/C25/C31 can NOT see:
    * a paraphrased eval question shares no 8-gram with the original but
    * lands next to it in embedding space; cf. the semantic-contamination
    * audits run on large pretraining corpora). Per corpus vector: the max
    * cosine against the eval set, how many eval vectors clear the
    * threshold, and the contaminated verdict.
    *
    * Scale shape: eval sets are BOUNDED (thousands of benchmark items) —
    * the eval side broadcasts and the corpus STREAMS past it exactly like
    * C6's query set; per-row cost is |eval| codegen'd [[DotProduct]]s and
    * the aggregation is a map-side-combined max/count per corpus row (no
    * shuffle of vector payloads at all — the groupBy key is the corpus
    * row id it was exploded from). At 100 TB the shortcut is to route
    * corpus rows through the C7/C13 bucket family against a bucketed eval
    * set and only verify colliding pairs — an approximation whose recall
    * is measured by C94's harness; THIS op is the exactness baseline that
    * gates it. Doubles follow the C6 doctrine: identical normalize-then-
    * dot op order in both engines, so max/comparisons are bit-exact.
    */
  private val c92Tau = 0.32
  private val c92EvalMod = 37

  def c92SemanticDecon(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val eval = e.where(col("vec_id") % c92EvalMod === 0)
      .select(col("vec_id").as("e_id"), col("nv").as("env"))
    e.where(col("vec_id") % c92EvalMod =!= 0)
      .crossJoin(broadcast(eval))
      .select(col("vec_id"), DotProduct(col("nv"), col("env")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_sim"),
        sum(when(col("sim") >= c92Tau, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("max_sim") >= c92Tau)
      .orderBy(col("vec_id"))
  }

  val c92Sql: String =
    s"""WITH $preparedDuck,
       |ev AS (SELECT vec_id AS e_id, nv AS env FROM prep WHERE vec_id % $c92EvalMod = 0),
       |sc AS (
       |  SELECT p.vec_id, ${nvDotDuck("p.nv", "ev.env")} AS sim
       |  FROM prep p CROSS JOIN ev WHERE p.vec_id % $c92EvalMod <> 0)
       |SELECT vec_id, MAX(sim) AS max_sim,
       |  CAST(SUM(CASE WHEN sim >= $c92Tau THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  MAX(sim) >= $c92Tau AS contaminated
       |FROM sc GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------ C99 bucketed decontamination
  /** C99: the 100 TB PATH for C92 — semantic decontamination through the
    * LSH bucket family instead of the exact eval broadcast: the eval set
    * is bucketed once (C7's hyperplanes), each corpus vector probes its
    * own bucket plus every hamming-1 neighbor (C13's multi-probe), and
    * only colliding (corpus, eval) pairs pay a dot product. Per corpus
    * vector: max similarity over REACHED eval vectors, hits ≥ τ,
    * verdict. At 100 TB the exact form scores |corpus|·|eval| pairs;
    * this form scores only collisions — the trade is RECALL, which is
    * not guessed at: the spec measures C99's flags against C92's exact
    * verdicts (every C99 flag is a C92 flag — no false accusations by
    * construction, since every scored pair uses the same exact dot),
    * and C94 is the standing harness for the same bucket geometry.
    * Corpus vectors reaching NO eval bucket emit a NULL max_sim — absent
    * evidence is reported as absent, not as similarity 0 (which would
    * be a claim about a dot product never computed).
    */
  def c99BucketedDecon(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val eval = e.where(col("vec_id") % c92EvalMod === 0)
      .select(col("vec_id").as("e_id"), col("nv").as("env"), col("bucket"))
    val probeCols = col("bucket") +:
      (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j)))
    val corpus = e.where(col("vec_id") % c92EvalMod =!= 0)
      .select(col("vec_id"), col("nv"),
        explode(array(probeCols: _*)).as("bucket"))
    val hits = corpus.join(broadcast(eval), "bucket")
      .select(col("vec_id"), DotProduct(col("nv"), col("env")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_sim"),
        sum(when(col("sim") >= c92Tau, 1L).otherwise(0L)).as("n_hits"))
    e.where(col("vec_id") % c92EvalMod =!= 0).select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("max_sim"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("max_sim") >= c92Tau, lit(false)).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  val c99Sql: String = {
    val probes = ("bucket" +: (0 until nPlanes).map(j => s"xor(bucket, ${1 << j})"))
      .mkString("[", ", ", "]")
    s"""WITH $preparedDuck,
       |ev AS (SELECT vec_id AS e_id, nv AS env, bucket FROM prep
       |       WHERE vec_id % $c92EvalMod = 0),
       |corpus AS (
       |  SELECT vec_id, nv, unnest($probes) AS bucket FROM prep
       |  WHERE vec_id % $c92EvalMod <> 0),
       |hits AS (
       |  SELECT c.vec_id, MAX(${nvDotDuck("c.nv", "ev.env")}) AS max_sim,
       |    CAST(SUM(CASE WHEN ${nvDotDuck("c.nv", "ev.env")} >= $c92Tau
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM corpus c JOIN ev USING (bucket) GROUP BY c.vec_id)
       |SELECT p.vec_id, h.max_sim,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  COALESCE(h.max_sim >= $c92Tau, false) AS contaminated
       |FROM (SELECT vec_id FROM prep WHERE vec_id % $c92EvalMod <> 0) p
       |LEFT JOIN hits h ON h.vec_id = p.vec_id
       |ORDER BY p.vec_id""".stripMargin
  }

  // ------------------------------ C94 ANN recall harness
  /** C94: RECALL measurement for the approximate index family — the gate
    * a pipeline runs BEFORE trusting an ANN shortcut for semantic dedup
    * or decontamination (an index with 40% recall silently keeps 60% of
    * the near-dups it was supposed to find). Ground truth is the exact
    * brute-force top-k (C6's plan at k=[[kLsh]]); each candidate method
    * (single-bucket LSH C7, multi-probe C13) is scored per query by
    * |method ∩ truth| and recall in basis points — all-integer, so the
    * verdict is hash-exact even though the underlying scores are doubles.
    *
    * Scale shape: every side is |queries|·k rows (the INDEX does the
    * heavy lifting; the harness only joins result lists) — the truth set
    * for a sampled query panel is cheap even at 100 TB corpus size
    * because C6's plan streams the corpus once for all queries together,
    * and the intersection join keys on (q_id, n_id) with both sides tiny.
    * Left-join semantics keep queries whose method list came back EMPTY
    * (recall 0), the failure mode a naive inner-join harness hides.
    */
  /** The recall computation itself, over any (truth, results) frames of
    * (q_id, n_id) — shared by the C94 gate and the D36 streaming-index
    * monitor (StreamDedupSpec), so live serving is gated by the SAME
    * harness as batch.
    */
  private[graft] def recallFrame(truth: DataFrame, res: DataFrame,
      method: String, k: Int = kLsh): DataFrame = {
    // truth and hits are |queries|·k / |queries| rows — broadcast both
    // sides so the method frame is never shuffled for the tiny joins
    val hits = res.select(col("q_id"), col("n_id"))
      .join(broadcast(truth), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    truth.select(col("q_id")).distinct()
      .join(broadcast(hits), Seq("q_id"), "left")
      .select(lit(method).as("method"), col("q_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        // DIV, not `/`: Column./ on longs is DOUBLE division in Spark
        expr(s"CAST(coalesce(n_hit, 0L) * 10000 DIV $k AS BIGINT)")
          .as("recall_bp"))
  }

  /** Batch brute-force truth set at k=[[kLsh]] — C94's ground truth,
    * shared with the D36 monitor.
    */
  private[graft] def recallTruth(s: SparkSession, d: String): DataFrame =
    c6AnnBruteforce(s, d).where(col("rk") <= kLsh)
      .select(col("q_id"), col("n_id"))

  def c94AnnRecall(s: SparkSession, d: String): DataFrame = {
    // |queries|·k rows behind a full brute-force scoring pass, consumed
    // FOUR times (hit join + query-id spine, × two methods) — without
    // the checkpoint each consumer re-ran the brute-force subtree
    // (no coalesce: it would narrow the brute-force scoring stage itself
    // to one task — the checkpoint's partition count is harmless)
    val truth = recallTruth(s, d).localCheckpoint(true)
    recallFrame(truth, c7AnnLsh(s, d), "lsh")
      .unionAll(recallFrame(truth, c13AnnMultiprobe(s, d), "multiprobe"))
      .orderBy(col("method"), col("q_id"))
  }

  val c94Sql: String = {
    val probes = ("bucket" +: (0 until nPlanes).map(j => s"xor(bucket, ${1 << j})"))
      .mkString("[", ", ", "]")
    s"""WITH $preparedDuck,
       |q AS (SELECT vec_id AS q_id, nv AS qnv, bucket FROM prep WHERE vec_id < $nQueries),
       |truth AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q.q_id, p.vec_id, ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY ${nvDotDuck("q.qnv", "p.nv")} DESC, p.vec_id) AS rk
       |    FROM prep p CROSS JOIN q WHERE p.vec_id >= $nQueries)
       |  WHERE rk <= $kLsh),
       |lsh AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT q.q_id, p.vec_id, ROW_NUMBER() OVER (PARTITION BY q.q_id
       |      ORDER BY ${nvDotDuck("q.qnv", "p.nv")} DESC, p.vec_id) AS rk
       |    FROM prep p JOIN q USING (bucket) WHERE p.vec_id >= $nQueries)
       |  WHERE rk <= $kLsh),
       |mq AS (SELECT vec_id AS q_id, nv AS qnv, unnest($probes) AS bucket
       |       FROM prep WHERE vec_id < $nQueries),
       |mp AS (
       |  SELECT q_id, vec_id AS n_id FROM (
       |    SELECT mq.q_id, p.vec_id, ROW_NUMBER() OVER (PARTITION BY mq.q_id
       |      ORDER BY ${nvDotDuck("mq.qnv", "p.nv")} DESC, p.vec_id) AS rk
       |    FROM prep p JOIN mq USING (bucket) WHERE p.vec_id >= $nQueries)
       |  WHERE rk <= $kLsh),
       |cand AS (
       |  SELECT 'lsh' AS method, q_id, n_id FROM lsh
       |  UNION ALL SELECT 'multiprobe', q_id, n_id FROM mp),
       |hits AS (
       |  SELECT b.method, b.q_id, COUNT(*) AS n_hit
       |  FROM cand b JOIN truth t ON b.q_id = t.q_id AND b.n_id = t.n_id
       |  GROUP BY b.method, b.q_id)
       |SELECT m.method, qs.q_id,
       |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) * 10000 // $kLsh AS BIGINT) AS recall_bp
       |FROM (SELECT DISTINCT q_id FROM truth) qs
       |CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'multiprobe') m
       |LEFT JOIN hits h ON h.method = m.method AND h.q_id = qs.q_id
       |ORDER BY m.method, qs.q_id""".stripMargin
  }

  // ------------------------------ C100 cluster-balanced selection
  /** C100: TOPIC-BALANCED sampling — cap every embedding cluster at the
    * same quota so over-represented topics stop dominating the mixture
    * (the cluster-balanced selection step of SemDeDup/DataComp-style
    * curation: near-duplicate topics collapse to their quota instead of
    * their popularity). Clusters are C38's trained k-means assignment
    * (the SAME artifact semantic dedup uses — one cluster model, two
    * policies); within each cluster the kept members are the quota-many
    * smallest by (md5 lane, vec_id) — C63's deterministic hash-ordered
    * prefix, so the sample is reproducible across runs/engines/cluster
    * sizes and NOT biased by vector id order. Output: every vector with
    * its cluster, cluster size, and the keep verdict.
    *
    * Scale shape: assignment is a projection against inlined centroid
    * literals (C14's trained-artifact pattern); the quota is enforced by
    * a window PARTITIONED by cluster (frame = cluster members — k grows
    * with the corpus, members per cluster stay samplable); no global
    * sort, no driver loop. The oracle re-trains the centroids in CTEs
    * bit-identically and applies the same ROW_NUMBER rule.
    */
  private val c100Quota = 20

  def c100ClusterBalance(s: SparkSession, d: String): DataFrame = {
    // checkpointed: the frame feeds both the size broadcast and the main
    // stream — without it the scan→normalize→assign chain ran twice
    val asg = c38Assigned(s, d).select(col("vec_id"), col("cent"))
      .localCheckpoint(true)
    val sizes = asg.groupBy(col("cent")).agg(count(lit(1)).as("cluster_n"))
    val w = Window.partitionBy(col("cent"))
      .orderBy(col("h"), col("vec_id"))
    asg
      .withColumn("h", expr(h64Spark("concat('cb:', CAST(vec_id AS STRING))")))
      .withColumn("rk", row_number().over(w))
      .join(broadcast(sizes), "cent")
      .select(col("vec_id"), col("cent"), col("cluster_n"),
        (col("rk") <= c100Quota).as("keep"))
      .orderBy(col("vec_id"))
  }

  // lazy: kmeansDuck initializes further down the file
  lazy val c100Sql: String =
    s"""WITH $preparedDuck,
       |$kmeansDuck,
       |asg AS (
       |  SELECT vec_id, cid AS cent FROM (
       |    SELECT p.vec_id, c.cid, ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM prep p CROSS JOIN kc$kmIters c) WHERE rk = 1),
       |ranked AS (
       |  SELECT vec_id, cent,
       |    ROW_NUMBER() OVER (PARTITION BY cent
       |      ORDER BY ${h64Duck("'cb:'||CAST(vec_id AS VARCHAR)")}, vec_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY cent) AS cluster_n
       |  FROM asg)
       |SELECT vec_id, cent, CAST(cluster_n AS BIGINT) AS cluster_n,
       |  rk <= $c100Quota AS keep
       |FROM ranked ORDER BY vec_id""".stripMargin

  // ------------------------------ C96 corpus↔embedding integrity audit
  /** C96: the PRECONDITION audit for every semantic op in the family —
    * before trusting ANN/semantic-dedup/decon output, verify the
    * embedding table actually COVERS the corpus and the vectors are
    * usable (a silent 3% of docs with no vector simply never dedups; a
    * NaN or zero-norm vector poisons every cosine it touches; B40's
    * referential-integrity doctrine applied to the ML side of the house).
    * One (check, n) row per invariant: totals, matched ids, docs without
    * a vector, vectors without a doc, wrong-dimension vectors, non-finite
    * components, zero-norm vectors.
    *
    * Scale shape: the two anti-joins key on the id (at 100 TB a bucketed
    * or zone-mapped join — B22's layout); the per-vector checks are one
    * projection + map-side-combined conditional aggregate, no shuffle of
    * the vector payloads; the union of 7 one-row aggregates is driver-
    * side assembly of already-reduced scalars. A clean corpus answers
    * zeros on the last four rows — absence IS the signal.
    */
  def c96CorpusIntegrity(s: SparkSession, d: String): DataFrame =
    integrityOf(Tables.documents(s, d).select(col("doc_id")),
      Tables.embeddings(s, d))

  /** The audit core over arbitrary (docs, vecs) frames — the spec feeds
    * it corrupted frames to prove every counter actually fires.
    */
  private[graft] def integrityOf(docs: DataFrame, vecs: DataFrame): DataFrame = {
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check"), col("n").cast("long").as("n"))
    val vstats = vecs.select(
      when(expr("size(embedding) != 64"), 1L).otherwise(0L).as("bad_dim"),
      when(expr("exists(embedding, x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))"),
        1L).otherwise(0L).as("nonfinite"),
      when(expr("aggregate(embedding, CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) = 0.0"),
        1L).otherwise(0L).as("zero_norm"))
      .agg(sum(col("bad_dim")).as("bad_dim"),
        sum(col("nonfinite")).as("nonfinite"),
        sum(col("zero_norm")).as("zero_norm"))
    one("docs_total", docs.agg(count(lit(1)).as("n")))
      .unionAll(one("vecs_total", vecs.agg(count(lit(1)).as("n"))))
      .unionAll(one("matched",
        docs.join(vecs.select(col("vec_id").as("doc_id")), "doc_id")
          .agg(count(lit(1)).as("n"))))
      .unionAll(one("docs_without_vec",
        docs.join(vecs.select(col("vec_id").as("doc_id")), Seq("doc_id"),
          "left_anti").agg(count(lit(1)).as("n"))))
      .unionAll(one("vecs_without_doc",
        vecs.select(col("vec_id").as("doc_id"))
          .join(docs, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n"))))
      // the three per-vector counters come from ONE aggregate, unpivoted
      // — three pruned union branches would re-scan the vectors 3×
      .unionAll(vstats.select(explode(map(
        lit("bad_dim"), col("bad_dim"),
        lit("nonfinite"), col("nonfinite"),
        lit("zero_norm"), col("zero_norm"))).as(Seq("check", "n")))
        .select(col("check"), col("n").cast("long").as("n")))
      .orderBy(col("check"))
  }

  val c96Sql: String =
    """SELECT "check", CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'docs_total' AS "check", COUNT(*) AS n FROM documents
      |  UNION ALL SELECT 'vecs_total', COUNT(*) FROM embeddings
      |  UNION ALL SELECT 'matched', COUNT(*)
      |    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |  UNION ALL SELECT 'docs_without_vec', COUNT(*)
      |    FROM documents d WHERE NOT EXISTS (
      |      SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
      |  UNION ALL SELECT 'vecs_without_doc', COUNT(*)
      |    FROM embeddings e WHERE NOT EXISTS (
      |      SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
      |  UNION ALL SELECT 'bad_dim',
      |    COUNT(*) FILTER (WHERE len(embedding) <> 64) FROM embeddings
      |  UNION ALL SELECT 'nonfinite',
      |    COUNT(*) FILTER (WHERE len(list_filter(embedding,
      |      x -> isnan(x) OR abs(x) = CAST('Infinity' AS DOUBLE))) > 0)
      |    FROM embeddings
      |  UNION ALL SELECT 'zero_norm',
      |    COUNT(*) FILTER (WHERE list_reduce(list_prepend(0.0,
      |      list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (s, x) -> s + x) = 0.0)
      |    FROM embeddings)
      |ORDER BY "check"""".stripMargin

  // --------------------------------------------- C7 LSH-bucketed ANN
  def c7AnnLsh(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"), col("bucket"))
    val corpus = e.where(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(q), "bucket")
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kLsh)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c7Sql: String =
    s"""WITH $preparedDuck,
       |q AS (SELECT vec_id AS q_id, nv AS qnv, bucket FROM prep WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, prep.vec_id AS vec_id, ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM prep JOIN q USING (bucket) WHERE prep.vec_id >= $nQueries),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kLsh ORDER BY q_id, rk""".stripMargin

  // ------------------------------------------- C13 multi-probe LSH ANN
  /** Multi-probe LSH: each query searches its own bucket PLUS every bucket
    * at hamming distance 1 in sign-space (flip one hyperplane) — the
    * standard recall recovery that costs probe-count on the tiny query
    * side and nothing on the corpus layout. A neighbor lives in exactly
    * one bucket, so probes never duplicate candidates.
    */
  def c13AnnMultiprobe(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val probeCols = col("bucket") +:
      (0 until nPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j)))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"),
        explode(array(probeCols: _*)).as("bucket"))
    val corpus = e.where(col("vec_id") >= nQueries)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    corpus.join(broadcast(q), "bucket")
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kLsh)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c13Sql: String = {
    val probes = ("bucket" +: (0 until nPlanes).map(j => s"xor(bucket, ${1 << j})"))
      .mkString("[", ", ", "]")
    s"""WITH $preparedDuck,
       |q AS (SELECT vec_id AS q_id, nv AS qnv, unnest($probes) AS bucket
       |      FROM prep WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT q_id, prep.vec_id AS vec_id, ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM prep JOIN q USING (bucket) WHERE prep.vec_id >= $nQueries),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kLsh ORDER BY q_id, rk""".stripMargin
  }

  // ------------------------------------------------- C14 IVF-flat ANN
  /** IVF (inverted-file) ANN with TRAINED centroids: a deterministic
    * spherical k-means (fixed sample, fixed init, [[kmIters]] Lloyd
    * iterations) learns [[nCentroids]] centroids; corpus vectors are
    * assigned to their nearest centroid; a query probes its [[nProbe]]
    * nearest centroid lists and ranks only those. At scale the centroid
    * id is the partition key: each query touches nProbe/nCentroids of
    * the corpus.
    *
    * Training is driver-side over a deterministic BOUNDED sample: the
    * [[kmSampleCap]] vectors with the lowest md5 lane (a hash-ordered
    * prefix — the C63 uniform-sample trick as a distributed TakeOrdered,
    * so the driver holds O(cap) rows NO MATTER the corpus size; a
    * fraction-of-corpus predicate like `vec_id % 4 = 0` would OOM the
    * driver at 100 TB), with strictly sequential vec_id-ordered
    * accumulation. The ORACLE re-trains the SAME algorithm in unrolled
    * SQL CTEs whose sums are list_reduce folds over vec_id-ordered
    * lists — an independent implementation that must agree bit-for-bit,
    * so an off-by-one in either training loop fails the gate.
    */
  private val nCentroids = 16
  private val nProbe = 2
  private val kIvf = 5
  private val kmIters = 3
  private[ops] val kmSampleCap = 2048

  /** Deterministic spherical k-means over the sample. Init = first
    * [[nCentroids]] sample vectors (vec_id order); assignment = max
    * cosine, first-lowest-cid on ties; update = mean of assigned vectors
    * accumulated in vec_id order, renormalized; empty cluster keeps its
    * previous centroid.
    */
  private[graft] def trainCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    graft.core.Memo(s, s"centroids:$d")(trainCentroidsUncached(s, d))

  private def trainCentroidsUncached(s: SparkSession, d: String): Array[Array[Double]] = {
    val sample = kmSample(s, d)
    var cents = sample.take(nCentroids).map(_._2)
    var it = 0
    while (it < kmIters) {
      val sums = Array.fill(nCentroids)(new Array[Double](64))
      val counts = new Array[Long](nCentroids)
      sample.foreach { case (_, v) =>
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < nCentroids) {
          val sim = DotProduct.dot(v, cents(c))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < 64) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(nCentroids) { c =>
        if (counts(c) == 0L) cents(c)
        else {
          val m = Array.tabulate(64)(i => sums(c)(i) / counts(c))
          val nrm = math.sqrt(DotProduct.dot(m, m))
          m.map(_ / nrm)
        }
      }
      it += 1
    }
    cents
  }

  /** (vec_id, nv, cent) — every vector tagged with its nearest trained
    * centroid.
    *
    * ZERO-exchange assignment: the trained centroids are driver-side
    * constants inlined as literals, so the argmax is a single narrow
    * projection — all 16 dot products + first-position-of-max computed
    * per row inside codegen, no join, no shuffle. `array_position`
    * returns the FIRST max index and the centroid array is cid-ascending,
    * so ties break exactly like the oracle's ORDER BY sim DESC, cid.
    */
  private def ivfAssigned(e: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val simCols = cents.map(cv => DotProduct(col("nv"), lit(cv)))
    e.select(col("vec_id"), col("nv"),
        array(simCols.toIndexedSeq: _*).as("sims"))
      .select(col("vec_id"), col("nv"),
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("bigint")
          .as("cent"))
  }

  /** Per-query probe list: its nProbe nearest trained centroids, via the
    * same literal-inlined dot products (shuffle-free; the probe set is a
    * k-row frame that broadcasts into the candidate join). Shared by C14
    * and C33.
    */
  private def ivfProbes(s: SparkSession, e: DataFrame,
                        cents: Array[Array[Double]]): DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("qsim").desc, col("cent"))
    import s.implicits._
    val seeds = cents.toSeq.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }.toDF("cent", "sv")
    e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"))
      .crossJoin(broadcast(seeds))
      .select(col("q_id"), col("qnv"), col("cent"),
        DotProduct(col("qnv"), col("sv")).as("qsim"))
      .withColumn("prk", row_number().over(wq))
      .where(col("prk") <= nProbe)
      .select(col("q_id"), col("qnv"), col("cent"))
  }

  def c14AnnIvf(s: SparkSession, d: String): DataFrame = {
    val cents = trainCentroids(s, d)
    val e = prepared(s, d)
    val assigned = ivfAssigned(e, cents)
    val probes = ivfProbes(s, e, cents)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.where(col("vec_id") >= nQueries)
      .join(broadcast(probes), "cent")
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kIvf)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The oracle's k-means: [[kmIters]] unrolled iterations. Every sum is
    * a sequential list_reduce fold over a vec_id-ordered (or
    * position-ordered) list, matching the Scala loop's accumulation order
    * exactly — bit-identical doubles by construction, independently
    * implemented.
    */
  private val kmeansDuck: String = {
    val init =
      s"""kc0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, nv AS cv
         |  FROM (SELECT vec_id, nv FROM ksample ORDER BY vec_id LIMIT $nCentroids))"""
        .stripMargin
    val iters = (1 to kmIters).map { t =>
      val prev = s"kc${t - 1}"
      s"""ka$t AS (
         |  SELECT vec_id, nv, cid FROM (
         |    SELECT s.vec_id, s.nv, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${nvDotDuck("s.nv", "c.cv")} DESC, c.cid) AS rk
         |    FROM ksample s CROSS JOIN $prev c) WHERE rk = 1),
         |km$t AS (
         |  SELECT cid, list(m ORDER BY i) AS mv FROM (
         |    SELECT cid, i,
         |      list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)), (a, x) -> a + x)
         |        / COUNT(*) AS m
         |    FROM (SELECT cid, vec_id, i, nv[i] AS val FROM ka$t, range(1, 65) t(i))
         |    GROUP BY cid, i)
         |  GROUP BY cid),
         |kc$t AS (
         |  SELECT c.cid,
         |    COALESCE(list_transform(n.mv, x -> x / sqrt(${nvDotDuck("n.mv", "n.mv")})), c.cv) AS cv
         |  FROM kc${t - 1} c LEFT JOIN km$t n ON c.cid = n.cid)""".stripMargin
    }
    val ksampleCte = "ksample AS (SELECT vec_id, nv FROM prep " +
      s"ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $kmSampleCap)"
    (ksampleCte +: init +: iters).mkString(",\n")
  }

  val c14Sql: String =
    s"""WITH $preparedDuck,
       |$kmeansDuck,
       |assigned AS (
       |  SELECT vec_id, nv, cid AS cent FROM (
       |    SELECT p.vec_id AS vec_id, p.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM prep p CROSS JOIN kc$kmIters c)
       |  WHERE rk = 1),
       |probes AS (
       |  SELECT q_id, qnv, cent FROM (
       |    SELECT p.vec_id AS q_id, p.nv AS qnv, c.cid AS cent,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS prk
       |    FROM prep p CROSS JOIN kc$kmIters c WHERE p.vec_id < $nQueries)
       |  WHERE prk <= $nProbe),
       |scored AS (
       |  SELECT q_id, assigned.vec_id AS vec_id, ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM assigned JOIN probes USING (cent) WHERE assigned.vec_id >= $nQueries),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kIvf ORDER BY q_id, rk""".stripMargin

  // --------------------------------------------------- C33 IVF-PQ ANN
  /** C33: IVF with PRODUCT-QUANTIZED codes (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search") — the compressed-index
    * scale path past C14's IVF-flat. The 64-dim vector splits into
    * [[pqM]] subspaces of [[pqDim]] dims; per subspace a deterministic
    * k-means (same Lloyd discipline as C14, L2 objective via the
    * 2·q·c − |c|² expansion) learns [[kPq]] sub-centroids; a corpus
    * vector is stored as its coarse IVF list id + [[pqM]] small codes.
    *
    * Why it matters at 100 TB: the candidate join moves 4 ints per
    * corpus row instead of 64 doubles (the full vector is DROPPED after
    * encoding — 128× less candidate traffic), and ranking is asymmetric
    * distance computation (ADC): the query scores a candidate as
    * Σₘ ⟨q_subₘ, codebookₘ[codeₘ]⟩ — dot products against sub-centroid
    * literals inside codegen, never touching the original vector. No
    * residual encoding (codes quantize raw vectors, not v − coarse), the
    * standard simplification when the coarse grid is small.
    *
    * Oracle: re-trains all [[pqM]] codebooks AND the coarse k-means in
    * unrolled SQL (C14's pattern) and must agree bit-for-bit on the ADC
    * scores — an off-by-one in any of the 5 training loops fails the
    * gate.
    */
  private val pqM = 4
  private val pqDim = 16
  private val kPq = 16

  /** Deterministic per-subspace k-means over the C14 sample: init = first
    * [[kPq]] sample subvectors (vec_id order); assignment = max
    * 2·⟨v,c⟩ − |c|² (≡ min L2), first-lowest-cid on ties; update =
    * arithmetic mean accumulated in vec_id order (no renormalization —
    * sub-centroids are not unit vectors); empty cluster keeps its
    * previous centroid.
    */
  /** The deterministic BOUNDED training sample all driver-side trainers
    * share: the [[kmSampleCap]] vectors with the lowest md5("km:"+vec_id)
    * lane (distributed TakeOrdered — O(cap) driver memory at any corpus
    * size), re-sorted to vec_id order for the sequential accumulators.
    */
  // Trainer memo: sample + trained artifacts are pure functions of the
  // fixture content, and seven ANN gates each re-derive them — memoized
  // per session (core.Memo), so the sample collect job and the Lloyd
  // loops run once per session over the listing Tables.load pins, not
  // once per gate. In a real deployment this is the persisted
  // codebook/centroid artifact table (C50's shape).
  private[graft] def kmSample(s: SparkSession, d: String): Array[(Long, Array[Double])] =
    graft.core.Memo(s, s"kmsample:$d")(
      prepared(s, d)
        .orderBy(md5(concat(lit("km:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(kmSampleCap)
        .select(col("vec_id"), col("nv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1))

  private[ops] def trainPq(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    graft.core.Memo(s, s"pq:$d")(trainPqOn(kmSample(s, d)))

  /** The per-subspace Lloyd loop over an arbitrary 64-dim sample — raw
    * vectors for C33, coarse-assignment residuals for C35.
    */
  private[ops] def trainPqOn(sample: Array[(Long, Array[Double])]): Array[Array[Array[Double]]] = {
    Array.tabulate(pqM) { m =>
      val sub = sample.map { case (id, v) => (id, v.slice(m * pqDim, (m + 1) * pqDim)) }
      var cents = sub.take(kPq).map(_._2)
      var it = 0
      while (it < kmIters) {
        val cc = cents.map(c => DotProduct.dot(c, c))
        val sums = Array.fill(kPq)(new Array[Double](pqDim))
        val counts = new Array[Long](kPq)
        sub.foreach { case (_, v) =>
          var best = 0
          var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < kPq) {
            val sc = 2.0 * DotProduct.dot(v, cents(c)) - cc(c)
            if (sc > bestScore) { bestScore = sc; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < pqDim) { sums(best)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(kPq) { c =>
          if (counts(c) == 0L) cents(c)
          else Array.tabulate(pqDim)(i => sums(c)(i) / counts(c))
        }
        it += 1
      }
      cents
    }
  }

  /** The shared ADC-scored candidate frame: (q_id, qnv, vec_id,
    * adc_sim) — probes broadcast into the encoded corpus.
    */
  private def pqAdcScored(s: SparkSession, d: String): DataFrame = {
    val coarse = trainCentroids(s, d)
    val cbs = trainPq(s, d)
    val e = prepared(s, d)
    // PQ-encode: argmax of 2·⟨v,c⟩ − |c|² per subspace, all sub-centroids
    // inlined as literals — a zero-exchange projection; nv is DROPPED
    val codeCols = (0 until pqM).map { m =>
      val sub = slice(col("nv"), m * pqDim + 1, pqDim)
      val scores = array(cbs(m).map { cv =>
        lit(2.0) * DotProduct(sub, lit(cv)) - lit(DotProduct.dot(cv, cv))
      }.toIndexedSeq: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int").as(s"code$m")
    }
    val encoded = ivfAssigned(e, coarse)
      .where(col("vec_id") >= nQueries)
      .select(col("vec_id") +: col("cent") +: codeCols: _*)
    val probes = ivfProbes(s, e, coarse)
    // ADC: the query's subvector dotted with the candidate's decoded
    // sub-centroid, summed across subspaces m = 0..3 (left-assoc, the
    // oracle's + chain)
    val adc = (0 until pqM).map { m =>
      val qsub = slice(col("qnv"), m * pqDim + 1, pqDim)
      val cbLit = centArrLit(cbs(m))
      DotProduct(qsub, element_at(cbLit, col(s"code$m") + 1))
    }.reduce(_ + _)
    encoded.join(broadcast(probes), "cent")
      .select(col("q_id"), col("qnv"), col("vec_id"), adc.as("adc_sim"))
  }

  def c33AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
    pqAdcScored(s, d)
      .select(col("q_id"), col("vec_id"), col("adc_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kIvf)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("adc_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  // ------------------------------------------ C34 PQ + exact re-rank
  /** C34: the production IVF-PQ query shape — ADC shortlists
    * [[rerankR]] candidates per query from the compressed codes, then an
    * EXACT re-rank recovers true cosine order for the final top-k
    * (Jégou et al. 2011 §V; what faiss calls refine). The shortlist is
    * |queries|·R rows, so it BROADCASTS back into one corpus probe that
    * fetches exact vectors — the expensive full-precision read touches R
    * rows per query, never a list, never the corpus. Recall vs brute
    * force is then bounded only by the candidate stage (measured in
    * SimilaritySpec), while the reported similarities are exact.
    */
  private val rerankR = 20

  def c34AnnPqRerank(s: SparkSession, d: String): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
    val shortlist = pqAdcScored(s, d)
      .withColumn("ark", row_number().over(wAdc))
      .where(col("ark") <= rerankR)
      .select(col("q_id"), col("qnv"), col("vec_id"))
    val wX = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    prepared(s, d).select(col("vec_id"), col("nv"))
      .join(broadcast(shortlist), "vec_id")
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(wX))
      .where(col("rk") <= kIvf)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** 16-dim sequential dot fold (subspace width). */
  private def dot16Duck(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${pqDim + 1}), i -> $a[i] * $b[i])), (s, x) -> s + x)"

  /** Unrolled per-subspace PQ k-means over `src`.`vcol` (a 64-dim list
    * column) → codebook lists `$cbPfx<m>`. C33 trains on ksample.nv, C35
    * on the residual sample — same loop, mirroring [[trainPqOn]].
    */
  private def pqKmeansDuckOn(src: String, vcol: String, pfx: String, cbPfx: String,
                             materialized: Boolean = false): String = {
    val mat = if (materialized) "MATERIALIZED " else ""
    (0 until pqM).map { m =>
      val lo = m * pqDim + 1
      val hi = (m + 1) * pqDim
      val init =
        s"""${pfx}s$m AS $mat(SELECT vec_id, $vcol[$lo:$hi] AS sub FROM $src),
           |$pfx${m}c0 AS (
           |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, sub AS cv
           |  FROM (SELECT vec_id, sub FROM ${pfx}s$m ORDER BY vec_id LIMIT $kPq))""".stripMargin
      val iters = (1 to kmIters).map { t =>
        s"""$pfx${m}a$t AS (
           |  SELECT vec_id, sub, cid FROM (
           |    SELECT s.vec_id, s.sub, c.cid,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
           |        ORDER BY 2.0 * ${dot16Duck("s.sub", "c.cv")} - ${dot16Duck("c.cv", "c.cv")} DESC, c.cid) AS rk
           |    FROM ${pfx}s$m s CROSS JOIN $pfx${m}c${t - 1} c) WHERE rk = 1),
           |$pfx${m}m$t AS (
           |  SELECT cid, list(mn ORDER BY i) AS mv FROM (
           |    SELECT cid, i,
           |      list_reduce(list_prepend(0.0, list(val ORDER BY vec_id)), (a, x) -> a + x)
           |        / COUNT(*) AS mn
           |    FROM (SELECT cid, vec_id, i, sub[i] AS val FROM $pfx${m}a$t, range(1, ${pqDim + 1}) t(i))
           |    GROUP BY cid, i)
           |  GROUP BY cid),
           |$pfx${m}c$t AS (
           |  SELECT c.cid, COALESCE(n.mv, c.cv) AS cv
           |  FROM $pfx${m}c${t - 1} c LEFT JOIN $pfx${m}m$t n ON c.cid = n.cid)""".stripMargin
      }
      (init +: iters).mkString(",\n") +
        s",\n$cbPfx$m AS $mat(SELECT list(cv ORDER BY cid) AS cb FROM $pfx${m}c$kmIters)"
    }.mkString(",\n")
  }

  /** Unrolled per-subspace PQ k-means + cb0..cb3 codebook lists. */
  private val pqKmeansDuck: String = pqKmeansDuckOn("ksample", "nv", "pq", "cb")

  /** The shared WITH-prefix up to `scored` (ADC-scored candidates incl.
    * the query vector), used by both the c33 and c34 oracles.
    */
  private val pqScoredDuck: String = {
    val scoreLists = (0 until pqM).map { m =>
      val lo = m * pqDim + 1
      val hi = (m + 1) * pqDim
      s"""list_transform(range(1, ${kPq + 1}), c ->
         |        2.0 * ${dot16Duck(s"a.nv[$lo:$hi]", s"cb$m.cb[c]")} - ${dot16Duck(s"cb$m.cb[c]", s"cb$m.cb[c]")}) AS s$m""".stripMargin
    }.mkString(",\n      ")
    val codePick = (0 until pqM).map(m =>
      s"list_indexof(s$m, list_aggregate(s$m, 'max')) - 1 AS code$m").mkString(",\n    ")
    val adcTerms = (0 until pqM).map { m =>
      val lo = m * pqDim + 1
      val hi = (m + 1) * pqDim
      dot16Duck(s"qnv[$lo:$hi]", s"cb$m.cb[code$m + 1]")
    }.mkString("\n    + ")
    s"""$preparedDuck,
       |$kmeansDuck,
       |$pqKmeansDuck,
       |assigned AS (
       |  SELECT vec_id, nv, cid AS cent FROM (
       |    SELECT p.vec_id AS vec_id, p.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM prep p CROSS JOIN kc$kmIters c)
       |  WHERE rk = 1),
       |codes AS (
       |  SELECT vec_id, cent,
       |    $codePick
       |  FROM (
       |    SELECT a.vec_id, a.cent,
       |      $scoreLists
       |    FROM assigned a, cb0, cb1, cb2, cb3)
       |  WHERE vec_id >= $nQueries),
       |probes AS (
       |  SELECT q_id, qnv, cent FROM (
       |    SELECT p.vec_id AS q_id, p.nv AS qnv, c.cid AS cent,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS prk
       |    FROM prep p CROSS JOIN kc$kmIters c WHERE p.vec_id < $nQueries)
       |  WHERE prk <= $nProbe),
       |scored AS (
       |  SELECT q_id, qnv, c.vec_id AS vec_id,
       |    $adcTerms AS adc_sim
       |  FROM codes c JOIN probes USING (cent), cb0, cb1, cb2, cb3)""".stripMargin
  }

  val c33Sql: String =
    s"""WITH $pqScoredDuck,
       |ranked AS (
       |  SELECT q_id, vec_id, adc_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, adc_sim FROM ranked
       |WHERE rk <= $kIvf ORDER BY q_id, rk""".stripMargin

  // ------------------------------------ C35 residual-encoded IVF-PQ ANN
  /** C35: IVF-PQ with RESIDUAL encoding (Jégou et al. 2011 §III.C — the
    * full "IVFADC" construction C33 simplifies away): PQ codes quantize
    * `v − coarse_centroid(v)` instead of `v`. When the coarse quantizer
    * captures real cluster structure (cos-to-centroid near 1, the regime
    * of production embedding corpora), residuals concentrate near the
    * origin with far smaller per-subspace variance than raw vectors, so
    * the same 4×16-centroid code budget quantizes finer and ADC tightens.
    * The synthetic fixture corpus is near-uniform on the sphere (measured
    * mean cos-to-nearest-coarse ≈ 0.29, so ‖residual‖² ≈ 2 − 2·0.29 ≈
    * 1.4 > ‖v‖² = 1): residuals are the LARGER signal there and raw-code
    * C33 wins instead. SimilaritySpec asserts exactly that invariant —
    * whichever signal is smaller quantizes tighter — rather than an
    * unconditional winner, which is the actual content of the IVFADC
    * design.
    *
    * ADC decomposes exactly: ⟨q, c + r̂⟩ = ⟨q, c⟩ + Σₘ ⟨q_subₘ,
    * cbₘ[codeₘ]⟩. The ⟨q, c⟩ term is per (query, probed list) — computed
    * once on the tiny probe frame, NOT per candidate — so the candidate
    * scan stays the same 4-codes-per-row ADC as C33 plus one constant.
    * The corpus row still stores only (coarse id, 4 codes); the residual
    * is a transient expression under the encode projection, never
    * materialized.
    *
    * Oracle: re-trains the coarse k-means AND the 4 residual codebooks
    * (residuals re-derived from ITS re-trained coarse centroids) in
    * unrolled SQL, agreeing bit-for-bit on ADC scores.
    */
  private[graft] def residualSample(sample: Array[(Long, Array[Double])],
                                    cents: Array[Array[Double]]): Array[(Long, Array[Double])] =
    sample.map { case (id, v) =>
      var best = 0
      var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < nCentroids) {
        val sim = DotProduct.dot(v, cents(c))
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      (id, Array.tabulate(64)(i => v(i) - cents(best)(i)))
    }

  /** One nested-array LITERAL node, not a CreateArray tree of 16x64
    * scalar literals: the inlined-codebook expression trees made
    * analysis/optimization/codegen the dominant cost of every ANN gate
    * (~0.6 s per execution outside any Spark job; the c33 formatted plan
    * was 152 KB). Values are identical - ConstantFolding collapsed the
    * tree to this same literal at runtime anyway; only the planning-time
    * tree walk shrinks (guide par.7.3, planning cost).
    */
  private def centArrLit(cents: Array[Array[Double]]): Column =
    typedlit(cents.map(_.toSeq).toSeq)

  def c35AnnPqResidual(s: SparkSession, d: String): DataFrame = {
    val coarse = trainCentroids(s, d)
    val cbs = trainPqOn(residualSample(kmSample(s, d), coarse))
    val e = prepared(s, d)
    val cArr = centArrLit(coarse)
    // residual under the encode projection only: rv = nv − coarse[cent]
    val withRes = ivfAssigned(e, coarse)
      .where(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("cent"),
        zip_with(col("nv"),
          element_at(cArr, (col("cent") + 1).cast("int")),
          (a, b) => a - b).as("rv"))
    val codeCols = (0 until pqM).map { m =>
      val sub = slice(col("rv"), m * pqDim + 1, pqDim)
      val scores = array(cbs(m).map { cv =>
        lit(2.0) * DotProduct(sub, lit(cv)) - lit(DotProduct.dot(cv, cv))
      }.toIndexedSeq: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int").as(s"code$m")
    }
    val encoded = withRes.select(col("vec_id") +: col("cent") +: codeCols: _*)
    // ⟨q, coarse[cent]⟩ once per probe pair, on the k-row probe frame
    val probes = ivfProbes(s, e, coarse)
      .select(col("q_id"), col("qnv"), col("cent"),
        DotProduct(col("qnv"), element_at(cArr, (col("cent") + 1).cast("int")))
          .as("qdotc"))
    val adc = (0 until pqM).map { m =>
      val qsub = slice(col("qnv"), m * pqDim + 1, pqDim)
      val cbLit = centArrLit(cbs(m))
      DotProduct(qsub, element_at(cbLit, col(s"code$m") + 1))
    }.foldLeft(col("qdotc"))(_ + _)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
    encoded.join(broadcast(probes), "cent")
      .select(col("q_id"), col("vec_id"), adc.as("adc_sim"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kIvf)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("adc_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c35Sql: String = {
    val scoreLists = (0 until pqM).map { m =>
      val lo = m * pqDim + 1
      val hi = (m + 1) * pqDim
      s"""list_transform(range(1, ${kPq + 1}), c ->
         |        2.0 * ${dot16Duck(s"r.rv[$lo:$hi]", s"rcb$m.cb[c]")} - ${dot16Duck(s"rcb$m.cb[c]", s"rcb$m.cb[c]")}) AS s$m""".stripMargin
    }.mkString(",\n      ")
    val codePick = (0 until pqM).map(m =>
      s"list_indexof(s$m, list_aggregate(s$m, 'max')) - 1 AS code$m").mkString(",\n    ")
    val adcTerms = (0 until pqM).map { m =>
      val lo = m * pqDim + 1
      val hi = (m + 1) * pqDim
      dot16Duck(s"qnv[$lo:$hi]", s"rcb$m.cb[code$m + 1]")
    }.mkString("\n    + ")
    s"""WITH $preparedDuck,
       |$kmeansDuck,
       |kcf AS MATERIALIZED (SELECT cid, cv FROM kc$kmIters),
       |rsamp AS MATERIALIZED (
       |  SELECT vec_id, nv, cid FROM (
       |    SELECT s.vec_id, s.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${nvDotDuck("s.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM ksample s CROSS JOIN kcf c) WHERE rk = 1),
       |rres AS MATERIALIZED (
       |  SELECT r.vec_id, list_transform(range(1, 65), i -> r.nv[i] - c.cv[i]) AS rv
       |  FROM rsamp r JOIN kcf c ON r.cid = c.cid),
       |${pqKmeansDuckOn("rres", "rv", "rq", "rcb", materialized = true)},
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, nv, cid AS cent FROM (
       |    SELECT p.vec_id AS vec_id, p.nv, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM prep p CROSS JOIN kcf c)
       |  WHERE rk = 1),
       |rescorp AS MATERIALIZED (
       |  SELECT a.vec_id, a.cent, list_transform(range(1, 65), i -> a.nv[i] - c.cv[i]) AS rv
       |  FROM assigned a JOIN kcf c ON a.cent = c.cid
       |  WHERE a.vec_id >= $nQueries),
       |rcodes AS (
       |  SELECT vec_id, cent,
       |    $codePick
       |  FROM (
       |    SELECT r.vec_id, r.cent,
       |      $scoreLists
       |    FROM rescorp r, rcb0, rcb1, rcb2, rcb3)),
       |rprobes AS (
       |  SELECT q_id, qnv, cent, qdotc FROM (
       |    SELECT p.vec_id AS q_id, p.nv AS qnv, c.cid AS cent,
       |      ${nvDotDuck("p.nv", "c.cv")} AS qdotc,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS prk
       |    FROM prep p CROSS JOIN kcf c WHERE p.vec_id < $nQueries)
       |  WHERE prk <= $nProbe),
       |rscored AS (
       |  SELECT q_id, c.vec_id AS vec_id,
       |    qdotc + $adcTerms AS adc_sim
       |  FROM rcodes c JOIN rprobes USING (cent), rcb0, rcb1, rcb2, rcb3),
       |ranked AS (
       |  SELECT q_id, vec_id, adc_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, vec_id) AS INT) AS rk
       |  FROM rscored)
       |SELECT q_id, vec_id AS n_id, rk, adc_sim FROM ranked
       |WHERE rk <= $kIvf ORDER BY q_id, rk""".stripMargin
  }

  val c34Sql: String =
    s"""WITH $pqScoredDuck,
       |shortlist AS (
       |  SELECT q_id, qnv, vec_id FROM (
       |    SELECT q_id, qnv, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, vec_id) AS ark
       |    FROM scored)
       |  WHERE ark <= $rerankR),
       |rerank AS (
       |  SELECT q_id, s.vec_id AS vec_id, ${nvDotDuck("s.qnv", "p.nv")} AS cos_sim
       |  FROM shortlist s JOIN prep p ON s.vec_id = p.vec_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM rerank)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kIvf ORDER BY q_id, rk""".stripMargin

  // ------------------------------------------------- C38 SemDeDup
  /** C38: SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * k-means-cluster the embedding space (C14's trained centroids), then
    * prune near-duplicates WITHIN each cluster — pairs with cosine ≥
    * [[semEps]] — keeping, per the paper, the member with the LOWEST
    * similarity to its cluster centroid (the most "marginal" example;
    * ties break to the lowest vec_id). A vector is dropped iff some
    * same-cluster semantic duplicate dominates it on (cent_sim, vec_id).
    *
    * Scale shape: this is the whole point of SemDeDup — the pair search
    * is CLUSTER-LOCAL. k grows with the corpus (k ≈ n / target-cluster-
    * size keeps cluster sizes bounded), the equi-join on the centroid id
    * touches O(cluster²) pairs per cluster instead of O(n²), and the
    * centroid id doubles as the partition key so the join never shuffles
    * a vector to more than one cluster. Output is integer/boolean only
    * (verdict + duplicate degree), so the gate is hash-exact; the oracle
    * re-trains the same k-means (C14's unrolled CTEs) and re-derives the
    * verdicts independently.
    */
  private val semEps = 0.3

  /** (vec_id, nv, cent, cent_sim) — every vector with its cluster and its
    * similarity to the cluster centroid. cent_sim = max over centroids;
    * cent = first argmax (lowest cid), matching the oracle's
    * `ORDER BY sim DESC, cid`.
    */
  private[graft] def c38Assigned(s: SparkSession, d: String): DataFrame =
    assignOn(prepared(s, d), trainCentroids(s, d))

  /** Centroid assignment over any (vec_id, nv) frame given a trained
    * centroid artifact — the offline-train / online-apply seam: shared
    * by C38/C100 batch and the D37 streaming sampler, so live and batch
    * cannot disagree about a vector's topic.
    */
  private[graft] def assignOn(df: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val simCols = cents.map(cv => DotProduct(col("nv"), lit(cv)))
    df
      .select(col("vec_id"), col("nv"), array(simCols.toIndexedSeq: _*).as("sims"))
      .select(col("vec_id"), col("nv"),
        (array_position(col("sims"), array_max(col("sims"))) - 1).cast("bigint")
          .as("cent"),
        array_max(col("sims")).as("cent_sim"))
  }

  /** The trained-centroid artifact, exposed for the streaming mirror. */
  private[graft] def centroidArtifact(s: SparkSession, d: String): Array[Array[Double]] =
    trainCentroids(s, d)

  /** Lane count for the in-cluster pair join: the smallest L whose
    * triangular cell count per cluster, L(L+1)/2, gives the pair stage at
    * least ~2 cells per core across all clusters — |centroids| is a FIXED
    * training constant, so without lanes the join collapses to
    * |centroids| reduce tasks no matter how large the corpus or cluster
    * is (guide §2.2/§2.5: the one key set that cannot grow). Each vector
    * ships L times (once per cell it participates in) — the triangle
    * costs √-of-parallelism replication where a salt costs
    * parallelism-linear replication of a full corpus side (the r12 salt
    * experiment, measured and reverted). L=1 degenerates to the plain
    * cent join (8-core local runs land here).
    */
  private[graft] def c38Lanes(parallelism: Int, nCents: Int): Int = {
    val perCent = 2.0 * parallelism / math.max(1, nCents)
    math.max(1, math.ceil((math.sqrt(8.0 * perCent + 1.0) - 1.0) / 2.0).toInt)
  }

  def c38SemanticDedup(s: SparkSession, d: String): DataFrame =
    c38SemanticDedupWith(s, d,
      c38Lanes(s.sparkContext.defaultParallelism, trainCentroids(s, d).length))

  /** Lane-parameterized form — [[SimilaritySpec]] pins that every lane
    * count enumerates the identical pair set (L = 1 is the plain cent
    * self-join).
    */
  private[graft] def c38SemanticDedupWith(s: SparkSession, d: String,
      lanes: Int): DataFrame = {
    // checkpointed: the frame feeds three executions (both sides of the
    // in-cluster pair join and the final left join back) — without it
    // the scan→normalize→assign chain re-runs per consumer.
    val asg = c38Assigned(s, d).localCheckpoint(true)
    // In-cluster pair enumeration over (cent, lane-cell) instead of cent
    // alone. Every vector gets a deterministic lane (pmod(xxhash64) —
    // never rand(): retried map tasks must reproduce the assignment,
    // guide §2.5) and is emitted once into each of its L triangular
    // cells (ca ≤ cb). A pair with lanes (bx, by) meets in EXACTLY one
    // cell: sorted(bx, by) when bx ≠ by, else only the diagonal cell
    // (bx, bx) — the `lane ≠ y_lane OR ca = cb` guard keeps same-lane
    // pairs out of off-diagonal cells, so the enumerated pair set is
    // identical to the plain cent self-join (oracle-verified; the
    // aggregation below is unchanged).
    val cells = asg
      .withColumn("lane",
        pmod(xxhash64(col("vec_id")), lit(lanes.toLong)).cast("int"))
      .select(col("vec_id"), col("nv"), col("cent"), col("cent_sim"),
        col("lane"), explode(sequence(lit(0), lit(lanes - 1))).as("j"))
      .select(col("vec_id"), col("nv"), col("cent"), col("cent_sim"),
        col("lane"),
        least(col("lane"), col("j")).as("ca"),
        greatest(col("lane"), col("j")).as("cb"))
    val other = cells.select(col("cent"), col("ca"), col("cb"),
      col("lane").as("y_lane"), col("vec_id").as("y_id"),
      col("nv").as("y_nv"), col("cent_sim").as("y_cent_sim"))
    val dup = cells.join(other, Seq("cent", "ca", "cb"))
      .where((col("lane") =!= col("y_lane") || col("ca") === col("cb")) &&
        col("vec_id") =!= col("y_id") &&
        DotProduct(col("nv"), col("y_nv")) >= semEps)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dups"),
        sum(when(col("y_cent_sim") < col("cent_sim") ||
            (col("y_cent_sim") === col("cent_sim") && col("y_id") < col("vec_id")),
          1L).otherwise(0L)).as("n_dom"))
    asg.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (coalesce(col("n_dom"), lit(0L)) === 0L).as("keep"))
      .orderBy(col("vec_id"))
  }

  val c38Sql: String =
    s"""WITH $preparedDuck,
       |$kmeansDuck,
       |asg AS (
       |  SELECT vec_id, nv, cid AS cent, sim AS cent_sim FROM (
       |    SELECT p.vec_id, p.nv, c.cid, ${nvDotDuck("p.nv", "c.cv")} AS sim,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${nvDotDuck("p.nv", "c.cv")} DESC, c.cid) AS rk
       |    FROM prep p CROSS JOIN kc$kmIters c) WHERE rk = 1),
       |dup AS (
       |  SELECT x.vec_id AS vec_id, COUNT(*) AS n_dups,
       |    CAST(SUM(CASE WHEN y.cent_sim < x.cent_sim
       |      OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_dom
       |  FROM asg x JOIN asg y ON x.cent = y.cent AND x.vec_id <> y.vec_id
       |    AND ${nvDotDuck("x.nv", "y.nv")} >= $semEps
       |  GROUP BY x.vec_id)
       |SELECT a.vec_id, a.cent, CAST(COALESCE(d.n_dups, 0) AS BIGINT) AS n_dups,
       |  COALESCE(d.n_dom, 0) = 0 AS keep
       |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin

  // ------------------------------------------------- C46 SQ8 ANN
  /** C46: SCALAR-QUANTIZED ANN (faiss SQ8): per-dimension symmetric int8
    * codes — q_d = floor(v_d·127/maxabs_d + 0.5) with maxabs trained per
    * dimension over the corpus — ranked by the INTEGER dot product. The
    * third compression point after IVF-flat (C14, full vectors) and
    * IVF-PQ (C33/C35, 4 codes): 4× smaller than float32 with no
    * codebook, and the integer score is hash-exact (the one ANN gate
    * with no doubles on the wire at all). Training is a single 64-value
    * aggregate inlined as literals (C14's documented small-sample
    * pattern, but over the full corpus — one tiny collect); encode is a
    * `zip_with` projection; the floor(x+0.5) form is used in BOTH
    * engines (their round() tie-break conventions differ, floor does
    * not). Oracle re-derives maxabs, codes and integer scores in SQL.
    */
  def c46AnnSq8(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val maxabs = e.agg(array((1 to 64).map(i =>
        max(abs(element_at(col("nv"), i)))): _*))
      .collect()(0).getSeq[Double](0)
    val mLit = lit(maxabs.map(m => math.max(m, 1e-12)).toArray)
    def withM(df: DataFrame) = df.withColumn("m", mLit)
    val q = withM(e).where(col("vec_id") < nQueries)
    val corpus = withM(e).where(col("vec_id") >= nQueries)
    val qc = q.select(col("vec_id").as("q_id"),
      expr("zip_with(nv, m, (x, v) -> CAST(FLOOR(x * 127.0 / v + 0.5) AS INT))").as("qc"))
    val cc = corpus.select(col("vec_id"),
      expr("zip_with(nv, m, (x, v) -> CAST(FLOOR(x * 127.0 / v + 0.5) AS INT))").as("cc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id"))
    cc.crossJoin(broadcast(qc))
      .select(col("q_id"), col("vec_id"),
        expr("aggregate(zip_with(qc, cc, (a, b) -> CAST(a AS BIGINT) * b), " +
          "CAST(0 AS BIGINT), (s, x) -> s + x)").as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= kLsh)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("score"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c46Sql: String =
    s"""WITH $preparedDuck,
       |m AS (
       |  SELECT i, greatest(MAX(ABS(nv[i])), 1e-12) AS mv
       |  FROM prep, range(1, 65) t(i) GROUP BY i),
       |coded AS (
       |  SELECT vec_id, list(CAST(FLOOR(nv[i] * 127.0 / mv + 0.5) AS INT) ORDER BY i) AS c
       |  FROM (SELECT p.vec_id, p.nv, m.i, m.mv FROM prep p, m)
       |  GROUP BY vec_id),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(1, 65), i -> CAST(q.c[i] AS BIGINT) * c.c[i])),
       |      (s, x) -> s + x) AS score
       |  FROM coded q JOIN coded c
       |    ON q.vec_id < $nQueries AND c.vec_id >= $nQueries),
       |ranked AS (
       |  SELECT q_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, score FROM ranked
       |WHERE rk <= $kLsh ORDER BY q_id, rk""".stripMargin

  // ----------------------------------- C73 Matryoshka (funnel) ANN
  /** C73: truncated-dimension shortlist + exact full-dim re-rank — the
    * Matryoshka-representation retrieval shape (Kusupati et al. 2022
    * "Matryoshka Representation Learning" §4.1 adaptive retrieval; the
    * funnel pattern every MRL-served vector store runs): stage 1 ranks
    * the WHOLE corpus by cosine over only the first [[mrlDims]] of 64
    * dimensions (¼ of the FLOPs and — on a prefix-sliced columnar
    * layout — ¼ of the bytes scanned), keeps [[mrlShortlist]]
    * candidates per query; stage 2 re-scores ONLY those candidates at
    * full dimension.
    *
    * Scale shape: the stage-1 shuffle carries (q_id, vec_id, pre_sim) —
    * ids and one double, never vectors; the shortlist (|q|·R rows) then
    * BROADCASTS back against the corpus scan to fetch full vectors, so
    * no 64-dim vector ever crosses an exchange. At 100 TB the win over
    * C6 is the prefix-width scan + compute in the stage that touches
    * every row; the full-width work is confined to |q|·R rows.
    *
    * Exactness: the prefix is sliced from the ALREADY-normalized nv and
    * re-normalized (scaling cancels, so this equals the normalized raw
    * prefix); both engines fold dots in index order, so the gate is
    * hash-exact. Ties in both ranking stages break by vec_id.
    */
  private val mrlDims = 16
  private val mrlShortlist = 40

  def c73AnnMatryoshka(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val withP = e
      .withColumn("p", expr(s"slice(nv, 1, $mrlDims)"))
      .withColumn("pn", sqrt(DotProduct(col("p"), col("p"))))
      .withColumn("pnv", expr("transform(p, x -> x / pn)"))
    val qPre = withP.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("pnv").as("qpnv"))
    val wPre = Window.partitionBy(col("q_id"))
      .orderBy(col("pre_sim").desc, col("vec_id"))
    val shortlist = withP.where(col("vec_id") >= nQueries)
      .select(col("vec_id"), col("pnv"))
      .crossJoin(broadcast(qPre))
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("pnv"), col("qpnv")).as("pre_sim"))
      .withColumn("prk", row_number().over(wPre))
      .where(col("prk") <= mrlShortlist)
      .select(col("q_id"), col("vec_id"))
    val qFull = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("nv").as("qnv"))
    val wFin = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    e.select(col("vec_id"), col("nv"))
      .join(broadcast(shortlist), "vec_id")
      .join(broadcast(qFull), "q_id")
      .select(col("q_id"), col("vec_id"),
        DotProduct(col("qnv"), col("nv")).as("cos_sim"))
      .withColumn("rk", row_number().over(wFin))
      .where(col("rk") <= kNN)
      .select(col("q_id"), col("vec_id").as("n_id"), col("rk"), col("cos_sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  val c73Sql: String = {
    def dotM(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${mrlDims + 1}), i -> $a[i] * $b[i])), (s, x) -> s + x)"
    s"""WITH $preparedDuck,
       |pfx AS (
       |  SELECT vec_id, nv, list_transform(p, x -> x / pn) AS pnv
       |  FROM (SELECT vec_id, nv, p, sqrt(${TextExprs.norm2Duck("p")}) AS pn
       |        FROM (SELECT vec_id, nv,
       |                list_transform(range(1, ${mrlDims + 1}), i -> nv[i]) AS p
       |              FROM prep))),
       |qpre AS (SELECT vec_id AS q_id, pnv AS qpnv FROM pfx WHERE vec_id < $nQueries),
       |pre AS (
       |  SELECT q_id, vec_id, ${dotM("pnv", "qpnv")} AS pre_sim
       |  FROM pfx CROSS JOIN qpre WHERE vec_id >= $nQueries),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY pre_sim DESC, vec_id) AS prk
       |    FROM pre)
       |  WHERE prk <= $mrlShortlist),
       |qf AS (SELECT vec_id AS q_id, nv AS qnv FROM prep WHERE vec_id < $nQueries),
       |scored AS (
       |  SELECT short.q_id, short.vec_id, ${nvDotDuck("qnv", "nv")} AS cos_sim
       |  FROM short
       |  JOIN prep ON prep.vec_id = short.vec_id
       |  JOIN qf ON qf.q_id = short.q_id),
       |ranked AS (
       |  SELECT q_id, vec_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
       |  FROM scored)
       |SELECT q_id, vec_id AS n_id, rk, cos_sim FROM ranked
       |WHERE rk <= $kNN ORDER BY q_id, rk""".stripMargin
  }

  // ------------------------------------------------------------ registry
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c65_embedding_profile" -> (c65EmbeddingProfile _),
    "c46_ann_sq8" -> (c46AnnSq8 _),
    "c38_semantic_dedup" -> (c38SemanticDedup _),
    "c6_ann_bruteforce"  -> (c6AnnBruteforce _),
    "c7_ann_lsh"         -> (c7AnnLsh _),
    "c13_ann_multiprobe" -> (c13AnnMultiprobe _),
    "c14_ann_ivf"        -> (c14AnnIvf _),
    "c33_ann_ivf_pq"     -> (c33AnnIvfPq _),
    "c34_ann_pq_rerank"  -> (c34AnnPqRerank _),
    "c35_ann_pq_residual" -> (c35AnnPqResidual _),
    "c73_ann_matryoshka" -> (c73AnnMatryoshka _),
    "c82_hard_negatives" -> (c82HardNegatives _),
    "c86_class_geometry" -> (c86ClassGeometry _),
    "c92_semantic_decon" -> (c92SemanticDecon _),
    "c94_ann_recall" -> (c94AnnRecall _),
    "c96_corpus_integrity" -> (c96CorpusIntegrity _),
    "c99_bucketed_decon" -> (c99BucketedDecon _),
    "c100_cluster_balance" -> (c100ClusterBalance _)
  )

  val oracle: Map[String, String] = Map(
    "c65_embedding_profile" -> c65Sql,
    "c46_ann_sq8" -> c46Sql,
    "c38_semantic_dedup" -> c38Sql,
    "c6_ann_bruteforce"  -> c6Sql,
    "c7_ann_lsh"         -> c7Sql,
    "c13_ann_multiprobe" -> c13Sql,
    "c14_ann_ivf"        -> c14Sql,
    "c33_ann_ivf_pq"     -> c33Sql,
    "c34_ann_pq_rerank"  -> c34Sql,
    "c35_ann_pq_residual" -> c35Sql,
    "c73_ann_matryoshka" -> c73Sql,
    "c82_hard_negatives" -> c82Sql,
    "c86_class_geometry" -> c86Sql,
    "c92_semantic_decon" -> c92Sql,
    "c94_ann_recall" -> c94Sql,
    "c96_corpus_integrity" -> c96Sql,
    "c99_bucketed_decon" -> c99Sql,
    "c100_cluster_balance" -> c100Sql
  )
}
