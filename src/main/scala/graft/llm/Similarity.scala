package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings.embedding: array<float>, dim 64`).
  *
  * Outputs are RANK-ONLY (qid, rnk, neighbor id) — cosine values never leave
  * the query, so cross-engine float-summation differences can only matter if
  * two similarities collide to within ~1e-15, which rank gaps of ~1e-3 in
  * this data make a non-event. All math is double (arrays cast up-front):
  * float arithmetic would diverge from any double-computing oracle.
  *
  * Scale shapes:
  *   - `topkBrute`: the exact baseline. Query set broadcasts; candidate
  *     scoring is map-side; top-k is a SINGLE row_number window whose
  *     rank<=k filter Spark 4 rewrites to WindowGroupLimit — per-partition
  *     top-k pruning before the exchange, so the full n×q score set is
  *     never globally shuffled (a manual two-stage window would be
  *     redundant; the plan guard asserts the WindowGroupLimit node).
  *   - `topkBucketed`: the IVF scale path. Centroids are TRAINED by
  *     [[trainCentroids]] (deterministic Lloyd's: seed = first k vectors,
  *     fixed iteration count, exact-decimal means), vectors assigned to
  *     nearest centroid (broadcast centroids, map-side), queries probe the
  *     `nprobe` nearest buckets only — candidate volume drops by
  *     ~#centroids/nprobe. Fully deterministic, training included, so even
  *     the approximate variant has a DuckDB oracle.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns via the native codegen
    * DotProduct expression (graft.expr.VectorExprs) — the HOF formulation
    * (`aggregate(zip_with(...))`) runs its lambda interpreted per element
    * and dominated every similarity operator's cost. Same index-ordered
    * summation, bit-identical results. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = call_function("vec_dot", x, y)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private[llm] def vecs(s: SparkSession, d: String): DataFrame = {
    // NOT fanned out (r20 opt, measured): a blanket QueryDef.fanOut here
    // parallelized the heavy encode/recon stages but ALSO inserted the
    // round-robin exchange into every tiny Lloyd-round aggregation and
    // broadcast build — net REGRESSION (q_sim_ivfpq 3.98→5.77 median).
    // The fan-out lives at the one measured hot spot instead: the
    // interpreted PQ encode/reconstruction corpus pass
    // (SimilarityPq.coded / reconFromCodes).
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
  }

  /** HARD-NEGATIVE MINING — the contrastive-training data op: for each
    * query vector, the top-k most-similar vectors whose LABEL DIFFERS
    * (high-cosine wrong-class neighbors are exactly the "hard" negatives
    * a two-tower trainer wants in its batch). [[topkBrute]]'s audited
    * shape with the class-exclusion predicate folded into the broadcast
    * join condition: queries (with their labels) broadcast, corpus
    * scanned once, WindowGroupLimit prunes to k per query before any
    * exchange — the n×q score set never shuffles. At production scale
    * the brute arm swaps for the IVFPQ serving index (q_sim_ivfpq_*) with
    * the same label filter applied post-probe; the mining semantics stay
    * this query's. */
  def mineHard(s: SparkSession, d: String,
               nQueries: Int = 20, k: Int = 5): DataFrame = {
    val all = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label").cast("long").as("label"))
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        col("label").as("qlabel"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    all.join(broadcast(q),
        col("vec_id") =!= col("qid") && col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id").as("nbr"), col("label"),
        cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("nbr"), col("label"))
      .orderedBy("qid", "rnk")
  }

  private def mineHardOracle(nQueries: Int, k: Int): String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |                  CAST(label AS BIGINT) AS label FROM embeddings),
       |q AS (SELECT vec_id AS qid, e AS qe, label AS qlabel
       |      FROM v WHERE vec_id < $nQueries),
       |c AS (SELECT qid, vec_id AS nbr, v.label,
       |             list_cosine_similarity(qe, e) AS cos
       |      FROM q JOIN v ON vec_id != qid AND v.label != qlabel),
       |r AS (SELECT qid, nbr, label,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY cos DESC, nbr) AS rnk
       |      FROM c)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nbr, label
       |FROM r WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** MMR DIVERSIFICATION — Maximal Marginal Relevance, the re-rank layer
    * that stops a result page (or a RAG context window) from filling
    * with near-duplicates: greedily pick k of the top-`nCand` candidates
    * maximizing λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7.
    * Determinism: every cosine crosses to an exact long ONCE
    * (round(cos·1e10)), so the greedy score 7·r − 3·maxsim is pure
    * integer arithmetic with nbr tiebreaks — the float boundary is the
    * same single rounding the rank queries already rely on. Execution:
    * candidates pack into ONE array row per query (nCand structs), and
    * the whole greedy loop is an `aggregate` fold over that array —
    * per-query work is k scans of an nCand-element array, no joins, no
    * shuffles beyond the candidate top-k (the audited [[topkBrute]]
    * shape). The oracle unrolls the same k steps as SQL CTEs. */
  def simMmr(s: SparkSession, d: String,
             nQueries: Int = 10, nCand: Int = 20, k: Int = 5): DataFrame = {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val wC = Window.partitionBy(col("qid")).orderBy(col("r").desc, col("nbr"))
    val cands = all.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"), col("e"),
        expr("CAST(round(vec_dot(qe, e) / (sqrt(vec_dot(qe, qe)) * " +
          "sqrt(vec_dot(e, e))) * 1e10) AS BIGINT)").as("r"))
      .withColumn("crn", row_number().over(wC)).filter(col("crn") <= nCand)
    // one array row per query, candidates sorted (r desc, nbr asc) via
    // the negated-r struct prefix — element 1 IS the rel-argmax seed.
    // Negation offset is 1e12, NOT Long.MaxValue: scaled cosines span
    // ±1e10 (scores ±1e11), and MaxValue − (negative) overflows — an
    // ArithmeticException under this repo's default ANSI mode (review
    // finding r14)
    val Off = 1000000000000L
    val packed = cands.groupBy(col("qid"))
      .agg(array_sort(collect_list(struct(
        (lit(Off) - col("r")).as("negr"),
        col("nbr"), col("r"), col("e")))).as("cs"))
    // scaled cosine between two candidate vectors, spliced twice below
    def simL(a: String, b: String): String =
      s"CAST(round(vec_dot($a.e, $b.e) / (sqrt(vec_dot($a.e, $a.e)) * " +
        s"sqrt(vec_dot($b.e, $b.e))) * 1e10) AS BIGINT)"
    // guards (review finding r14): k = 1 must not build sequence(2, 1)
    // (a DESCENDING [2, 1] — two bogus steps); a step whose remaining
    // candidate set is EMPTY (fewer than k candidates for the query)
    // returns sel unchanged instead of an ANSI element_at(…, 1) throw
    require(k >= 1 && nCand >= k, s"need 1 <= k <= nCand, got k=$k nCand=$nCand")
    val seedOnly =
      "transform(slice(cs, 1, 1), x -> named_struct('nbr', x.nbr, 'e', x.e))"
    val greedy =
      if (k == 1) seedOnly
      else
        s"""aggregate(
           |  sequence(2, $k),
           |  $seedOnly,
           |  (sel, step) -> CASE
           |    WHEN size(filter(cs, c -> !exists(sel, s -> s.nbr = c.nbr))) = 0
           |    THEN sel
           |    ELSE concat(sel, array((
           |      element_at(transform(array_sort(transform(
           |        filter(cs, c -> !exists(sel, s -> s.nbr = c.nbr)),
           |        c -> named_struct(
           |          'negs', ${Off}L
           |            - (7 * c.r - 3 * array_max(transform(sel,
           |                 s -> ${simL("c", "s")}))),
           |          'nbr', c.nbr, 'e', c.e))),
           |        p -> named_struct('nbr', p.nbr, 'e', p.e)), 1))))
           |    END)""".stripMargin
    packed
      .withColumn("sel", expr(greedy))
      .select(col("qid"), posexplode(expr("transform(sel, s -> s.nbr)")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("col").as("nbr"))
      .orderedBy("qid", "rnk")
  }

  private def simMmrOracle(nQueries: Int, nCand: Int, k: Int): String = {
    def step(i: Int): String =
      s"""ms$i AS (
         |  SELECT c.qid, c.nbr, any_value(c.e) AS e, any_value(c.r) AS r,
         |         max(CAST(round(list_cosine_similarity(c.e, s.e) * 1e10)
         |             AS BIGINT)) AS msim
         |  FROM cand c JOIN selu${i - 1} s USING (qid)
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} x
         |                    WHERE x.qid = c.qid AND x.nbr = c.nbr)
         |  GROUP BY c.qid, c.nbr),
         |s$i AS (
         |  SELECT qid, nbr, e FROM (
         |    SELECT qid, nbr, e,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY 7 * r - 3 * msim DESC, nbr) AS rn
         |    FROM ms$i) WHERE rn = 1),
         |selu$i AS (SELECT * FROM selu${i - 1}
         |           UNION ALL SELECT qid, nbr, e, $i AS rnk FROM s$i)"""
        .stripMargin
    val steps = (2 to k).map(step).mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < $nQueries),
       |c0 AS (SELECT qid, vec_id AS nbr, e,
       |              CAST(round(list_cosine_similarity(qe, e) * 1e10)
       |                   AS BIGINT) AS r
       |       FROM q JOIN v ON vec_id != qid),
       |cand AS (SELECT qid, nbr, e, r FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid
       |      ORDER BY r DESC, nbr) AS crn FROM c0) WHERE crn <= $nCand),
       |selu1 AS (SELECT qid, nbr, e, 1 AS rnk FROM (
       |    SELECT qid, nbr, e, row_number() OVER (PARTITION BY qid
       |      ORDER BY r DESC, nbr) AS rn FROM cand) WHERE rn = 1),
       |$steps
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, nbr
       |FROM selu$k ORDER BY qid, rnk""".stripMargin
  }

  /** Exact top-k neighbors for each query vector (vec_id < nQueries).
    * COST NOTE: this is the brute arm — a full corpus scan scoring n×q
    * pairs, kept deliberately as the ground-truth gauge that the recall
    * queries (q_sim_recall, q_sim_ivfpq_recall) compare against. The
    * serving twin at scale is the bucketed path (q_sim_bucketed /
    * q_sim_ivfpq_persisted), which probes a handful of IVF partitions
    * instead of the corpus; the brute arm's price is linear in corpus
    * size per query batch and is never the production shape. */
  def topkBrute(s: SparkSession, d: String, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val all = vecs(s, d)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"), cosine(col("qe"), col("e")).as("cos"))
    // single ranking window: Spark 4 plans WindowGroupLimit on a rank<=k
    // filter, pruning to k rows per (qid, partition) BEFORE the exchange —
    // the full n×q score set never shuffles (verified in the formatted plan)
    val global = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    scored
      .withColumn("rnk", row_number().over(global)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
      .orderedBy("qid", "rnk")
  }

  /** Deterministic Lloyd's k-means for IVF bucketing: seed centroids are
    * the first `nCentroids` vectors, then `iters` assign-recompute rounds.
    * Assignment is nearest-by-cosine (ties: lowest cid — the same rule the
    * final bucketing uses); a recomputed centroid is the per-dimension MEAN
    * through an exact-decimal sum, one IEEE divide, round(6) — the
    * [[embedPool]] recipe, order-independent and bit-identical in any
    * engine, so the TRAINING loop itself replays in the DuckDB oracle.
    * Scale shape per round: the centroid table collapses to ONE broadcast
    * row and assignment is a per-row broadcast argmax ([[assignNearest]] —
    * zero corpus shuffle; the earlier window formulation moved the corpus
    * nCentroids× through an exchange per round), and the recompute's
    * per-dim decimal sums partial-aggregate map-side so its exchange
    * carries fixed-width partials only — NOTHING corpus-sized crosses the
    * wire in a training round (plan-verified: no exchange carries the
    * vector column). Clusters that lose every vector drop out identically
    * on both engines.
    *
    * The training stays ONE lazy Catalyst plan so the DuckDB oracle can
    * replay it; the price is that downstream references re-execute the
    * train lineage (no materialization barrier). A production run at real
    * corpus scale would `persist()` each iteration's assignment — same
    * results, linear cost — a caching decision layered on this plan, not a
    * different algorithm. Corpus-scale training would also run on a
    * deterministic SAMPLE rather than the full corpus — the implemented
    * pattern is [[SimilarityPq]]'s md5-prefix-threshold sample (a
    * stateless per-row predicate both engines replay; see `trainSampled`
    * there). It is deliberately NOT applied to this coarse trainer at gate
    * scale: 8-16 centroids make the full-corpus assign rounds cheap, and
    * the fixture-scale consumers (SemDedupSpec's adversarial vector sets)
    * rely on training over their handful of rows. */
  def trainCentroids(all: DataFrame, nCentroids: Int = 8, iters: Int = 2,
                     dim: Int = 64, pin: Boolean = false): DataFrame = {
    val seed = all.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("e").as("ce"))
    val trained = (1 to iters).foldLeft(seed) { (cents, _) =>
      val assigned = assignNearest(all, cents)
      val dims = (1 to dim).map(i =>
        round(sum(element_at(col("e"), i).cast("decimal(20,8)")).cast("double") /
          count(lit(1)), 6).as(s"c$i"))
      assigned.groupBy(col("cid"))
        .agg(dims.head, dims.tail: _*)
        .select(col("cid"), array((1 to dim).map(i => col(s"c$i")): _*).as("ce"))
    }
    // `pin` MATERIALIZES the trained table (nCentroids rows) so the
    // search-time consumers (assign broadcast, probe broadcast) read the
    // artifact instead of re-executing the Lloyd chain inside each
    // broadcast build — the "persist each iteration" production decision
    // the scaladoc names, applied to the one place it pays at gate scale.
    // Training is deterministic, so pinning cannot change any result the
    // oracle replays; fixtures keep the default (fully lazy) path.
    if (pin) trained.localCheckpoint(true) else trained
  }

  /** Nearest-centroid assignment with ZERO corpus shuffle: the centroid
    * table collapses to ONE broadcast row (collect_list of (cid, ce, own
    * norm)), and each vector picks its centroid via array_max over an
    * inline scored transform — so the corpus never crosses an exchange
    * during assignment, where the previous window formulation first fanned
    * every vector out nCentroids× through the centroid join and then
    * shuffled THAT relation on vec_id for a per-partition sort +
    * row_number. At 1000 executors the difference is "no corpus movement
    * at all" vs "nCentroids× the corpus through the wire per training
    * round". Tie rule unchanged (max on (score, -cid) ≡ ORDER BY score
    * DESC, cid ASC — the (score, -cid) pair is unique per cid, so the
    * struct comparison never reaches deeper fields); the score expression
    * is the same op tree as [[cosine]], so assignments are bit-identical
    * to the window formulation and the unrolled DuckDB oracle. The
    * interpreted transform touches nCentroids elements per row — bounded,
    * unlike the chained-HOF-over-tokens shapes WinnowFps exists to avoid.
    */
  /** The centroid table collapsed to ONE broadcastable row of
    * (cid, ce, snrm) structs — THE canonical form every consumer of a
    * trained centroid set must broadcast: when assignment and probing
    * broadcast the IDENTICAL subtree, ReuseExchange dedupes the two
    * broadcast exchanges and the training lineage executes ONCE per query
    * instead of once per consumer (a differently-shaped centroid broadcast
    * — e.g. the raw (cid, ce) table the probe side used pre-r12 — defeats
    * the reuse and re-runs the whole Lloyd chain inside its build). */
  private[llm] def centroidRow(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cid"), col("ce"),
      sqrt(call_function("vec_dot", col("ce"), col("ce"))).as("snrm"))).as("cs"))

  private[llm] def assignNearest(all: DataFrame, cents: DataFrame): DataFrame =
    // norms enter the broadcast PRE-SQRTED so the per-centroid loop does
    // one native dot, one multiply, one divide — the (sqrt·sqrt) product
    // order matches [[cosine]] exactly, so scores stay bit-identical to
    // the window formulation the oracle unrolls. The whole score+argmax is
    // ONE codegen expression (expr.CosArgMax): the earlier
    // array_max-over-transform built a boxed scored struct per centroid
    // per row in an interpreted lambda — the documented ±10% local cost of
    // the r8 zero-shuffle rework, now gone (same op tree, fused loop).
    all.crossJoin(broadcast(centroidRow(cents)))
      .select(col("vec_id"), col("e"),
        call_function("vec_argmax_cos", col("cs"), col("e")).as("cid"))

  /** IVF-bucketed ANN: assign all vectors to their nearest of `nCentroids`
    * TRAINED centroids ([[trainCentroids]] — `trainIters` deterministic
    * Lloyd's rounds from the seed vectors), probe the `nprobe` nearest
    * buckets per query. */
  def topkBucketed(s: SparkSession, d: String, nQueries: Int = 20, k: Int = 3,
                   nCentroids: Int = 8, nprobe: Int = 2, trainIters: Int = 2): DataFrame = {
    val all = vecs(s, d)
    val cents = trainCentroids(all, nCentroids, trainIters, pin = true)
    // nearest centroid per vector (ties: lowest cid) — zero-shuffle
    // broadcast argmax (assignNearest), the same rule the training rounds
    // use
    val assigned = assignNearest(all, cents)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    val probes = ivfProbes(all, cents, nQueries, nprobe)
    // search only the probed buckets. The probe set (nQueries × nprobe
    // rows) BROADCASTS: joining on `bucket` by shuffle would repartition
    // the whole assigned corpus on a key with only nCentroids distinct
    // values — maximal skew at scale — where the broadcast join scans each
    // corpus partition in place.
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    assigned.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"), cosine(col("qe"), col("e")).as("cos"))
      .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
      .orderedBy("qid", "rnk")
  }

  /** The probe set: `nprobe` nearest buckets per query, (qid, qe, bucket).
    * Queries derive from the RAW vector set: they only need
    * (id, embedding), and deriving them from the assigned relation would
    * re-execute the whole train+assign lineage a second time just to drop
    * its bucket column. */
  private[llm] def ivfProbes(all: DataFrame, cents: DataFrame,
                             nQueries: Int, nprobe: Int): DataFrame = {
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid"))
    // probe from the SAME centroidRow broadcast the assignment side uses —
    // ReuseExchange then executes the training lineage once per query, not
    // once per consumer. pcos is the identical [[cosine]] op tree: snrm IS
    // sqrt(vec_dot(ce, ce)), and operand order in the divide/multiply is
    // unchanged, so probe ranks stay bit-identical to the unrolled oracle.
    q.crossJoin(broadcast(centroidRow(cents)))
      .select(col("qid"), col("qe"), explode(col("cs")).as("c"))
      .select(col("qid"), col("qe"), col("c.cid").as("cid"),
        (call_function("vec_dot", col("c.ce"), col("qe")) /
          (col("c.snrm") * sqrt(call_function("vec_dot", col("qe"), col("qe")))))
          .as("pcos"))
      .withColumn("prn", row_number().over(wProbe)).filter(col("prn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid").as("bucket"))
  }

  /** Scalar int8 quantization of the embedding column — the storage/
    * bandwidth primitive of a large vector corpus (4 bytes/dim → 1). Per
    * vector: scale = max |x_i| (a pure max of stored doubles — no
    * arithmetic, bit-identical anywhere), q_i = round(x_i / scale · 127)
    * as int. The divide and multiply are single IEEE ops and BOTH engines
    * round half away from zero, so the int array hash-matches. Zero
    * vectors quantize to zeros (guard, not NaN). Per-row scalar work —
    * embarrassingly parallel at any scale. */
  def quantize(s: SparkSession, d: String): DataFrame =
    vecs(s, d)
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      // the harness output stringifies the int8 vector: the driver compare
      // sorts every result column with pandas, which cannot sort array
      // cells — a downstream consumer would stop one projection earlier
      .select(col("vec_id"), col("scale"),
        expr("array_join(transform(e, x -> CAST(CAST(round(CASE WHEN scale = 0.0" +
          " THEN 0.0 ELSE x / scale * 127 END) AS INT) AS STRING)), ',')").as("q"))
      .orderedBy("vec_id")

  private def quantizeOracle: String =
    """SELECT vec_id, scale,
      |       array_to_string(list_transform(e, x -> CAST(round(CASE WHEN scale = 0.0 THEN 0.0
      |         ELSE x / scale * 127 END) AS INTEGER)), ',') AS q
      |FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale
      |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings))
      |ORDER BY vec_id""".stripMargin

  /** Top-k search over the int8-QUANTIZED corpus — the read side of
    * [[quantize]]: score against dequantized vectors (q_i · scale / 127),
    * so the search path touches 1 byte/dim + one scale instead of 8
    * bytes/dim — the 8× scan-bandwidth saving that makes brute-force
    * rescoring viable over a corpus slice at 100 TB. Same broadcast-probe
    * + WindowGroupLimit shape as [[topkBrute]]; rank-only output. The
    * dequantization op tree (round → int → double · scale / 127) is
    * spliced VERBATIM into the oracle — single IEEE ops, bit-identical —
    * and LlmSpec pins the measured recall@k against the full-precision
    * ranks. */
  def topkQuantized(s: SparkSession, d: String,
                    nQueries: Int = 20, k: Int = 3): DataFrame = {
    val deq = vecs(s, d)
      .withColumn("scale", expr("array_max(transform(e, x -> abs(x)))"))
      .withColumn("de", expr(
        "transform(e, x -> CAST(CAST(round(CASE WHEN scale = 0.0 THEN 0.0" +
          " ELSE x / scale * 127 END) AS INT) AS DOUBLE) * scale / CAST(127 AS DOUBLE))"))
      .select(col("vec_id"), col("de"))
    val q = deq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("de").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    deq.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"), cosine(col("qe"), col("de")).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
      .orderedBy("qid", "rnk")
  }

  private def quantizedOracle(nQueries: Int, k: Int): String =
    s"""WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |v AS (SELECT vec_id,
       |             list_transform(e, x -> CAST(CAST(round(CASE WHEN scale = 0.0 THEN 0.0
       |               ELSE x / scale * 127 END) AS INTEGER) AS DOUBLE)
       |               * scale / CAST(127 AS DOUBLE)) AS de
       |      FROM (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale
       |            FROM v0)),
       |q AS (SELECT vec_id AS qid, de AS qe FROM v WHERE vec_id < $nQueries),
       |c AS (SELECT qid, vec_id AS nbr, list_cosine_similarity(qe, de) AS cos
       |      FROM q JOIN v ON vec_id != qid),
       |r AS (SELECT qid, nbr,
       |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rnk
       |      FROM c)
       |SELECT qid, rnk, nbr FROM r WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** Mean-pooled centroid per label (first `dims` dimensions): the
    * embedding-aggregation shape (class centroids, cluster summaries).
    * Per-dim float values cast to exact decimal before summing — a random
    * float's decimal expansion never terminates at the cast scale, so the
    * cast is collision-free and the sum order-independent; the final mean
    * is one IEEE divide, rounded. */
  def embedPool(s: SparkSession, d: String, dims: Int = 8): DataFrame = {
    val perDim = (1 to dims).flatMap { i =>
      Seq(round(
        (sum(element_at(col("embedding"), i).cast("decimal(20,8)")).cast("double") /
          count(lit(1))), 6).as(s"m$i"))
    }
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(perDim.head, perDim.tail: _*)
      .orderedBy("label")
  }

  /** Mirrors [[topkBucketed]] end-to-end, training loop included: the
    * `iters` Lloyd's rounds are unrolled as (assign, recompute) CTE pairs
    * whose per-dim means use the exact-decimal recipe, so centroids are
    * bit-identical across engines. */
  /** Assignment CTE: nearest-centroid (cosine, ties → lowest cid) of
    * `src`'s vectors against centroid CTE `c`. `src` defaults to the
    * chain's own `v`; the compaction oracle points it at other vector
    * CTEs (the full merged set) — the inner alias stays `v` so the
    * emitted op tree is byte-identical for the default callers. */
  private[llm] def assignCte(a: String, c: String, src: String = "v") =
    s"""$a AS (
       |  SELECT vec_id, e, cid AS bucket FROM (
       |    SELECT v.vec_id, v.e, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_cosine_similarity(c.ce, v.e) DESC, c.cid) AS arn
       |    FROM $src v, $c c) WHERE arn = 1)""".stripMargin

  /** The Lloyd's-training CTE chain (v, c0, a1/c1 .. a_iters/c_iters) —
    * shared by [[bucketedBody]] and the centroid-export oracle. `prefix`
    * renames every CTE (`{p}v`, `{p}c0`, ...) so TWO independent trainings
    * (the compaction oracle's old/new quantizers) compose in one WITH
    * clause without name collisions; the default empty prefix emits the
    * historical names. */
  private[llm] def trainBody(nCentroids: Int, iters: Int, dim: Int,
      vSql: String =
        "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings",
      prefix: String = ""): String = {
    val meanCols = (1 to dim).map(i =>
      s"round(CAST(sum(CAST(e[$i] AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6)")
      .mkString(",\n          ")
    val trainCtes = (1 to iters).map { t =>
      s"""${assignCte(s"${prefix}a$t", s"${prefix}c${t - 1}", s"${prefix}v")},
         |${prefix}c$t AS (
         |  SELECT bucket AS cid,
         |         [$meanCols] AS ce
         |  FROM ${prefix}a$t GROUP BY bucket)""".stripMargin
    }.mkString(",\n")
    s"""${prefix}v AS ($vSql),
       |${prefix}c0 AS (SELECT vec_id AS cid, e AS ce FROM ${prefix}v WHERE vec_id < $nCentroids),
       |$trainCtes""".stripMargin
  }

  /** The bucketed-search CTE chain through `top` (ranked IVF candidates)
    * — shared by [[bucketedOracle]] and the recall oracle. */
  private def bucketedBody(nQueries: Int, nCentroids: Int,
                           nprobe: Int, iters: Int, dim: Int): String =
    s"""${trainBody(nCentroids, iters, dim)},
       |${assignCte("assigned", s"c$iters")},
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT qid, qe, cid AS bucket FROM (
       |    SELECT q.qid, q.qe, c.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY list_cosine_similarity(c.ce, q.qe) DESC, c.cid) AS prn
       |    FROM q, c$iters c) WHERE prn <= $nprobe),
       |top AS (
       |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, nbr) AS rnk
       |  FROM (SELECT p.qid, a.vec_id AS nbr,
       |               list_cosine_similarity(p.qe, a.e) AS cos
       |        FROM probes p JOIN assigned a ON p.bucket = a.bucket
       |        WHERE a.vec_id != p.qid))""".stripMargin

  private def bucketedOracle(nQueries: Int, k: Int, nCentroids: Int,
                             nprobe: Int, iters: Int, dim: Int): String =
    s"""WITH ${bucketedBody(nQueries, nCentroids, nprobe, iters, dim)}
       |SELECT qid, rnk, nbr FROM top WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** ANN quality evaluation: recall@k of the IVF-bucketed search against
    * the exact brute-force top-k, per query — the measurement every
    * approximate index ships with (an ANN operator without a recall gauge
    * is untrustable at corpus scale; this keeps the gauge an oracled
    * first-class query rather than a test-only assertion). hits counts the
    * overlap of the two k-sets; recall = hits/k is a single IEEE divide by
    * a constant. Scale shape: both searches are already WindowGroupLimit-
    * pruned top-k relations of nQueries·k rows — the recall join touches
    * only those. */
  def annRecall(s: SparkSession, d: String,
                nQueries: Int = 20, k: Int = 3, nCentroids: Int = 8,
                nprobe: Int = 2, trainIters: Int = 2): DataFrame =
    recallAgainst(s, d, nQueries, k,
      topkBucketed(s, d, nQueries, k, nCentroids, nprobe, trainIters))

  /** The recall-gauge recipe shared by every approximate search (IVF here,
    * PQ in [[SimilarityPq]]): overlap of the approximate and brute k-sets
    * per query, recall = hits/k as one IEEE divide by a constant. */
  private[llm] def recallAgainst(s: SparkSession, d: String, nQueries: Int,
                                 k: Int, approx: DataFrame): DataFrame = {
    val brute = topkBrute(s, d, nQueries, k).select(col("qid"), col("nbr"))
    val hits = brute.join(approx.select(col("qid"), col("nbr")), Seq("qid", "nbr"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    // The qid base set is the query predicate itself, NOT a second
    // reference to `brute`: every query has ≥1 brute neighbor (corpus
    // larger than the query set), so the sets are identical — and a second
    // `brute` reference would execute the whole n×q scored chain again
    // (column pruning diverges the two subtrees, so ReuseExchange cannot
    // dedupe them; measured 5.5 s → ~4 s on q_sim_ivfpq_recall at sf0.1).
    vecs(s, d).filter(col("vec_id") < nQueries).select(col("vec_id").as("qid"))
      .join(hits, Seq("qid"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall", round(lit(1.0) * col("hits") / k, 4))
      .orderedBy("qid")
  }

  /** The recall-gauge CTE tail — brute top-k chain (needs `q` and `v`
    * CTEs in scope) joined against the ranked approximate CTE
    * `approxCte` (columns qid, nbr, rnk). Shared with the PQ recall
    * oracle so both gauges stay one recipe. */
  private[llm] def recallTail(k: Int, approxCte: String): String =
    s"""bc AS (SELECT qid, vec_id AS nbr,
       |              list_cosine_similarity(qe, e) AS cos
       |       FROM q JOIN v ON vec_id != qid),
       |br AS (SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |              ORDER BY cos DESC, nbr) AS rnk FROM bc),
       |bt AS (SELECT qid, nbr FROM br WHERE rnk <= $k),
       |it AS (SELECT qid, nbr FROM $approxCte WHERE rnk <= $k),
       |h AS (SELECT qid, count(*) AS hits
       |      FROM bt JOIN it USING (qid, nbr) GROUP BY qid)
       |SELECT b.qid, COALESCE(h.hits, 0) AS hits,
       |       round(1.0 * COALESCE(h.hits, 0) / $k, 4) AS recall
       |FROM (SELECT DISTINCT qid FROM bt) b LEFT JOIN h USING (qid)
       |ORDER BY qid""".stripMargin

  private def recallOracle(nQueries: Int, k: Int, nCentroids: Int,
                           nprobe: Int, iters: Int, dim: Int): String =
    s"""WITH ${bucketedBody(nQueries, nCentroids, nprobe, iters, dim)},
       |${recallTail(k, "top")}""".stripMargin

  /** The trained IVF centroids as a first-class output — the index
    * artifact a vector-serving layer loads (assignments and probes both
    * derive from it). Emits the first `dims` dimensions per centroid;
    * every value is already round(6) of an exact-decimal mean from the
    * deterministic training loop, so the export replays bit-for-bit in
    * the oracle's unrolled training CTEs. Dropped clusters (lost every
    * vector during training) are absent on both sides identically. */
  def centroidsQ(s: SparkSession, d: String, nCentroids: Int = 8,
                 iters: Int = 2, dims: Int = 8): DataFrame = {
    val cents = trainCentroids(vecs(s, d), nCentroids, iters)
    cents.select(col("cid") +:
        (1 to dims).map(i => element_at(col("ce"), i).as(s"c$i")): _*)
      .orderedBy("cid")
  }

  private def centroidsOracle(nCentroids: Int, iters: Int, dim: Int,
                              dims: Int): String = {
    val cols = (1 to dims).map(i => s"ce[$i] AS c$i").mkString(", ")
    s"""WITH ${trainBody(nCentroids, iters, dim)}
       |SELECT cid, $cols FROM c$iters ORDER BY cid""".stripMargin
  }

  private def embedPoolOracle(dims: Int): String = {
    val cols = (1 to dims).map(i =>
      s"round(CAST(sum(CAST(embedding[$i] AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6) AS m$i")
      .mkString(",\n       ")
    s"""SELECT label,
       |       $cols
       |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
  }

  /** INDEX-DRIFT gauge — the missing piece of the index lifecycle
    * (build → serve → ingest → WHEN TO RETRAIN): production IVF indexes
    * retrain their quantizers on a drift schedule, and the trigger is
    * exactly this statistic — how differently the INCREMENT occupies the
    * trained coarse buckets vs the corpus the centroids were trained on.
    * Per bucket: corpus occupancy, increment occupancy, and the χ² term
    * of the increment against the corpus-proportional expectation with
    * add-one smoothing (e_b = inc_total·(corpus_n+1)/(corpus_total+nb) —
    * smoothing keeps a corpus-empty bucket from dividing by zero while
    * still charging it as surprise). Σ term_fp / 1e6 over the rows is the
    * retrain-trigger statistic; term_fp follows the fixed-point χ²
    * discipline of [[TextStats.sourceDivergence]] (exact-decimal
    * numerator, fixed IEEE tree, floor-scaled longs — bit-exact on any
    * engine/partitioning). Increment convention is the dedup/ingest
    * family's vec_id % 5 = 4.
    *
    * Scale shape: both occupancy aggregates broadcast the IDENTICAL
    * trained [[centroidRow]] subtree (ReuseExchange collapses the two
    * builds), partial-aggregate map-side, and shuffle only (bucket, count)
    * partials; the drift table is nCentroids rows. */
  def simDrift(s: SparkSession, d: String,
               nCentroids: Int = 8, iters: Int = 2): DataFrame = {
    val all = vecs(s, d)
    val isNew = pmod(col("vec_id"), lit(5)) === 4
    val corpus = all.filter(!isNew)
    val cents = trainCentroids(corpus, nCentroids, iters, pin = true)
    def occ(df: DataFrame, n: String) =
      assignNearest(df, cents).groupBy(col("cid").as("bucket"))
        .agg(count(lit(1)).as(n))
    val o = occ(corpus, "corpus_n")
      .join(occ(all.filter(isNew), "inc_n"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("corpus_n"), lit(0L)).as("corpus_n"),
        coalesce(col("inc_n"), lit(0L)).as("inc_n"))
    val tot = o.agg(sum(col("corpus_n")).cast("long").as("ct"),
      sum(col("inc_n")).cast("long").as("it"),
      count(lit(1)).as("nb"))
    val dec = (c: Column) => c.cast("decimal(19,0)")
    o.crossJoin(broadcast(tot))
      .withColumn("num",
        (dec(col("inc_n")) * dec(col("ct") + col("nb"))
          - dec(col("it")) * dec(col("corpus_n") + 1)).cast("double"))
      .withColumn("den",
        col("it").cast("double") * (col("corpus_n") + 1).cast("double")
          * (col("ct") + col("nb")).cast("double"))
      // empty increment ⇒ den = 0 and num = 0: no increment means no
      // drift, so the term is 0 by definition — an unguarded 0/0 would be
      // NaN, which the two engines cast differently (the q_dedup_recall
      // NULL-not-NaN discipline); the oracle carries the identical CASE
      .withColumn("term_fp",
        when(col("it") === 0, lit(0L)).otherwise(
          floor(col("num") * col("num") / col("den") * lit(1e6)).cast("long")))
      .select(col("bucket"), col("corpus_n"), col("inc_n"), col("term_fp"))
      .orderedBy("bucket")
  }

  private def simDriftOracle(nCentroids: Int, iters: Int): String =
    s"""WITH ${trainBody(nCentroids, iters, dim = 64, vSql =
         "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 5 <> 4")},
       |${assignCte("av", s"c$iters")},
       |vn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |       FROM embeddings WHERE vec_id % 5 = 4),
       |an AS (
       |  SELECT vec_id, cid AS bucket FROM (
       |    SELECT n.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_cosine_similarity(c.ce, n.e) DESC, c.cid) AS arn
       |    FROM vn n, c$iters c) WHERE arn = 1),
       |oc AS (SELECT bucket, count(*) AS corpus_n FROM av GROUP BY bucket),
       |oi AS (SELECT bucket, count(*) AS inc_n FROM an GROUP BY bucket),
       |o AS (SELECT bucket, COALESCE(corpus_n, 0) AS corpus_n,
       |             COALESCE(inc_n, 0) AS inc_n
       |      FROM oc FULL JOIN oi USING (bucket)),
       |tot AS (SELECT CAST(sum(corpus_n) AS BIGINT) AS ct,
       |               CAST(sum(inc_n) AS BIGINT) AS it,
       |               count(*) AS nb FROM o)
       |SELECT bucket, corpus_n, inc_n,
       |       CASE WHEN it = 0 THEN 0 ELSE CAST(floor(
       |         CAST(CAST(inc_n AS DECIMAL(19,0)) * CAST(ct + nb AS DECIMAL(19,0))
       |            - CAST(it AS DECIMAL(19,0)) * CAST(corpus_n + 1 AS DECIMAL(19,0))
       |              AS DOUBLE)
       |         * CAST(CAST(inc_n AS DECIMAL(19,0)) * CAST(ct + nb AS DECIMAL(19,0))
       |            - CAST(it AS DECIMAL(19,0)) * CAST(corpus_n + 1 AS DECIMAL(19,0))
       |              AS DOUBLE)
       |         / (CAST(it AS DOUBLE) * CAST(corpus_n + 1 AS DOUBLE)
       |            * CAST(ct + nb AS DOUBLE))
       |         * 1e6) AS BIGINT) END AS term_fp
       |FROM o CROSS JOIN tot
       |ORDER BY bucket""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    // the retrain trigger: per-bucket occupancy drift of the ingest
    // increment vs the trained corpus, fixed-point chi-square terms
    "q_sim_drift" -> QueryDef(simDrift(_, _), Some(simDriftOracle(8, 2))),
    "q_embed_pool" -> QueryDef(embedPool(_, _), Some(embedPoolOracle(8))),
    "q_embed_quant" -> QueryDef(quantize, Some(quantizeOracle)),
    "q_sim_topk" -> QueryDef(topkBrute(_, _), Some(
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT qid, vec_id AS nbr,
        |             list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cos
        |      FROM q JOIN embeddings ON vec_id != qid),
        |r AS (SELECT qid, nbr,
        |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nbr) AS rnk
        |      FROM c)
        |SELECT qid, rnk, nbr FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)),
    // contrastive mining: top-k wrong-class neighbors per query
    "q_mine_hard" -> QueryDef(mineHard(_, _), Some(mineHardOracle(20, 5))),
    // MMR greedy diversification as one array fold per query
    "q_sim_mmr" -> QueryDef(simMmr(_, _), Some(simMmrOracle(10, 20, 5))),
    "q_sim_bucketed" -> QueryDef(topkBucketed(_, _),
      Some(bucketedOracle(nQueries = 20, k = 3, nCentroids = 8,
        nprobe = 2, iters = 2, dim = 64))),
    "q_sim_quantized" -> QueryDef(topkQuantized(_, _),
      Some(quantizedOracle(20, 3))),
    "q_sim_recall" -> QueryDef(annRecall(_, _),
      Some(recallOracle(nQueries = 20, k = 3, nCentroids = 8,
        nprobe = 2, iters = 2, dim = 64))),
    "q_sim_centroids" -> QueryDef(centroidsQ(_, _),
      Some(centroidsOracle(nCentroids = 8, iters = 2, dim = 64, dims = 8)))
  )
}
