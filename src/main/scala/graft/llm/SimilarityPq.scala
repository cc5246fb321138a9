package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.QueryDef
import graft.core.QueryDef.OrderedOut

/** Product quantization (PQ, Jégou et al. 2011) over the embedding corpus —
  * the memory-compression ANN scale path that complements IVF bucketing
  * ([[Similarity.topkBucketed]]) and scalar int8 quantization
  * ([[Similarity.quantize]]): the 64-dim vector splits into `m` contiguous
  * subvectors, each quantized to the nearest entry of an independently
  * trained per-subspace codebook, so a vector stores as `m` small codes
  * (m · ceil(log2 ks) bits — 16 × 6 = 96 bits = 12 bytes at the gate
  * knobs, vs 256 float bytes: 21×) and search scores the query's
  * FULL-precision vector against code-reconstructed candidates
  * (asymmetric distance).
  *
  * Subspace assignment is canonical L2 — nearest centroid by Euclidean
  * distance via the native [[graft.expr.L2ArgMin]] codegen argmin on
  * `|c|² − 2·c·x` (a direction-only cosine quantizer reconstructs segments
  * at arbitrary norms and distorts the full-vector score; measured
  * recall@3 0.17 cosine vs 0.30+ L2 on the driver embeddings). Training is
  * otherwise the [[Similarity.trainCentroids]] discipline: seed = first
  * `ks` slices, fixed iteration count, exact-decimal means, round(6) — so
  * the TRAINED index replays in the DuckDB oracle, whose assignment CTEs
  * order by the IDENTICAL op tree
  * `list_inner_product(ce,ce) − 2·list_inner_product(ce,e)` (index-ordered
  * dots, single IEEE multiply/subtract — bit-identical; ordering by a
  * sqrt'd distance instead could collapse two distinct squared distances
  * onto one rounded double and flip a tiebreak). Candidates sharing a
  * reconstruction tie-break on neighbor id in both dialects.
  *
  * Scale shape: the `m` codebooks collapse to ONE broadcast row — encoding
  * and reconstruction are per-row broadcast argmin/lookups (zero corpus
  * shuffle, the [[Similarity.assignNearest]] discipline); queries broadcast
  * to the candidate scan; the top-k rank<=k filter plans WindowGroupLimit,
  * pruning per partition BEFORE the only exchange, which carries
  * (qid, nbr, cos) scalars — no vector or reconstruction ever crosses the
  * wire. Like the IVF trainer, the codebooks stay lazy Catalyst lineage so
  * the oracle can replay them; a corpus-scale run would persist the coded
  * table once and serve from the m·ceil(log2 ks)-bit codes.
  */
object SimilarityPq {

  /** Gate-scale knobs: 16 subspaces × 4 dims, 64-entry codebooks, two
    * Lloyd's refinement rounds (seeds are the first `ks` vector slices).
    * Chosen from the measured compression/recall frontier (BASELINE.md,
    * "Round-10: PQ compression/recall frontier"): the original 8-byte (ks=16, 1-round)
    * codes cap at recall@3 ≈ 0.33 on the near-isotropic driver
    * embeddings — more rounds do NOT fix 4-bit codes (3 rounds measured
    * WORSE, 0.28) — while 6-bit entries with one extra round reach 0.50
    * at a still-21× compression (96-bit codes vs 256 float bytes). */
  val dim = 64
  val m = 16
  val ds: Int = dim / m
  val ks = 64
  val rounds = 2
  val nQueries = 20
  val k = 3

  /** Lloyd's refinement rounds train on a deterministic SAMPLE of the
    * corpus — vectors whose id-string md5 starts strictly below this hex
    * digit (lexicographic compare on the lowercase hex digest ⇒ uniform
    * first-nibble fraction, here 8/16 = 50%). This is the honest corpus-
    * scale design (FAISS trains quantizers on a sample, not the corpus):
    * the per-round assign scan touches the sample only, the threshold is a
    * stateless per-row predicate (no global sort, no count — unlike a
    * bottom-k priority sample), and the oracle replays the identical
    * predicate, so the TRAINED index still hash-compares. Seeds stay the
    * first `ks` slices of the FULL corpus (sample-independent); ENCODING
    * always covers every vector. Fraction measured on the recall gauge:
    * 50% yields recall@3 0.483 vs the full-corpus 0.50 at the 500-vector
    * gate scale — the floor (0.40) holds with margin, and at corpus scale
    * the sample is far past k-means saturation (BASELINE.md r11). */
  val trainHexLt = "8"

  private def trainSampled(all: DataFrame,
                           hexLt: String = trainHexLt): DataFrame =
    all.filter(md5(col("vec_id").cast("string").cast("binary")) < lit(hexLt))

  /** The oracle's twin of [[trainSampled]]'s predicate. */
  private def trainSamplePred = s"md5(CAST(vec_id AS VARCHAR)) < '$trainHexLt'"

  private def off(j: Int, dsub: Int = ds): Int = (j - 1) * dsub + 1

  /** Exploded subvector view: (vec_id, j, se) — one row per vector per
    * subspace, produced MAP-SIDE (no exchange: the fan-out is a projection,
    * and the aggregations over it partial-aggregate before their shuffle,
    * so only fixed-width (j, cid) partials ever cross the wire). */
  private def subVecs(all: DataFrame, msub: Int): DataFrame = {
    val dsub = dim / msub
    all.select(col("vec_id"), posexplode(array((1 to msub).map(j =>
        slice(col("e"), off(j, dsub), dsub)): _*)))
      .select(col("vec_id"), (col("pos") + 1).as("j"), col("col").as("se"))
  }

  /** Collapse a (j, cid, ce) centroid table to ONE broadcastable row:
    * map j -> array<struct<cid, ce, n2>>, the per-subspace list
    * [[graft.expr.L2ArgMin]] consumes (n2 = precomputed self-dot). */
  private def toCbRow(cents: DataFrame): DataFrame =
    cents.groupBy(col("j"))
      .agg(collect_list(struct(col("cid"), col("ce"),
        call_function("vec_dot", col("ce"), col("ce")).as("n2"))).as("cs"))
      .agg(map_from_entries(collect_list(struct(col("j"), col("cs")))).as("cm"))

  /** All `m` codebooks trained in ONE aggregation pass — deterministic
    * per-subspace Lloyd's under the L2 metric: seed = first `ks` slices,
    * one broadcast-argmin assign round over the exploded view, one grouped
    * exact-decimal mean recompute ([[Similarity.trainCentroids]]'s recipe,
    * keyed (j, cid)). Per-subspace results are identical to `m`
    * independent trainings — same seeds, same assignment rule, same mean
    * arithmetic — so the oracle's per-subspace CTEs replay unchanged; the
    * restructure only collapses what WAS m seed scans + m assign scans +
    * m−1 one-row crossJoins (~50 scheduled jobs, measured ~2.3 s of
    * q_sim_pq_codes at sf0.1) into three small aggregations. Empty
    * clusters drop out identically on both engines. */
  private def codebooksRow(all: DataFrame, msub: Int = m, kse: Int = ks,
                           rounds: Int = rounds,
                           hexLt: String = trainHexLt,
                           pin: Boolean = false): DataFrame = {
    val dsub = dim / msub
    val sub = subVecs(all, msub)
    // refinement scans the sampled view; seeds come from the full corpus
    val tsub = subVecs(trainSampled(all, hexLt), msub)
    val seedRow = toCbRow(sub.filter(col("vec_id") < kse)
      .select(col("j"), col("vec_id").as("cid"), col("se").as("ce")))
    val dims = (1 to dsub).map(i =>
      round(sum(element_at(col("se"), i).cast("decimal(20,8)")).cast("double") /
        count(lit(1)), 6).as(s"m$i"))
    val trained = (1 to rounds).foldLeft(seedRow) { (cbRow, _) =>
      val assigned = tsub.crossJoin(broadcast(cbRow))
        .select(col("j"), col("se"), call_function("vec_argmin_l2",
          element_at(col("cm"), col("j")), col("se")).as("cid"))
      toCbRow(assigned.groupBy(col("j"), col("cid"))
        .agg(dims.head, dims.tail: _*)
        .select(col("j"), col("cid"),
          array((1 to dsub).map(i => col(s"m$i")): _*).as("ce")))
    }
    // `pin` materializes the ONE-row codebook map so encode/reconstruct
    // consumers broadcast the artifact instead of re-running the Lloyd
    // rounds inside each broadcast build (trainCentroids' `pin` rationale;
    // deterministic training, so results are unchanged).
    if (pin) trained.localCheckpoint(true) else trained
  }

  /** (df.* , c1..cm): every vector with its per-subspace
    * nearest-codebook-entry codes (the codebook map reaches lookups as a
    * scalar subquery — [[withCmScalar]] — never as a row column);
    * codebooks train on `trainOn` (default: `df`'s own vectors).
    * Broadcast-only — the corpus never shuffles. `df` needs (vec_id, e);
    * extra columns ride along. `trainOn` matters when `df` is itself a
    * derived frame: the codebook broadcast EXECUTES its training lineage,
    * so training the IVF-PQ codebooks on the coarse-ASSIGNED frame (as
    * pre-r11) re-ran the whole coarse train+assign chain inside the
    * broadcast even though the vector SET is identical to the raw corpus —
    * the oracle always trained from raw `v`. */
  private def coded(df: DataFrame, msub: Int = m, kse: Int = ks,
                    rounds: Int = rounds,
                    trainOn: Option[DataFrame] = None,
                    hexLt: String = trainHexLt,
                    pin: Boolean = false): DataFrame =
    // fanOut on the ENCODE side only (r20 opt): the driver parquet is one
    // row group, so the m-argmin encode and the interpreted recon
    // projection above it ran as ONE task (JobProfile: 1.3 s single-task
    // job inside q_sim_ivfpq). Training stays on the raw un-fanned frame
    // — a blanket fan at the vecs source pushed the exchange into every
    // tiny Lloyd-round aggregation and measured a net regression. The
    // guarded round-robin split vanishes at corpus scale (QueryDef.fanOut
    // contract), keeping the zero-content-shuffle doctrine intact.
    codedWithCb(df, msub, kse, rounds, trainOn, hexLt, pin)._1

  /** [[coded]] plus the codebook row it encoded against, so recon
    * consumers can take their own scalar reference to the SAME (pinned)
    * artifact instead of re-training. */
  private def codedWithCb(df: DataFrame, msub: Int = m, kse: Int = ks,
                          rounds: Int = rounds,
                          trainOn: Option[DataFrame] = None,
                          hexLt: String = trainHexLt,
                          pin: Boolean = false): (DataFrame, DataFrame) = {
    val cb = codebooksRow(trainOn.getOrElse(df), msub, kse, rounds, hexLt, pin)
    (encodeWith(graft.core.QueryDef.fanOut(df), cb, msub), cb)
  }

  /** The one-row codebook map reaching consumers as a SCALAR SUBQUERY
    * column instead of a crossJoin'd row column (r20 opt). The joined
    * `cm` column materialized the full m×ks map (~60 KB) into EVERY
    * corpus row at each codegen boundary — most expensively at the
    * deliberate codegen→interpreted-recon barrier (OPTIMIZATION_r20.md
    * "Change 5" attributes the chain's time to encode + scoring; the map-carry is
    * the component that GROWS WITH THE CORPUS at scale, which is why it
    * goes even though its sf0.1 share is modest). The scalar subquery
    * executes the (pinned)
    * one-row plan once per query (ReuseSubquery dedupes repeated
    * references) and reaches every expression as a plan-level constant —
    * no per-row copy at any boundary. The temp view exists only long
    * enough for analysis to inline it (the pinned-plan reference must
    * not outlive the build — the r19 block-retention lesson). */
  private def withCmScalar(cbRow: DataFrame)(
      build: org.apache.spark.sql.Column => DataFrame): DataFrame = {
    val name = "graft_cbrow_" + java.util.UUID.randomUUID().toString.replace("-", "")
    cbRow.createOrReplaceTempView(name)
    try {
      val out = build(expr(s"(SELECT cm FROM $name)"))
      out.queryExecution.analyzed // force view inlining before the drop
      out
    } finally cbRow.sparkSession.catalog.dropTempView(name)
  }

  /** Encode `df`'s vectors against an ALREADY-BUILT codebook row — split
    * from [[coded]] so the persisted-index build can encode against the
    * same pinned artifact it writes to disk (re-deriving the codebooks
    * inside the encode would train a second time). Output carries NO cm
    * column (see [[withCmScalar]]); reconstruction consumers take their
    * own scalar reference to the same codebook row. */
  private def encodeWith(df: DataFrame, cbRow: DataFrame,
                         msub: Int = m): DataFrame = {
    val dsub = dim / msub
    withCmScalar(cbRow) { cm =>
      df.select(df.columns.map(col) ++
        (1 to msub).map(j => call_function("vec_argmin_l2",
          element_at(cm, lit(j)), slice(col("e"), off(j, dsub), dsub)).as(s"c$j")): _*)
    }
  }

  /** The coded corpus frame (vec_id, cm, c1..cm) over the real trained
    * chain — spec hook for the pq_recon ≡ filter-HOF equivalence pin
    * (the spec's HOF side needs cm as a row column, so it is re-attached
    * here via the crossJoin the query paths no longer use). */
  private[graft] def codedForSpec(s: SparkSession, d: String): DataFrame = {
    val (enc, cb) = codedWithCb(Similarity.vecs(s, d), pin = true)
    enc.crossJoin(broadcast(cb))
  }

  /** Code-reconstructed vectors (vec_id, recon, rnrm): concat of each
    * subspace's assigned centroid, plus the reconstruction's own norm.
    *
    * The filter-HOF lookup is DELIBERATELY CodegenFallback: whole-stage
    * codegen defers a streamed-side expression that nothing upstream of
    * the broadcast join references into the join's generated inner loop,
    * re-evaluating it once per (row, query) PAIR — an all-native
    * formulation of this projection (a centroid-returning argmin twin of
    * vec_argmin_l2) measured 8.9 s vs 3.5 s at sf0.1, and a predicate
    * barrier doesn't help because PushPredicateThroughNonJoin substitutes
    * the alias into the pushed predicate. The interpreted projection is
    * the one in-Catalyst materialization barrier that neither collapses
    * nor defers, so recon and rnrm are computed ONCE per corpus row; the
    * join loop then does a single dot per pair. Bounded interpreted work:
    * m codebooks × ks entries per row. `rnrm` must live in THIS projection
    * — as a later projection it would be all-codegen and deferred per pair
    * right back. */
  private[llm] def withRecon(df: DataFrame, trainOn: Option[DataFrame],
                             keep: String*): DataFrame = {
    // native interpreted lookup (expr.PqRecon) against the scalar-
    // subquery codebook map (r20 opt): same values, same CodegenFallback
    // barrier, none of the per-entry boxed-lambda cost and none of the
    // per-row map materialization (withCmScalar's rationale)
    val (enc, cb) = codedWithCb(df, trainOn = trainOn, pin = true)
    reconProject(enc, cb, m, keep: _*)
  }

  /** [[withRecon]] against a PRE-PINNED codebook — the shape
    * QueryDef.pinPar callers need: training happened (concurrently with
    * the caller's other artifacts) before this is invoked, so the encode
    * and recon projection here are plan-identical to [[withRecon]]'s.
    * `msub` is the subspace count `cb` was trained with. */
  private[llm] def withReconCb(df: DataFrame, cb: DataFrame, keep: Seq[String],
                               msub: Int = m): DataFrame =
    reconProject(encodeWith(graft.core.QueryDef.fanOut(df), cb, msub), cb, msub,
      keep: _*)

  private def reconProject(enc: DataFrame, cb: DataFrame, msub: Int,
                           keep: String*): DataFrame =
    withCmScalar(cb) { cm =>
      def recon = call_function("pq_recon", cm,
        array((1 to msub).map(j => col(s"c$j")): _*))
      enc.select(keep.map(col) ++ Seq(col("vec_id"), recon.as("recon"),
        sqrt(call_function("vec_dot", recon, recon)).as("rnrm")): _*)
    }

  private def reconstructed(all: DataFrame): DataFrame = withRecon(all, None)

  /** The PQ index artifact: (vec_id, c1..cm) — the m·ceil(log2 ks)-bit
    * (12 bytes at the gate knobs) coded corpus a serving layer scans
    * instead of raw floats. */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    coded(Similarity.vecs(s, d), pin = true)
      .select(col("vec_id") +: (1 to m).map(j => col(s"c$j")): _*)
      .orderedBy("vec_id")

  /** Asymmetric top-k: full-precision queries against reconstructed
    * candidates. Same broadcast-queries + WindowGroupLimit shape as
    * [[Similarity.topkBrute]]; rank-only output. */
  def pqTopk(s: SparkSession, d: String,
             nQueries: Int = nQueries, k: Int = k): DataFrame = {
    val all = Similarity.vecs(s, d)
    // query norms materialize at the broadcast build, reconstruction norms
    // in the interpreted projection (see reconstructed) — the per-pair
    // expression is ONE dot, one multiply, one divide, the identical op
    // tree as Similarity.cosine (dot / (sqrt·sqrt)), so the oracle's
    // list_cosine_similarity compare is unchanged
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        sqrt(call_function("vec_dot", col("e"), col("e"))).as("qnrm"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    withRecon(all, None)
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        (call_function("vec_dot", col("qe"), col("recon")) /
          (col("qnrm") * col("rnrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
      .orderedBy("qid", "rnk")
  }

  /** Recall@k of the PQ search against the exact brute-force top-k — the
    * compression-loss gauge, the [[Similarity.recallAgainst]] recipe with
    * the PQ search as the approximate side. */
  def pqRecall(s: SparkSession, d: String,
               nQueries: Int = nQueries, k: Int = k): DataFrame =
    Similarity.recallAgainst(s, d, nQueries, k, pqTopk(s, d, nQueries, k))

  // ---- DuckDB oracle: the training + encode + reconstruct chain unrolled
  // as per-subspace CTEs, the Similarity.trainBody recipe on list_slice'd
  // subvectors. Assignment CTEs mirror vec_argmin_l2's score and tie rule
  // (n2 − 2·dot ASC, cid ASC).

  private def meanCols: String = (1 to ds).map(i =>
    s"round(CAST(sum(CAST(e[$i] AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6)")
    .mkString(",\n          ")

  private def assignSql(out: String, src: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, e, cid AS bucket FROM (
       |    SELECT s.vec_id, s.e, c.cid,
       |           row_number() OVER (PARTITION BY s.vec_id
       |             ORDER BY (list_inner_product(c.ce, c.ce)
       |                       - 2 * list_inner_product(c.ce, s.e)) ASC, c.cid) AS arn
       |    FROM $src s, $cents c) WHERE arn = 1)""".stripMargin

  /** Per-subspace (slice, seed, `rounds`× assign+recompute, encode)
    * CTEs — reference an existing `v` CTE, so they compose with the
    * coarse-IVF chain in the IVF-PQ oracle. */
  private def pqSubCtes: String = (1 to m).map { j =>
    // ts_j: the sampled training view ([[trainSampled]]'s predicate) —
    // Lloyd rounds assign from it; seeding and encoding stay on full s_j
    val lloyd = (1 to rounds).map { r =>
      s"""${assignSql(s"a${r}_$j", s"(SELECT * FROM s$j WHERE $trainSamplePred)", s"c${r - 1}_$j")},
         |c${r}_$j AS (
         |  SELECT bucket AS cid,
         |         [$meanCols] AS ce
         |  FROM a${r}_$j GROUP BY bucket)""".stripMargin
    }.mkString(",\n")
    s"""s$j AS (SELECT vec_id, list_slice(e, ${off(j)}, ${off(j) + ds - 1}) AS e FROM v),
       |c0_$j AS (SELECT vec_id AS cid, e AS ce FROM s$j WHERE vec_id < $ks),
       |$lloyd,
       |${assignSql(s"enc_$j", s"s$j", s"c${rounds}_$j")}""".stripMargin
  }.mkString(",\n")

  /** v + per-subspace (slice, seed, assign, recompute, encode) CTEs. */
  private def pqBody: String =
    s"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$pqSubCtes""".stripMargin

  private def reconCte: String = {
    val joins = (2 to m).map(j =>
      s"JOIN enc_$j e$j ON e$j.vec_id = e1.vec_id JOIN c${rounds}_$j cb$j ON cb$j.cid = e$j.bucket")
      .mkString("\n  ")
    val cat = (1 to m).map(j => s"cb$j.ce").mkString(" || ")
    s"""recon AS (
       |  SELECT e1.vec_id, $cat AS recon
       |  FROM enc_1 e1 JOIN c${rounds}_1 cb1 ON cb1.cid = e1.bucket
       |  $joins)""".stripMargin
  }

  private def codesOracle: String = {
    val joins = (2 to m).map(j => s"JOIN enc_$j e$j ON e$j.vec_id = e1.vec_id")
      .mkString(" ")
    val cols = (1 to m).map(j => s"e$j.bucket AS c$j").mkString(", ")
    s"""WITH $pqBody
       |SELECT e1.vec_id, $cols
       |FROM enc_1 e1 $joins
       |ORDER BY e1.vec_id""".stripMargin
  }

  /** PQ top CTE through ranked candidates — shared by topk + recall. */
  private def topCte(nQueries: Int): String =
    s"""q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < $nQueries),
       |ptop AS (
       |  SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, nbr) AS rnk
       |  FROM (SELECT q.qid, r.vec_id AS nbr,
       |               list_cosine_similarity(q.qe, r.recon) AS cos
       |        FROM q JOIN recon r ON r.vec_id != q.qid))""".stripMargin

  private def topkOracle(nQueries: Int, k: Int): String =
    s"""WITH $pqBody,
       |$reconCte,
       |${topCte(nQueries)}
       |SELECT qid, rnk, nbr FROM ptop WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  private def recallOracle(nQueries: Int, k: Int): String =
    s"""WITH $pqBody,
       |$reconCte,
       |${topCte(nQueries)},
       |${Similarity.recallTail(k, "ptop")}""".stripMargin

  /** IVF-PQ composed (the FAISS IVFPQ shape — the billion-scale serving
    * index): the trained coarse quantizer ([[Similarity.trainCentroids]],
    * cosine) buckets the corpus and prunes candidates to the `nprobe`
    * probed buckets; the PQ codebooks score the survivors against their
    * code reconstructions (12 bytes/vector at the gate knobs). Both
    * stages reuse their existing trained
    * machinery verbatim, so the oracle is the concatenation of the two CTE
    * families. Scale shape: probes, coarse centroids, and the PQ codebook
    * map all broadcast; candidate volume drops ~nprobe/nCentroids; scoring
    * touches reconstructions, not raw vectors; the only exchange carries
    * (qid, nbr, cos) scalars after the WindowGroupLimit prune. */
  def ivfPqTopk(s: SparkSession, d: String,
                nQueries: Int = nQueries, k: Int = k,
                nCentroids: Int = 8, nprobe: Int = 2,
                trainIters: Int = 2): DataFrame =
    ivfPqCandidates(s, d, nQueries, k, nCentroids, nprobe, trainIters)
      .orderedBy("qid", "rnk")

  /** [[ivfPqTopk]] without the harness ordering trailer — the shared
    * candidate generator for the search itself, the recall gauge, and the
    * exact-refine stage. */
  private def ivfPqCandidates(s: SparkSession, d: String,
                              nQueries: Int, k: Int,
                              nCentroids: Int = 8, nprobe: Int = 2,
                              trainIters: Int = 2): DataFrame = {
    val all = Similarity.vecs(s, d)
    // coarse centroids and PQ codebooks both train on the RAW corpus
    // (same vector set, exactly what the oracle's pqSubCtes train from v)
    // and are independent of each other — pin them concurrently
    // (QueryDef.pinPar, guide §2.6) instead of serializing two mostly-idle
    // Lloyd chains. Training on `assigned` instead would embed the coarse
    // train+assign chain in the codebook broadcast and re-execute it
    // there (measured: the r10 q_sim_ivfpq 10 s bench line).
    val Seq(cents, cb) = graft.core.QueryDef.pinPar(Seq(
      Similarity.trainCentroids(all, nCentroids, trainIters),
      codebooksRow(all)))
    val assigned = Similarity.assignNearest(all, cents)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    val rec = withReconCb(assigned, cb, Seq("bucket"))
    val probes = Similarity.ivfProbes(all, cents, nQueries, nprobe)
      .withColumn("qnrm", sqrt(call_function("vec_dot", col("qe"), col("qe"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    rec.join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        (call_function("vec_dot", col("qe"), col("recon")) /
          (col("qnrm") * col("rnrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
  }

  /** FAISS-style REFINE stage (IndexRefineFlat): the IVFPQ index proposes
    * `kCand` candidates per query under approximate (reconstructed-code)
    * distances, then the candidates' TRUE vectors are fetched and the
    * final top-`k` is ranked by EXACT cosine. This buys back the recall
    * the 21× code compression costs (measured in PqSpec: the refined
    * top-3 strictly improves on raw IVFPQ recall@3 against brute force)
    * for one extra candidate fetch whose size is nQueries·kCand — never
    * corpus-shaped.
    *
    * Scale shape: the candidate list and the query vectors both broadcast;
    * the true-vector fetch is a map-side semi-join pattern over the corpus
    * scan (at production scale the fetch targets the id-keyed vector
    * store; either way no corpus shuffle), and the exact scoring touches
    * only nQueries·kCand rows. */
  def ivfPqRerank(s: SparkSession, d: String,
                  nQueries: Int = nQueries, k: Int = k,
                  kCand: Int = 10): DataFrame = {
    val cand = ivfPqCandidates(s, d, nQueries, kCand)
      .select(col("qid"), col("nbr"))
    val all = Similarity.vecs(s, d)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    val exact = all.join(broadcast(cand), col("vec_id") === col("nbr"))
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nbr"),
        Similarity.cosine(col("qe"), col("e")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    exact
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
      .orderedBy("qid", "rnk")
  }

  private def ivfPqRerankOracle(nQueries: Int, k: Int, kCand: Int,
                                nCentroids: Int, nprobe: Int,
                                iters: Int): String =
    s"""WITH ${ivfPqBody(nQueries, nCentroids, nprobe, iters)},
       |cand AS (SELECT qid, nbr FROM rk WHERE rnk <= $kCand),
       |ex AS (SELECT cand.qid, cand.nbr,
       |              list_cosine_similarity(q.qe, v.e) AS cos
       |       FROM cand JOIN q USING (qid) JOIN v ON v.vec_id = cand.nbr),
       |rr AS (SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |              ORDER BY cos DESC, nbr) AS rnk FROM ex)
       |SELECT qid, rnk, nbr FROM rr WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** The IVFPQ oracle chain through the ranked `rk` CTE — shared by the
    * search and its recall gauge. */
  private def ivfPqBody(nQueries: Int, nCentroids: Int,
                        nprobe: Int, iters: Int,
                        tombWhere: String = ""): String =
    s"""${Similarity.trainBody(nCentroids, iters, dim)},
       |${Similarity.assignCte("assigned", s"c$iters")},
       |$pqSubCtes,
       |$reconCte,
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT qid, qe, cid AS bucket FROM (
       |    SELECT q.qid, q.qe, c.cid,
       |           row_number() OVER (PARTITION BY q.qid
       |             ORDER BY list_cosine_similarity(c.ce, q.qe) DESC, c.cid) AS prn
       |    FROM q, c$iters c) WHERE prn <= $nprobe),
       |sc AS (SELECT p.qid, a.vec_id AS nbr,
       |              list_cosine_similarity(p.qe, r.recon) AS cos
       |       FROM probes p JOIN assigned a ON p.bucket = a.bucket
       |       JOIN recon r ON r.vec_id = a.vec_id
       |       WHERE a.vec_id != p.qid$tombWhere),
       |rk AS (SELECT qid, nbr, row_number() OVER (PARTITION BY qid
       |              ORDER BY cos DESC, nbr) AS rnk FROM sc)""".stripMargin

  private def ivfPqOracle(nQueries: Int, k: Int, nCentroids: Int,
                          nprobe: Int, iters: Int): String =
    s"""WITH ${ivfPqBody(nQueries, nCentroids, nprobe, iters)}
       |SELECT qid, rnk, nbr FROM rk WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** Serve-minus-tombstones replay: the identical IVFPQ chain with the
    * tombstone predicate (vec_id ≡ 3 mod 7) excluding indexed rows from
    * the scoring join — queries are untouched (the workload is external
    * to the index; only the TARGET set shrinks). */
  private def indexDeleteOracle(nQueries: Int, k: Int, nCentroids: Int,
                                nprobe: Int, iters: Int): String =
    s"""WITH ${ivfPqBody(nQueries, nCentroids, nprobe, iters,
          tombWhere = " AND a.vec_id % 7 != 3")}
       |SELECT qid, rnk, nbr FROM rk WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** Recall@k of the composed IVFPQ index vs brute force — completes the
    * gauge trio (IVF, PQ, IVFPQ), all three through the one
    * [[Similarity.recallAgainst]]/[[Similarity.recallTail]] recipe. */
  def ivfPqRecall(s: SparkSession, d: String,
                  nQueries: Int = nQueries, k: Int = k): DataFrame =
    Similarity.recallAgainst(s, d, nQueries, k,
      ivfPqCandidates(s, d, nQueries, k)) // unordered: recall aggregates pairs

  private def ivfPqRecallOracle(nQueries: Int, k: Int, nCentroids: Int,
                                nprobe: Int, iters: Int): String =
    s"""WITH ${ivfPqBody(nQueries, nCentroids, nprobe, iters)},
       |${Similarity.recallTail(k, "rk")}""".stripMargin

  /** Reconstruction from PERSISTED codes — the serve-side twin of
    * [[withRecon]]: `codes` carries (vec_id, c1..cm) read back from the
    * index table instead of being encoded in-plan, the codebook map rides
    * the same one-row broadcast, and the filter-HOF lookup keeps the same
    * deliberately-interpreted projection barrier (recon computed once per
    * stored row, never per (row, query) pair — [[withRecon]]'s
    * rationale). */
  private def reconFromCodes(codes: DataFrame, cbRow: DataFrame,
                             msub: Int, keep: String*): DataFrame =
    // native interpreted lookup against the scalar-subquery codebook map
    // — the [[withRecon]] swap, serve side. fanOut: the [[coded]]
    // rationale — the persisted codes land in a handful of bucket files,
    // so the interpreted recon pass otherwise runs on as few tasks
    withCmScalar(cbRow) { cm =>
      def recon = call_function("pq_recon", cm,
        array((1 to msub).map(j => col(s"c$j")): _*))
      graft.core.QueryDef.fanOut(codes)
        .select(keep.map(col) ++ Seq(col("vec_id"), recon.as("recon"),
          sqrt(call_function("vec_dot", recon, recon)).as("rnrm")): _*)
    }

  /** INCREMENTAL index ingest — the ANN twin of the dedup family's
    * daily-increment pattern and the update half of the "index once,
    * query many" story: NEW vectors (vec_id % 5 = 4, the same increment
    * convention as [[Dedup.nearIncremental]]) are coarse-assigned and
    * PQ-encoded against centroids and codebooks trained on the EXISTING
    * corpus only — no retrain, which is how production IVFPQ indexes
    * absorb deltas (FAISS add_with_ids; quantizers retrain on drift
    * schedules, not per batch). Output: the increment's index rows
    * (vec_id, coarse bucket, c1..cm), appendable to the persisted coded
    * table. Scale shape: the increment never shuffles — both trained
    * artifacts arrive as one-row broadcasts (pinned), and the corpus is
    * touched only inside the one-time training lineage. */
  def indexIngest(s: SparkSession, d: String): DataFrame = {
    val all = Similarity.vecs(s, d)
    val isNew = pmod(col("vec_id"), lit(5)) === 4
    val corpus = all.filter(!isNew)
    // the two trained artifacts are independent (both read only `corpus`)
    // — pin them concurrently (QueryDef.pinPar, guide §2.6) instead of
    // serializing two mostly-idle Lloyd chains
    val Seq(cents, cb) = graft.core.QueryDef.pinPar(Seq(
      Similarity.trainCentroids(corpus, 8, 2),
      codebooksRow(corpus)))
    val assigned = Similarity.assignNearest(all.filter(isNew), cents)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    encodeWith(assigned, cb)
      .select(col("vec_id") +: col("bucket") +: (1 to m).map(j => col(s"c$j")): _*)
      .orderedBy("vec_id")
  }

  /** Trains from the corpus-only `v`, then assigns/encodes the increment
    * `vn` — the training CTEs are the standard chains with `v` filtered,
    * the encode CTEs are [[assignSql]] pointed at the increment. */
  private def indexIngestOracle: String = {
    val encNew = (1 to m).map { j =>
      s"""sn$j AS (SELECT vec_id, list_slice(e, ${off(j)}, ${off(j) + ds - 1}) AS e FROM vn),
         |${assignSql(s"encn_$j", s"sn$j", s"c${rounds}_$j")}""".stripMargin
    }.mkString(",\n")
    val joins = (2 to m)
      .map(j => s"JOIN encn_$j e$j ON e$j.vec_id = e1.vec_id").mkString(" ")
    val cols = (1 to m).map(j => s"e$j.bucket AS c$j").mkString(", ")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |           FROM embeddings WHERE vec_id % 5 <> 4),
       |vn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |       FROM embeddings WHERE vec_id % 5 = 4),
       |c0 AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
       |${(1 to 2).map(t =>
          s"""${Similarity.assignCte(s"a$t", s"c${t - 1}")},
             |c$t AS (
             |  SELECT bucket AS cid,
             |         [${(1 to dim).map(i =>
                  s"round(CAST(sum(CAST(e[$i] AS DECIMAL(20,8))) AS DOUBLE) / count(*), 6)")
                  .mkString(",\n          ")}] AS ce
             |  FROM a$t GROUP BY bucket)""".stripMargin).mkString(",\n")},
       |coarse AS (
       |  SELECT vec_id, cid AS bucket FROM (
       |    SELECT n.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_cosine_similarity(c.ce, n.e) DESC, c.cid) AS arn
       |    FROM vn n, c2 c) WHERE arn = 1),
       |$pqSubCtes,
       |$encNew
       |SELECT e1.vec_id, coarse.bucket, $cols
       |FROM encn_1 e1 $joins JOIN coarse ON coarse.vec_id = e1.vec_id
       |ORDER BY e1.vec_id""".stripMargin
  }

  /** INDEX COMPACTION — the rebalance step [[indexIngest]] defers and
    * `q_sim_drift` measures but (pre-r13) nothing acted on: after
    * increments accumulate under a quantizer trained on the ORIGINAL
    * corpus, the coarse centroids are RETRAINED on a deterministic
    * md5-prefix sample of the MERGED corpus (the [[trainSampled]]
    * predicate — the honest corpus-scale sample; FAISS retrains
    * quantizers on drift schedules, on samples), and ONLY vectors whose
    * coarse bucket changed are re-emitted as rewritten index rows
    * (vec_id, old_bucket, new_bucket, c1..cm) — the delta a compactor
    * applies to the hive-partitioned coded table. PQ codebooks stay
    * FROZEN (this scheme encodes raw subvectors, not bucket residuals, so
    * codes survive re-bucketing; the emitted rows carry them so the
    * rewrite is a self-contained upsert in the [[indexIngest]] schema).
    *
    * Scale shape — the corpus is TOUCHED ONCE in the serve plan
    * (CatalogSpec counts exactly one embeddings scan): both centroid sets
    * and the codebooks are pinned one-row broadcasts, so the single scan
    * flows map-side through old-assign argmax → new-assign argmax →
    * changed-bucket filter → PQ encode; nothing vector-sized ever
    * shuffles, and the rewrite set (the only output) is drift-sized, not
    * corpus-sized. */
  def indexCompact(s: SparkSession, d: String, nCentroids: Int = 8,
                   trainIters: Int = 2): DataFrame = {
    val all = Similarity.vecs(s, d)
    val isNew = pmod(col("vec_id"), lit(5)) === 4
    val corpus = all.filter(!isNew)
    // three INDEPENDENT trained artifacts — the old (ingest-time)
    // quantizer, the retrained one, and the frozen codebooks — pinned
    // concurrently (QueryDef.pinPar, guide §2.6): the heaviest
    // multi-artifact build in the catalog paid three serialized
    // mostly-idle Lloyd chains here
    val Seq(oldCents, newCents, cb) = graft.core.QueryDef.pinPar(Seq(
      // OLD quantizer: the ingest-time artifact (corpus-only training)
      Similarity.trainCentroids(corpus, nCentroids, trainIters),
      // NEW quantizer: retrained on the sampled MERGED corpus
      Similarity.trainCentroids(trainSampled(all), nCentroids, trainIters),
      codebooksRow(corpus))) // codebooks frozen
    val oldA = Similarity.assignNearest(all, oldCents)
      .select(col("vec_id"), col("e"), col("cid").as("old_bucket"))
    val both = oldA.crossJoin(broadcast(Similarity.centroidRow(newCents)))
      .select(col("vec_id"), col("e"), col("old_bucket"),
        call_function("vec_argmax_cos", col("cs"), col("e")).as("new_bucket"))
    val moved = both.filter(col("old_bucket") =!= col("new_bucket"))
    encodeWith(moved, cb)
      .select(col("vec_id") +: col("old_bucket") +: col("new_bucket") +:
        (1 to m).map(j => col(s"c$j")): _*)
      .orderedBy("vec_id")
  }

  /** Old train on corpus `v` (the [[pqSubCtes]] chain's own corpus CTE,
    * so the frozen codebooks compose), new train on the sampled merged
    * set under the `n` prefix, both assignments over the full set, PQ
    * encode of the moved rows only. */
  private def indexCompactOracle(nCentroids: Int, iters: Int): String = {
    val encMoved = (1 to m).map { j =>
      s"""sn$j AS (SELECT vec_id, list_slice(e, ${off(j)}, ${off(j) + ds - 1}) AS e FROM moved),
         |${assignSql(s"encn_$j", s"sn$j", s"c${rounds}_$j")}""".stripMargin
    }.mkString(",\n")
    val joins = (2 to m)
      .map(j => s"JOIN encn_$j e$j ON e$j.vec_id = e1.vec_id").mkString(" ")
    val cols = (1 to m).map(j => s"e$j.bucket AS c$j").mkString(", ")
    s"""WITH ${Similarity.trainBody(nCentroids, iters, dim,
          "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 5 <> 4")},
       |${Similarity.trainBody(nCentroids, iters, dim,
          s"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE $trainSamplePred",
          prefix = "n")},
       |allv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |${Similarity.assignCte("oa", s"c$iters", "allv")},
       |${Similarity.assignCte("na", s"nc$iters", "allv")},
       |moved AS (
       |  SELECT oa.vec_id, oa.e, oa.bucket AS old_bucket, na.bucket AS new_bucket
       |  FROM oa JOIN na ON na.vec_id = oa.vec_id
       |  WHERE oa.bucket <> na.bucket),
       |$pqSubCtes,
       |$encMoved
       |SELECT m.vec_id, m.old_bucket, m.new_bucket, $cols
       |FROM encn_1 e1 $joins
       |JOIN moved m ON m.vec_id = e1.vec_id
       |ORDER BY m.vec_id""".stripMargin
  }

  /** Index-artifact location for [[ivfPqPersisted]]: the embeddings
    * fingerprint under a version + knob tag — "index once, query many"
    * ([[graft.core.Artifacts]]). Bump the version when the trainer/encoder
    * CODE changes semantics. */
  private def indexRoot(s: SparkSession, d: String): String =
    s"${graft.core.Tables.artifactRoot(s)}/graft_index/" +
      s"v1_m${m}k${ks}r${rounds}h${trainHexLt}_" +
      graft.core.Artifacts.fingerprint(s, d, "embeddings")

  /** IVFPQ as a PERSISTED serving index — the on-disk half of the corpus-
    * scale similarity story ("index once, query many", the FAISS
    * deployment shape): the BUILD step trains the coarse quantizer + PQ
    * codebooks once, encodes every vector, and writes three artifacts —
    * centroids (nCentroids rows), codebooks (m·ks rows), and the coded
    * corpus laid out as a hive-PARTITIONED table on the coarse bucket
    * (12-byte codes per vector, [[graft.core.Layout.writePartitioned]]);
    * the SERVE step reads only the artifacts back, ranks probe buckets
    * from the persisted centroids, and scans the coded table with the
    * probe join planted on the PARTITION column, so dynamic partition
    * pruning drops every unprobed bucket's directory before a byte of it
    * is read (plan-guarded in CatalogSpec; the measured fraction is in
    * BASELINE.md). Search math is bit-identical to [[ivfPqTopk]] — doubles
    * round-trip parquet exactly, codes are ints, and the reconstruction/
    * scoring op trees are shared — so the SAME oracle adjudicates both.
    * At 100 TB the build runs once a day over the corpus delta and the
    * serve side is the only recurring cost: nprobe/nCentroids of the coded
    * table (21× smaller than the raw floats) per query batch. */
  def ivfPqPersisted(s: SparkSession, d: String,
                     nQueries: Int = nQueries, k: Int = k,
                     nCentroids: Int = 8, nprobe: Int = 2,
                     trainIters: Int = 2): DataFrame =
    serveIndex(s, ensureIndex(s, d, nCentroids, trainIters),
      Similarity.vecs(s, d), None, nQueries, k, nprobe)
      .orderedBy("qid", "rnk")

  /** The BUILD half of [[ivfPqPersisted]] — train (pinned), encode,
    * persist the three artifacts (centroids, codebooks, bucket-partitioned
    * codes) once per corpus fingerprint as ONE build-once root
    * ([[graft.core.Artifacts.publishOnce]]). Returns the artifact root. */
  private[llm] def ensureIndex(s: SparkSession, d: String,
      nCentroids: Int = 8, trainIters: Int = 2): String = {
    val all = Similarity.vecs(s, d)
    graft.core.Artifacts.publishOnce(s, indexRoot(s, d)) { staging =>
      // the two trained artifacts are independent — train them
      // concurrently (QueryDef.pinPar, guide §2.6); the writes below read
      // the pinned frames, so the artifact bytes are unchanged
      val Seq(cents, cb) = graft.core.QueryDef.pinPar(Seq(
        Similarity.trainCentroids(all, nCentroids, trainIters),
        codebooksRow(all)))
      cents.write.mode("overwrite").parquet(s"$staging/centroids")
      cb.select(explode(col("cm")).as(Seq("j", "cs")))
        .select(col("j"), explode(col("cs")).as("c"))
        .select(col("j"), col("c.cid").as("cid"), col("c.ce").as("ce"))
        .write.mode("overwrite").parquet(s"$staging/codebooks")
      val assigned = Similarity.assignNearest(all, cents)
        .select(col("vec_id"), col("e"), col("cid").as("bucket"))
      graft.core.Layout.writePartitioned(
        encodeWith(assigned, cb)
          .select(col("vec_id") +: col("bucket") +: (1 to m).map(j => col(s"c$j")): _*),
        s"$staging/codes", "bucket")
    }
  }

  /** The SERVE half of [[ivfPqPersisted]]: everything reads the
    * artifacts, not the corpus (queries keep their raw full-precision
    * vectors — asymmetric search). `tomb`, when present, is the DELETE
    * verb's tombstone key table (FAISS IDSelector / remove_ids shape):
    * anti-joined against the coded table AT THE SCAN — deletion-sized and
    * broadcast, applied before reconstruction so tombstoned rows never
    * even decode, and placed on the codes side so the probe join's
    * dynamic partition pruning is untouched. `codesDir` lets the
    * compacted coded table ([[purgeTombstones]]) serve through the
    * identical plan. */
  private[llm] def serveIndex(s: SparkSession, root: String, all: DataFrame,
      tomb: Option[DataFrame], nQueries: Int, k: Int, nprobe: Int,
      codesDir: String = "codes"): DataFrame = {
    val centsP = s.read.parquet(s"$root/centroids")
    val cbP = toCbRow(s.read.parquet(s"$root/codebooks"))
    val codesRaw = s.read.parquet(s"$root/$codesDir")
    val codesP = tomb.fold(codesRaw)(t => codesRaw.join(broadcast(t),
      col("vec_id") === col("tomb_id"), "left_anti"))
    val probes = Similarity.ivfProbes(all, centsP, nQueries, nprobe)
      .withColumn("qnrm", sqrt(call_function("vec_dot", col("qe"), col("qe"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nbr"))
    reconFromCodes(codesP, cbP, m, "bucket")
      .join(broadcast(probes), "bucket")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nbr"),
        (call_function("vec_dot", col("qe"), col("recon")) /
          (col("qnrm") * col("rnrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nbr"))
  }

  /** The DELETE verb's tombstone table: vec_id ≡ 3 (mod 7) — a
    * deterministic ~14% deletion set cutting across every coarse bucket,
    * modeled as a key TABLE (not a predicate pushed into the scan)
    * because that is the production artifact: deletes arrive as ids, the
    * index is immutable until compaction, and serve consults the
    * tombstone set (FAISS IDSelectorBatch under remove_ids). */
  private[llm] def tombstones(all: DataFrame): DataFrame =
    all.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id").as("tomb_id"))

  /** INDEX DELETE — the remaining production verb of the persisted-IVFPQ
    * lifecycle (build / ingest / compact / serve / DELETE): serve the
    * persisted index minus the tombstoned vectors. Logical delete only —
    * the coded table is untouched; the tombstone key table broadcasts
    * into an anti-join at the codes scan. The physical reclamation is
    * [[purgeTombstones]] (folded into the compaction step), pinned by
    * PqSpec to serve hash-identically to this masked path AND to equal a
    * fresh encode of the surviving set under the same frozen artifacts.
    * Scale shape: identical to [[ivfPqPersisted]] plus one broadcast
    * anti-join of a deletion-sized key set; DPP still prunes unprobed
    * bucket directories (the mask rides the codes side, not the probe
    * side). */
  def indexDelete(s: SparkSession, d: String,
                  nQueries: Int = nQueries, k: Int = k,
                  nCentroids: Int = 8, nprobe: Int = 2,
                  trainIters: Int = 2): DataFrame = {
    val all = Similarity.vecs(s, d)
    serveIndex(s, ensureIndex(s, d, nCentroids, trainIters), all,
      Some(tombstones(all)), nQueries, k, nprobe)
      .orderedBy("qid", "rnk")
  }

  /** Encode an arbitrary vector frame against a persisted index's FROZEN
    * artifacts (centroids + codebooks read back, no retraining) — the
    * spec witness that compaction is a pure rewrite: a fresh encode of
    * the surviving set must byte-equal the compacted coded table. */
  private[llm] def encodeAgainstIndex(s: SparkSession, root: String,
      vectors: DataFrame): DataFrame = {
    val centsP = s.read.parquet(s"$root/centroids")
    val cbP = toCbRow(s.read.parquet(s"$root/codebooks"))
    val assigned = Similarity.assignNearest(vectors, centsP)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    encodeWith(assigned, cbP)
      .select(col("vec_id") +: col("bucket") +:
        (1 to m).map(j => col(s"c$j")): _*)
  }

  /** Tombstone COMPACTION — the physical half of the delete verb, folded
    * into the index-compaction family: rewrite the bucket-partitioned
    * coded table minus the tombstoned rows into a `codes_live` artifact
    * (same staged atomic publish as the build), after which serving needs
    * no mask at all. Quantizers are untouched — this scheme encodes raw
    * subvectors, so surviving codes are byte-identical to a fresh encode
    * of the surviving set (the PqSpec round-trip equality). Returns the
    * artifact root. */
  private[llm] def purgeTombstones(s: SparkSession, d: String,
      nCentroids: Int = 8, trainIters: Int = 2): String = {
    val root = ensureIndex(s, d, nCentroids, trainIters)
    val live = s.read.parquet(s"$root/codes")
      .join(broadcast(tombstones(Similarity.vecs(s, d))),
        col("vec_id") === col("tomb_id"), "left_anti")
    graft.core.Artifacts.publishOnce(s, s"$root/codes_live") { staging =>
      graft.core.Layout.writePartitioned(live, staging, "bucket")
    }
    root
  }

  val defs: Map[String, QueryDef] = Map(
    "q_sim_pq_codes" -> QueryDef(pqCodes, Some(codesOracle)),
    "q_sim_pq" -> QueryDef(pqTopk(_, _), Some(topkOracle(nQueries, k))),
    "q_sim_pq_recall" -> QueryDef(pqRecall(_, _), Some(recallOracle(nQueries, k))),
    "q_sim_ivfpq" -> QueryDef(ivfPqTopk(_, _),
      Some(ivfPqOracle(nQueries, k, nCentroids = 8, nprobe = 2, iters = 2))),
    "q_sim_ivfpq_recall" -> QueryDef(ivfPqRecall(_, _),
      Some(ivfPqRecallOracle(nQueries, k, nCentroids = 8, nprobe = 2, iters = 2))),
    // FAISS refine: IVFPQ proposes 10 candidates under code distances,
    // exact cosine over the fetched true vectors ranks the final 3
    "q_sim_ivfpq_rerank" -> QueryDef(ivfPqRerank(_, _),
      Some(ivfPqRerankOracle(nQueries, k, kCand = 10, nCentroids = 8,
        nprobe = 2, iters = 2))),
    // identical semantics to q_sim_ivfpq — the search serves from the
    // persisted index, so the SAME oracle adjudicates the round trip
    "q_sim_ivfpq_persisted" -> QueryDef(ivfPqPersisted(_, _),
      Some(ivfPqOracle(nQueries, k, nCentroids = 8, nprobe = 2, iters = 2))),
    // increment encoded against the EXISTING index's trained artifacts —
    // index update without retrain
    "q_sim_index_ingest" -> QueryDef(indexIngest, Some(indexIngestOracle)),
    // drift-driven rebalance: coarse quantizer retrained on the sampled
    // merged corpus, ONLY changed-bucket rows re-emitted; corpus touched
    // once in the serve plan (plan-guarded)
    "q_sim_index_compact" -> QueryDef(indexCompact(_, _),
      Some(indexCompactOracle(8, 2))),
    // the delete verb: persisted serve with the tombstone key table
    // anti-joined at the codes scan (logical delete; physical reclamation
    // is purgeTombstones, spec-pinned ≡ this and ≡ a fresh encode of the
    // survivors under the same frozen artifacts)
    "q_sim_index_delete" -> QueryDef(indexDelete(_, _),
      Some(indexDeleteOracle(nQueries, k, nCentroids = 8, nprobe = 2,
        iters = 2)))
  )
}
