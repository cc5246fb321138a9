package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.QueryDef
import graft.core.QueryDef.OrderedOut

/** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
  * embedding corpus with trained k-means, then within each cluster flag as
  * duplicates the vectors whose cosine to a HIGHER-PRIORITY cluster-mate
  * (here: lower vec_id — deterministic keep order) exceeds a threshold.
  * Complements the hash-bucket family: sign-LSH ([[Dedup]] embed queries)
  * buckets by random-hyperplane bits; this buckets by LEARNED cluster
  * structure — the actual SemDeDup recipe — and makes the keep/drop rule
  * an oracled first-class output rather than candidate pairs.
  *
  * The keep rule is the paper's one-shot greedy: a vector is dropped iff
  * SOME lower-id cluster-mate is within the threshold, even if that mate
  * is itself dropped — no transitive chasing (chain-merging is
  * q_dedup_clusters' job). Threshold 0.3 is tuned to the driver corpus
  * (near-isotropic synthetic embeddings whose extreme pairwise cosine is
  * ~0.4; the paper's 0.95+ presumes a trained encoder's geometry — the
  * knob is data-dependent, the operator shape is not).
  *
  * Scale shape: clustering reuses [[Similarity.trainCentroids]] /
  * [[Similarity.assignNearest]] — zero corpus shuffle up to assignment.
  * The within-cluster pairing DOES co-locate each cluster through one
  * exchange on the cluster id (unavoidable — it is the algorithm), and its
  * quadratic is bounded per cluster: at corpus scale nCentroids grows with
  * the corpus so cluster size stays ~constant (the paper runs 50k clusters
  * over 5B embeddings) — the same per-bucket-bounded discipline as the
  * capped LSH variants, with k as the knob. Only (vec_id, e, bucket)
  * crosses that exchange; the verdict output joins pair survivors back by
  * id. */
object SemDedup {

  val nCentroids = 8
  val iters = 2
  val threshold = 0.3

  /** (vec_id, bucket, is_dup 0/1) for every vector — the dedup verdict an
    * LLM pipeline consumes (filter is_dup = 0), emitted as the full
    * per-vector table so the oracle hashes the whole decision surface. */
  def semantic(s: SparkSession, d: String): DataFrame =
    semanticAt(s, d, nCentroids)

  /** [[semantic]] at an explicit cluster count — the k knob
    * (BASELINE.md, "SemDeDup cluster-count sweep": pair volume ∝ ~1/k). */
  def semanticAt(s: SparkSession, d: String, k: Int,
                 maxMates: Option[Int] = None): DataFrame = {
    val all = Similarity.vecs(s, d)
    val cents = Similarity.trainCentroids(all, k, iters)
    val assigned = Similarity.assignNearest(all, cents)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    verdict(assigned, threshold, "vec_id", maxMates)
  }

  /** The 100 TB guard-rail variant of [[semantic]] (VERDICT r9 item 3):
    * identical clustering, but the keep/drop pairing is bounded per
    * cluster by [[maxMatesCap]] — growing k with the corpus keeps
    * clusters small ON AVERAGE (the paper's lever), while this cap is
    * the worst-case bound the other five dedup families already carry:
    * a mass-duplicated corpus that collapses into one giant cluster
    * costs n·cap comparisons there, never n². */
  val maxMatesCap = 16
  def semanticCapped(s: SparkSession, d: String): DataFrame =
    semanticAt(s, d, nCentroids, Some(maxMatesCap))

  private def semanticCappedOracle: String =
    s"""WITH ${Similarity.trainBody(nCentroids, iters, 64)},
       |${Similarity.assignCte("assigned", s"c$iters")},
       |${verdictSql(threshold, "vec_id", Some(maxMatesCap))}""".stripMargin

  /** The SemDeDup keep/drop rule — ONE implementation for both the
    * embedding and text variants: within-cluster pairing against
    * lower-id mates over `t`, then the per-vector verdict table keyed
    * `idName`. `maxMates` (None = unlimited) is the hot-cluster cap: the
    * b-side of the pairing is restricted to each cluster's `maxMates`
    * LOWEST vec_ids (a row_number window over the SAME bucket key the
    * join shuffles on — exchange reuse, like the LSH count-window cap).
    * This bounds the within-cluster join at n·cap rows per cluster —
    * LINEAR in cluster size — where the uncapped rule is n²/2: an
    * adversarial corpus (mass duplication collapsing into one giant
    * cluster) degrades to a bounded scan instead of a quadratic blow-up.
    * Semantics under the cap: a vector is dropped iff it is within the
    * threshold of one of its cluster's `maxMates` highest-priority
    * (lowest-id) members — the greedy keep-set is bounded per cluster,
    * which is exactly how a production SemDeDup bounds representative
    * comparisons; on any cluster with ≤ cap members the answer is
    * IDENTICAL to the uncapped rule. */
  private def verdict(assigned: DataFrame, t: Double, idName: String,
                      maxMates: Option[Int] = None): DataFrame = {
    val mates = maxMates match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("vec_id")
        assigned.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= cap).drop("rn")
      case None => assigned
    }
    val dups = assigned.as("a").join(mates.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") > col("b.vec_id") &&
          Similarity.cosine(col("a.e"), col("b.e")) > t)
      .select(col("a.vec_id").as(idName)).distinct()
    assigned.select(col("vec_id").as(idName), col("bucket"))
      .join(dups.withColumn("hit", lit(1L)), Seq(idName), "left")
      .select(col(idName), col("bucket"),
        coalesce(col("hit"), lit(0L)).as("is_dup"))
      .orderedBy(idName)
  }

  /** Oracle twin of [[verdict]] — the dups + verdict SQL tail (needs the
    * `assigned` CTE in scope). */
  private def verdictSql(t: Double, idOut: String,
                         maxMates: Option[Int] = None): String = {
    val matesCte = maxMates match {
      case Some(cap) =>
        s"""mates AS (
           |  SELECT vec_id, e, bucket FROM (
           |    SELECT vec_id, e, bucket,
           |           row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
           |    FROM assigned) WHERE rn <= $cap),
           |""".stripMargin
      case None => "mates AS (SELECT * FROM assigned),\n"
    }
    s"""${matesCte}dups AS (
       |  SELECT DISTINCT a.vec_id FROM assigned a JOIN mates b
       |  ON a.bucket = b.bucket AND a.vec_id > b.vec_id
       |     AND list_cosine_similarity(a.e, b.e) > $t)
       |SELECT s.vec_id AS $idOut, s.bucket,
       |       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM assigned s LEFT JOIN dups d ON s.vec_id = d.vec_id
       |ORDER BY $idOut""".stripMargin
  }

  private def semanticOracle: String =
    s"""WITH ${Similarity.trainBody(nCentroids, iters, 64)},
       |${Similarity.assignCte("assigned", s"c$iters")},
       |${verdictSql(threshold, "vec_id")}""".stripMargin

  /** TEXT-side SemDeDup end-to-end: documents → feature-hashing vectors
    * ([[Vectorize.hashingCore]] — no embedding model in the loop) →
    * trained k-means clusters → within-cluster cosine threshold. This is
    * the composition the vectorizer exists for: semantic-ish dedup over a
    * corpus that only has text. Threshold 0.9 here is the paper-like
    * regime — hashing vectors of same-vocabulary docs genuinely
    * concentrate (measured p99 cosine 0.83 on the driver corpus), unlike
    * the near-isotropic synthetic embeddings (see [[threshold]]).
    * Zero-norm vectors (a doc whose bucket counts all cancel) are
    * excluded before clustering on both engines — cosine is undefined for
    * them; none exist in the driver corpus but the guard keeps the
    * operator total. */
  val textThreshold = 0.9
  val textDim: Int = Vectorize.dim

  def semanticText(s: SparkSession, d: String): DataFrame = {
    val hv = Vectorize.hashingCore(s, d)
    val vecs = hv.filter(col("nrm") > 0)
      .select(col("doc_id").as("vec_id"),
        array((1 to textDim).map(i => col(s"f$i").cast("double")): _*).as("e"))
    val cents = Similarity.trainCentroids(vecs, nCentroids, iters, textDim)
    val assigned = Similarity.assignNearest(vecs, cents)
      .select(col("vec_id"), col("e"), col("cid").as("bucket"))
    verdict(assigned, textThreshold, "doc_id")
  }

  private def semanticTextOracle: String = {
    val vSql = "SELECT doc_id AS vec_id, CAST([" +
      (1 to textDim).map(i => s"f$i").mkString(", ") +
      "] AS DOUBLE[]) AS e FROM f WHERE " +
      (1 to textDim).map(i => s"f$i*f$i").mkString(" + ") + " > 0"
    s"""WITH ${Vectorize.hashingCtes},
       |${Similarity.trainBody(nCentroids, iters, textDim, vSql)},
       |${Similarity.assignCte("assigned", s"c$iters")},
       |${verdictSql(textThreshold, "doc_id")}""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "q_dedup_semantic" -> QueryDef(semantic, Some(semanticOracle)),
    "q_dedup_semantic_capped" -> QueryDef(semanticCapped(_, _),
      Some(semanticCappedOracle)),
    "q_dedup_semantic_text" -> QueryDef(semanticText, Some(semanticTextOracle))
  )
}
