package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantics of SemDeDup on a fixture where the right answer is obvious:
  * orthogonal one-hot vectors can never exceed the cosine threshold, a
  * near-copy always does, and the keep rule prefers the LOWER vec_id. */
class SemDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("semantic dedup: near-copy flagged against the lower-id original, orthogonal survivors kept") {
    // v0..v7: orthogonal one-hots (the 8 k-means seeds — each founds its
    // own cluster); v8: a scaled copy of v0 (cos = 1 → same cluster, dup);
    // v9: one-hot on a fresh dimension (cos = 0 to everything → kept
    // wherever it lands)
    def oneHot(i: Int, scale: Double = 1.0): Seq[Float] =
      Seq.tabulate(64)(j => if (j == i) scale.toFloat else 0.0f)
    val rows = (0 to 7).map(i => (i.toLong, oneHot(i), i)) ++
      Seq((8L, oneHot(0, 0.5), 0), (9L, oneHot(20), 9))
    val dir = tempDir("graft-semdedup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val out = SemDedup.semantic(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(8L) == 1L, "near-copy of v0 must be flagged as a duplicate")
    assert(out.filter(_._2 == 1L).keySet == Set(8L),
      s"only the near-copy may be flagged, got ${out.filter(_._2 == 1L).keySet}")
    assert(out.size == 10)
  }

  test("capped semantic dedup: one-giant-cluster adversarial corpus still fully deduped, pairing bounded") {
    // The uncapped failure mode (VERDICT r9): mass duplication collapses
    // the corpus into ONE cluster and the within-cluster pairing goes
    // n²/2. 40 near-copies of the same direction force exactly that
    // shape: the per-vector jitter on a second dimension keeps the rows
    // DISTINCT (1e-12 is representable as a float) but is far below
    // double-cosine resolution (score contributions ~1e-24 vanish against
    // 1.0), so every assignment score ties at exactly 1.0 and the
    // lowest-cid tie rule sends the whole corpus to cluster 0 — one giant
    // cluster, the adversarial case. With maxMates = 16 the b-side is
    // bounded at 16 mates, yet every copy but the lowest id is still
    // within threshold of mate v0 — the verdict must equal the uncapped
    // answer here.
    val n = 40
    def vec(i: Int): Seq[Float] =
      Seq.tabulate(64)(j => if (j == 0) 1.0f else if (j == 1) i * 1e-12f else 0.0f)
    val rows = (0 until n).map(i => (i.toLong, vec(i), 0))
    val dir = tempDir("graft-semcap").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val capped = SemDedup.semanticCapped(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped(0L) == 0L, "the lowest id survives")
    assert((1L until n.toLong).forall(capped(_) == 1L),
      "every later near-copy must still be flagged under the cap")

    // the cap is structural, not data-lucky: the b-side of the pair join
    // carries a row_number window filter over the bucket key
    val plan = SemDedup.semanticCapped(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number"),
      "capped variant must bound the mate side with a row_number window")
  }

  test("text-side semantic dedup: identical text flagged, disjoint vocab kept") {
    // 8 distinct-vocab seed docs + one exact copy of doc 0's text (cosine
    // 1.0 in hashing space, same cluster) + one fresh-vocab doc
    val seeds = (0 to 7).map(i =>
      (i.toLong, s"word${i}a word${i}b word${i}c word${i}a", "en", "a", 30L))
    val rows = seeds ++ Seq(
      (8L, seeds.head._2, "en", "a", 30L),
      (9L, "zeta eta theta iota kappa", "en", "a", 25L))
    val dir = tempDir("graft-semtext").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = SemDedup.semanticText(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(8L) == 1L, "identical text must be flagged against the lower doc_id")
    assert(out(9L) == 0L, "fresh-vocab doc must be kept")
    assert(out(0L) == 0L, "the lower-id original must be kept")
  }
}
