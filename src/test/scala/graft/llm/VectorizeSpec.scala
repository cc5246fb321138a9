package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantics of the feature-hashing vectorizer on crafted docs. */
class VectorizeSpec extends SparkTestBase {
  import spark.implicits._

  test("hashing vectors: same text same vector, disjoint text differs, norm is exact") {
    val rows = Seq(
      (0L, "alpha beta gamma alpha", "en", "a", 22L),
      (1L, "alpha beta gamma alpha", "en", "a", 22L), // identical text
      (2L, "delta epsilon zeta", "en", "a", 18L))
    val dir = tempDir("graft-hashvec").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = Vectorize.hashingVec(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val fs = (1 to Vectorize.dim)
    def vec(id: Long) = fs.map(i => out(id).getLong(i))
    assert(vec(0L) == vec(1L), "identical text must hash to the identical vector")
    assert(vec(0L) != vec(2L), "disjoint vocab must not collide across all buckets")
    // token-count conservation: sum |f_i| <= n_tokens, with equality when
    // no two tokens share a bucket with opposite signs; doc 0 has 3
    // distinct tokens (alpha twice, same bucket+sign -> contributes 2)
    assert(vec(0L).map(math.abs).sum <= 4)
    for (id <- Seq(0L, 2L)) {
      val expected = math.sqrt(vec(id).map(f => f * f).sum.toDouble)
      assert(out(id).getDouble(Vectorize.dim + 1) == expected,
        s"norm of doc $id must be the exact sqrt of the integer square sum")
    }
  }

  test("hashing vectors match a pure-Scala recomputation; token order is irrelevant") {
    // ground truth replays the WHOLE hash path outside Spark: md5 -> first
    // 8 hex chars -> long -> bucket hv % dim, sign bit 16 — any divergence
    // in the Spark expression chain (conv width, shiftright, when-order)
    // breaks this, not just the DuckDB parity
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(7)
    val docs = (0L until 12L).map { i =>
      val toks = Seq.fill(20)(vocab(rnd.nextInt(vocab.size)))
      (i, toks, toks.mkString(" "))
    }
    // permuted twins: same multiset, reversed order
    val rows = docs.map { case (i, _, t) => (i, t, "en", "a", 1L) } ++
      docs.map { case (i, toks, _) => (i + 100L, toks.reverse.mkString(" "), "en", "a", 1L) }
    val dir = tempDir("graft-hashprop").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def groundTruth(toks: Seq[String]): Seq[Long] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val acc = Array.fill(Vectorize.dim)(0L)
      toks.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8")).take(4)
          .map(b => f"${b & 0xff}%02x").mkString
        val hv = java.lang.Long.parseLong(hex, 16)
        val sgn = if (((hv >> 16) & 1L) == 1L) 1L else -1L
        acc((hv % Vectorize.dim).toInt) += sgn
      }
      acc.toSeq
    }
    val out = Vectorize.hashingVec(spark, dir).collect()
      .map(r => r.getLong(0) -> (1 to Vectorize.dim).map(i => r.getLong(i))).toMap
    docs.foreach { case (i, toks, _) =>
      assert(out(i) == groundTruth(toks), s"doc $i diverges from ground truth")
      assert(out(i) == out(i + 100L), s"doc $i is token-order sensitive")
    }
  }
}
