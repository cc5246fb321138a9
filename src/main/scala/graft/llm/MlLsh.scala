package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** spark-mllib MinHashLSH near-dup — the library-native alternative to the
  * hand-rolled md5 LSH in [[Dedup.near]]. Same pipeline shape (shingle →
  * signature → banded candidate join → distance filter), but hashing and
  * banding live inside `approxSimilarityJoin`. Seeded, so deterministic
  * run-to-run — but mllib's murmur-based hash family can't be replayed in
  * DuckDB SQL, so this entry is rows-only checked (the md5 twin
  * q_dedup_near carries the oracle for the same semantics).
  */
object MlLsh {

  /** Near-dup pairs by shingle-set Jaccard distance <= 1 - threshold. */
  def nearMl(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextStats.shinglesExpr("toks").as("sh"))
      .filter(size(col("sh")) > 0)
    val tf = new HashingTF()
      .setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true) // set semantics, not bag
    val vecs = tf.transform(sh)
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(42L)
    val model = lsh.fit(vecs)
    model.approxSimilarityJoin(vecs, vecs, 1.0 - threshold, "dist")
      .select(
        col("datasetA.doc_id").as("doc_a"),
        col("datasetB.doc_id").as("doc_b"),
        round(lit(1.0) - col("dist"), 4).as("jaccard"))
      .filter(col("doc_a") < col("doc_b"))
      .orderedBy("doc_a", "doc_b")
  }

  val defs: Map[String, QueryDef] = Map(
    "q_dedup_near_ml" -> QueryDef(nearMl(_, _), None,
      doc = "mllib MinHashLSH — murmur hash family not replayable in DuckDB; rows-only")
  )
}
