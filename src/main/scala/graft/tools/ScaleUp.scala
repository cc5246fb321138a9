package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}

/** Synthetic next-decade corpus (VERDICT r16 #4): sf1 ≈ 10× sf0.1, built
  * as the union of 10 id-remapped copies of the tables the steepest
  * ScaleSweep families scan — documents (LSH/inverted-index/containment
  * dedup), events (OHLC), lineitem (TPC-H Q1). The copies are made
  * DISSIMILAR where similarity is the workload:
  *
  *   - documents: copy k's text passes through a per-copy letter
  *     rotation (a deterministic bijection on [a-zA-Z]), so shingles
  *     never collide ACROSS copies — each copy carries sf0.1's own
  *     duplicate structure and nothing else. A verbatim 10× copy would
  *     instead put 10 clones of every doc in every LSH bucket and the
  *     candidate-pair count would grow quadratically BY DATA — an
  *     artifact of the synthesis, not an engine stage. Dup density per
  *     copy is preserved, which is what "10× more of the same corpus"
  *     means.
  *   - events: copy k suffixes event_type (fresh symbols → 10× candle
  *     groups, per-window row count preserved) and offsets ids.
  *   - lineitem: verbatim rows with offset order keys (Q1 groups by
  *     returnflag/linestatus — output stays 6 rows, scan grows 10×).
  *
  * Build-once under the artifact root ([[Artifacts]]),
  * fingerprinted by all four source tables. Usage:
  *
  *   runMain graft.tools.ScaleUp            # build, print the dir
  *   runMain graft.tools.ScaleSweep 3 q_dedup_near <dir>   # then sweep
  */
object ScaleUp {

  val Copies = 10

  def rotated(k: Int): (String, String) = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def rot(s: String) = s.drop(k % 26) + s.take(k % 26)
    (lower + upper, rot(lower) + rot(upper))
  }

  // every source table is fingerprinted: regenerating any one of them
  // must invalidate the cached build
  def buildDir(s: SparkSession, srcDir: String, copies: Int): String =
    s"${Tables.artifactRoot(s)}/graft_x${copies}_" +
      Artifacts.fingerprint(s, srcDir, "documents", "events", "lineitem", "customer")

  /** Build (once) and return the synthetic decade dir. `copies = 1` is
    * the CONTROL: the source tables re-laid through the identical writer
    * (32 files, same codec) — the sweep's sf0.1→sf1 leg must compare
    * equal layouts, because the testdata parquet is single-file and its
    * pre-shuffle stages run ~1-way, so raw sf0.1 wall-clock measures
    * parallelism starvation, not work (both earlier sweep attempts showed
    * sf1 FASTER than sf0.1 for the scan-heavy families). */
  def ensure(s: SparkSession, srcDir: String = "/root/testdata/sf0.1",
      copies: Int = Copies): String =
    Artifacts.publishOnce(s, buildDir(s, srcDir, copies)) { out =>
      def tenfold(base: DataFrame)(remap: (DataFrame, Int) => DataFrame)
          : DataFrame =
        (0 until copies).map(k => remap(base, k)).reduce(_ unionByName _)

      val docs = Tables.documents(s, srcDir)
      tenfold(docs) { (d, k) =>
        val (from, to) = rotated(k)
        d.select(
          (col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          (if (k == 0) col("text") else translate(col("text"), from, to))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$out/documents.parquet")

      val ev = Tables.events(s, srcDir)
      tenfold(ev) { (d, k) =>
        d.select(
          (col("event_id") + lit(k * 1000000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * 1000000L)).as("user_id"),
          (if (k == 0) col("event_type")
           else concat(col("event_type"), lit(s"_$k"))).as("event_type"),
          col("value"), col("props"))
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$out/events.parquet")

      val li = Tables.lineitem(s, srcDir)
      tenfold(li) { (d, k) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$out/lineitem.parquet")

      // customer: keys offset in lockstep with events.user_id, so the
      // tradelog-semi join family (dim-driven runtime block filtering)
      // scales both sides of the join by the same factor (r18: the
      // tradelog/DML decade sweep, VERDICT r17 #7)
      val cu = Tables.customer(s, srcDir)
      tenfold(cu) { (d, k) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(k * 1000000L))
      }.repartition(32).write.mode("overwrite")
        .parquet(s"$out/customer.parquet")
    }

  def main(args: Array[String]): Unit = {
    val spark = BenchSession.build()
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    println(s"SCALEUP_CONTROL=${ensure(spark, src, 1)}")
    println(s"SCALEUP_DIR=${ensure(spark, src, Copies)}")
    spark.stop()
  }
}
