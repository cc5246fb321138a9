package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.{BpeTrain, Dedup, SimilarityPq}

/** The LLM-data pass over a generated corpus and its embeddings: exact
  * dedup, near dedup, connected components, BPE training and IVF-PQ top-k,
  * each call built and collected. No gated workload drives the query
  * constructors or `graft.llm`, so a traced run times one pass on its
  * own, after a warm-up pass, for the per-layer report. */
object LlmPass {
  private val calls: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact" -> ((s, d) => Dedup.exact(s, d)),
    "near" -> ((s, d) => Dedup.near(s, d)),
    "cc" -> ((s, d) => Dedup.ccStars(s, d)),
    "bpe" -> ((s, d) => BpeTrain.bpeTrain(s, d)),
    "ivfpq" -> ((s, d) => SimilarityPq.ivfPqTopk(s, d)))

  /** A warm-up pass, then a timed one with a listener on the bus. Writes
    * each call's rows to `dir/out_<call>.tsv` for the checks; returns
    * failures (a call whose rows changed between the passes) and figures:
    * each call's wall time, the time inside the constructors, the pass's
    * wall time and its job count. */
  def standalone(spark: SparkSession, dir: String): (Seq[String], Map[String, Any]) = {
    val (_, warm) = pass(spark, dir)
    val listener = new BusListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = Clock.now()
    val (ms, rows) = pass(spark, dir)
    val passMs = Clock.now() - t0
    listener.drain()
    spark.sparkContext.removeSparkListener(listener)
    val failures = calls.map(_._1).filter(c => rows(c) != warm(c))
      .map(c => s"llm $c: the timed pass differs from the warm-up pass")
    rows.foreach { case (c, rs) =>
      Files.writeString(Paths.get(dir, s"out_$c.tsv"), rs.mkString("", "\n", "\n"))
    }
    (failures, ms ++ Map("pass_ms" -> passMs, "jobs" -> listener.jobList.size.toDouble))
  }

  private def pass(spark: SparkSession, dir: String)
      : (Map[String, Double], Map[String, Seq[String]]) = {
    val ms = mutable.Map("build_ms" -> 0.0)
    val rows = mutable.Map.empty[String, Seq[String]]
    for ((name, f) <- calls) {
      val t0 = Clock.now()
      val df = f(spark, dir)
      val t1 = Clock.now()
      rows(name) = df.collect().map(_.toSeq.mkString("\t")).toSeq
      ms("build_ms") += t1 - t0
      ms(s"${name}_ms") = Clock.now() - t0
    }
    (ms.toMap, rows.toMap)
  }
}
