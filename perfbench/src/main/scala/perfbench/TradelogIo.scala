package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, functions}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.source.TradeLogMaintenance

/** Writes and reads of the `graft-tradelog` format: generated rows in the
  * `events` schema go to a fresh log one fixed-size commit at a time; each
  * commit is followed by a time-slice read and a point read
  * (`user_id = x`), and every `optimizeEvery` commits by
  * `TradeLogMaintenance.optimize`. One operation is one commit with its
  * reads; the reads are the latency samples. A traced run also times one
  * [[LlmPass]] on its own after the timed phase. */
final class TradelogIo(run: String, args: Map[String, String]) extends Workload {
  val item = "row"
  def block: Int = optimizeEvery
  private val pool = s"$run/tradelog/pool"
  private val files = new File(pool).list().filter(_.startsWith("c")).sorted
  private val warm = args("warm").toInt
  private val optimizeEvery = args("optimize_every").toInt
  private val rowsPerCommit = args("rows_per_commit").toLong
  // lo_us, hi_us, user per commit, as generated
  private val reads: IndexedSeq[Array[Long]] =
    Files.readAllLines(Paths.get(run, "tradelog", "reads.tsv")).asScala
      .map(_.split("\t").map(_.toLong)).toIndexedSeq

  private var spark: SparkSession = _
  private val log = s"$run/tradelog/log"
  private var committed = 0
  private val results = ArrayBuffer.empty[String]

  def setUp(s: SparkSession): Unit = {
    spark = s
    for (_ <- 0 until warm) step()
  }

  def op(i: Int): Option[OpResult] =
    if (committed >= files.length) None else Some(step())

  private def step(): OpResult = {
    val c = committed
    val before = if (Trace.on) TradelogIo.bytes(log) else 0L
    val t0 = Clock.now()
    Trace.span("commit") {
      Tables.events(spark, s"$pool/${files(c)}")
        .write.format("graft-tradelog").mode(if (c == 0) "overwrite" else "append")
        .save(log)
    }
    val t1 = Clock.now()
    committed += 1
    val written = if (Trace.on) TradelogIo.bytes(log) - before else 0L
    val Array(lo, hi, user) = reads(c)
    val table = spark.read.format("graft-tradelog").load(log)
    val slice = Trace.span("slice_read") {
      table.filter(col("ts") >= timestamp_micros(lit(lo)) && col("ts") < timestamp_micros(lit(hi)))
        .agg(count(lit(1)), coalesce(sum(functions.round(col("value") * 100).cast("long")), lit(0L)))
        .collect()(0)
    }
    val t2 = Clock.now()
    val point = Trace.span("point_read") {
      table.filter(col("user_id") === user).select(col("event_id")).collect()
        .map(_.getLong(0)).sorted
    }
    val t3 = Clock.now()
    results += s"$c\t${slice.getLong(0)}\t${slice.getLong(1)}\t${point.mkString(",")}"
    var extra = Map("commit_ms" -> (t1 - t0), "bytes_written" -> written.toDouble,
      "log_bytes" -> (if (Trace.on) TradelogIo.bytes(log).toDouble else 0.0))
    if (committed % optimizeEvery == 0) {
      val b0 = if (Trace.on) TradelogIo.bytes(log) else 0L
      val t4 = Clock.now()
      Trace.span("optimize")(TradeLogMaintenance.optimize(spark, log)(_.sortWithinPartitions("ts")))
      extra ++= Map("optimize_ms" -> (Clock.now() - t4),
        "optimize_bytes" -> (if (Trace.on) (TradelogIo.bytes(log) - b0).toDouble else 0.0))
    }
    OpResult("commit", rowsPerCommit, Seq(t2 - t1, t3 - t2), extra)
  }

  def finish(traced: Boolean): (Seq[String], Map[String, Any]) = {
    val total = spark.read.format("graft-tradelog").load(log).count()
    Files.writeString(Paths.get(run, "tradelog", "results.tsv"),
      results.mkString("", "\n", "\n"), StandardCharsets.UTF_8)
    val failures =
      if (total == committed * rowsPerCommit) Nil
      else Seq(s"log holds $total rows, ${committed * rowsPerCommit} were committed")
    val figures = Map[String, Any]("committed" -> committed, "log_bytes" -> TradelogIo.bytes(log))
    if (!traced) (failures, figures)
    else {
      val (llmFailures, llm) = LlmPass.standalone(spark, s"$run/llm")
      (failures ++ llmFailures, figures ++ Map("llm" -> llm, "llm_outputs" -> s"$run/llm"))
    }
  }
}

object TradelogIo {
  /** Bytes on disk under a directory. */
  def bytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}
