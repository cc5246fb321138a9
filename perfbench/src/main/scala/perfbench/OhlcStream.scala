package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ohlc.OhlcPipeline
import graft.stream.{OhlcApp, OhlcConfig, SourceFactory}

/** The reference's streaming job: trade JSON files land one at a time in a
  * watched directory, `SourceFactory.jsonDir → OhlcApp.transform` runs in
  * update mode with a checkpoint, and each file lands only after the
  * previous one has committed (the backlog replay of a Kafka source read
  * from the earliest offset). One operation is one landed file; its latency
  * runs from the landing to the commit. */
final class OhlcStream(run: String, args: Map[String, String]) extends Workload {
  val item = "trade"
  val block = 10
  private val pool = s"$run/ohlc/pool"
  private val files = new File(pool).list().filter(_.endsWith(".json")).sorted
  private val warm = args("warm").toInt
  // every generated file holds this many lines
  private val rowsPerBatch = args("rows_per_batch").toLong

  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private val dir = s"$run/ohlc/stream"
  private var out: BufferedWriter = _
  private var landed = 0
  private var expectedRows = 0L
  private var seenRows = 0L
  private var lastBatch = -1L
  private val progress = ArrayBuffer.empty[Map[String, Any]]

  def setUp(s: SparkSession): Unit = {
    spark = s
    Files.createDirectories(Paths.get(dir, "in"))
    out = Files.newBufferedWriter(Paths.get(dir, "emitted.jsonl"), StandardCharsets.UTF_8)
    val cfg = OhlcConfig(appName = "perfbench", masterUrl = s.sparkContext.master,
      bootstrapServers = "", subscribeTopics = "", outputPrefix = "ohlc-",
      checkpointLocation = s"$dir/checkpoint", windowDuration = "1 minute",
      watermarkDelay = "2 minutes")
    val candles = OhlcApp.transform(SourceFactory.jsonDir(s, s"$dir/in"), cfg)
    val sink = out
    query = candles.writeStream
      .outputMode("update")
      .option("checkpointLocation", cfg.checkpointLocation)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the sink ships the batch's rows out, as a Kafka producer would
        val rows = batch.collect()
        rows.foreach { r => sink.write(s"$id\t${r.getString(2)}\n") }
        sink.flush()
      }
      .start()
    for (_ <- 0 until warm) land()
  }

  def op(i: Int): Option[OpResult] =
    if (landed >= files.length) None
    else {
      val ms = land()
      Some(OpResult("batch", rowsPerBatch, Seq(ms)))
    }

  /** Lands the next file and waits for its batch to commit; returns ms. */
  private def land(): Double = {
    val name = files(landed)
    expectedRows += rowsPerBatch
    landed += 1
    val t0 = Clock.now()
    Trace.span("commit_wait") {
      Files.move(Paths.get(pool, name), Paths.get(dir, "in", name), StandardCopyOption.ATOMIC_MOVE)
      // a trigger that listed the directory just before the move can finish
      // with no new data; wait again until the file's rows are in
      while (seenRows < expectedRows) {
        query.processAllAvailable()
        collectProgress()
      }
    }
    Clock.now() - t0
  }

  private def collectProgress(): Unit =
    query.recentProgress.filter(_.batchId > lastBatch).foreach { p =>
      lastBatch = p.batchId
      seenRows += p.numInputRows
      val st = p.stateOperators.headOption
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      progress += Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows_total" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_rows_removed" -> st.map(_.numRowsRemoved).getOrElse(0L),
        "state_rows_dropped_by_watermark" ->
          st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
    }

  def finish(traced: Boolean): (Seq[String], Map[String, Any]) = {
    query.stop()
    out.close()
    val failures = query.exception.map(e => s"stream: ${e.getMessage}").toSeq
    val figures = mutable.LinkedHashMap[String, Any](
      "landed" -> landed, "emitted" -> s"$dir/emitted.jsonl", "progress" -> progress.toList)
    if (traced) figures ++= standalone()
    (failures, figures.toMap)
  }

  /** The parse and candle stages called on their own, as batch jobs, on
    * the first generated file: median of five timed calls each. */
  private def standalone(): Map[String, Any] = {
    val file = s"$dir/in/${files(0)}"
    def raw = spark.read.schema("topic STRING, value STRING").json(file)
      .selectExpr("topic", "CAST(value AS STRING) AS value")
    def timed(f: => Unit): Double = {
      val ts = (0 until 6).map { _ => val t0 = Clock.now(); f; Clock.now() - t0 }
      ts.drop(1).sorted.apply(2)
    }
    val parseMs = timed(OhlcPipeline.parseTrades(raw).write.format("noop").mode("overwrite").save())
    val parsed = OhlcPipeline.parseTrades(raw).localCheckpoint()
    val kept = parsed.count()
    val candlesMs = timed(OhlcPipeline.candles(parsed).write.format("noop").mode("overwrite").save())
    Map("parse_ms" -> parseMs, "candles_ms" -> candlesMs,
      "rows_dropped_parse" -> (rowsPerBatch - kept))
  }
}
