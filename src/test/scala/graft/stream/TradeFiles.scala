package graft.stream

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Trade JSON files for `SourceFactory.jsonDir`, and a driver that lands
  * them one at a time into a running `jsonDir → OhlcApp.transform` query
  * with a checkpoint, each file its own micro-batch. */
object TradeFiles {

  val T0 = 1704067200L // 2024-01-01 00:00:00 UTC

  /** One `{"topic", "value"}` line, the value a reference trade payload. */
  def line(base: String, epoch: Long, price: Double, qty: Double): String = {
    val trade =
      s"""{"type":"0","market":"M","from_symbol":"${base.toUpperCase}",""" +
        s""""to_symbol":"USDT","flags":"1","trade_id":"t","timestamp":"$epoch",""" +
        s""""quantity":"$qty","price":"$price","total_value":"0",""" +
        s""""received_ts":"0","ccseq":"0","timestamp_ns":"0","received_ts_ns":"0"}"""
    s"""{"topic": "parsed-trades-$base-usdt", "value": "${trade.replace("\"", "\\\"")}"}"""
  }

  /** File `i`: trades in minute `i` over three bases, one late row a
    * minute back (inside the 2-minute watermark) and one five minutes
    * back (past it once the stream has advanced). */
  def batch(i: Int): Seq[String] = {
    val minute = T0 + 60L * i
    val onTime = for (b <- Seq("btc", "eth", "sol"); k <- 0 until 4)
      yield line(b, minute + 13 * k, 100.0 * (i + 1) + k, 1.0 + k)
    onTime ++ Seq(line("btc", minute - 30, 7.0 + i, 0.5),
      line("eth", minute - 300, 3.0 + i, 0.25))
  }

  /** Run `files` through `session`'s pipeline on checkpoint `ckpt`,
    * landing each file into `in` only after the previous one committed;
    * `emit` gets every output row as (batchId, topic, key, value). */
  def run(session: SparkSession, in: String, ckpt: String,
      files: Seq[(String, Seq[String])])(
      emit: (Long, String, String, String) => Unit): Unit = {
    val cfg = OhlcConfig("t", "local[2]", "none", "t", "out-", ckpt,
      "1 minute", "2 minutes")
    val q: StreamingQuery =
      OhlcApp.transform(SourceFactory.jsonDir(session, in), cfg)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.collect().foreach(r =>
            emit(id, r.getString(0), r.getString(1), r.getString(2)))
        }
        .start()
    try {
      var expected = 0L
      for ((name, lines) <- files) {
        val staged = Files.createTempFile("graft-trades", ".json")
        Files.write(staged, (lines.mkString("\n") + "\n").getBytes(UTF_8))
        Files.move(staged, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
        expected += lines.size
        // a trigger that listed the directory before the move ends with
        // no data; wait until this file's rows are in
        while (q.recentProgress.map(_.numInputRows).sum < expected) {
          q.processAllAvailable()
        }
      }
    } finally q.stop()
    q.exception.foreach(e => throw e)
  }
}
