package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

/** Pluggable streaming sinks mirroring the reference's writers
  * (main.py:90-99 console debug ×4, main.py:208-217 kafka production sink).
  */
object SinkFactory {

  /** Per-query checkpoint isolation (reference main.py:201-206): each query
    * gets its own subdirectory so concurrent queries against one cluster
    * never collide. A Hadoop path join keeps a URI root's authority. */
  def checkpointDir(root: String, queryName: String): String =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root),
      queryName).toString

  /** The exact writer option map the reference sets (main.py:208-217),
    * exposed as data for the same broker-less golden test as
    * [[SourceFactory.kafkaSourceOptions]]. */
  def kafkaSinkOptions(bootstrapServers: String, checkpointRoot: String,
                       queryName: String): Seq[(String, String)] =
    Seq(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "checkpointLocation" -> checkpointDir(checkpointRoot, queryName))

  /** The sink's row shape (reference main.py:209): dynamic per-row `topic`,
    * key/value cast to STRING — the three columns the Kafka writer consumes. */
  def kafkaProjection(candlesOut: DataFrame): DataFrame =
    candlesOut.selectExpr(
      "topic", "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** The production Kafka sink shape: update-mode, dynamic per-row `topic`
    * column, isolated checkpoint (reference main.py:208-217). The input
    * DataFrame must carry (topic, key, value) — see OhlcPipeline.toKafkaOutput. */
  def kafka(candlesOut: DataFrame, bootstrapServers: String,
            checkpointRoot: String, queryName: String = "kafka_sink"): DataStreamWriter[Row] =
    kafkaSinkOptions(bootstrapServers, checkpointRoot, queryName)
      .foldLeft(kafkaProjection(candlesOut).writeStream.format("kafka")) {
        case (w, (k, v)) => w.option(k, v)
      }
      .queryName(queryName)
      .outputMode("update")

  /** Console debug sink (reference main.py:90-99 et al) — append or update,
    * small row caps, NO checkpoint: not restartable, debug only. */
  def consoleDebug(df: DataFrame, queryName: String, mode: String = "append",
                   numRows: Int = 3): StreamingQuery =
    df.writeStream
      .format("console")
      .option("truncate", "false")
      .option("numRows", numRows.toString)
      .outputMode(mode)
      .queryName(queryName)
      .start()

  /** foreachBatch escape hatch — the pattern for sinks without native
    * streaming support (JDBC, object stores, arbitrary formats): each
    * micro-batch is handed to `f` as (batchDf, batchId). Structured
    * Streaming guarantees batchId is stable across crash-replays, so an
    * idempotent `f` keyed on it upgrades at-least-once delivery to
    * exactly-once OUTPUT. */
  def foreachBatchSink(df: DataFrame, checkpoint: String, queryName: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .queryName(queryName)
      .start()

  /** The idempotent instantiation of [[foreachBatchSink]]: every batch
    * OVERWRITES its own batchId-keyed directory, so a batch replayed after
    * a crash-restart replaces its previous (possibly partial) output
    * instead of appending duplicates. Exposed separately so the replay
    * property is directly testable. */
  def writeBatchParquet(outRoot: String)(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outRoot/batch_id=$batchId")

  /** Exactly-once parquet output via [[writeBatchParquet]]. */
  def parquetByBatch(df: DataFrame, outRoot: String, checkpoint: String,
                     queryName: String = "batch_sink"): StreamingQuery =
    foreachBatchSink(df, checkpoint, queryName)(writeBatchParquet(outRoot))

  /** Memory sink for tests: update-mode results land in an in-memory table
    * named `queryName`. */
  def memory(df: DataFrame, queryName: String, mode: String = "update"): StreamingQuery =
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .start()
}
