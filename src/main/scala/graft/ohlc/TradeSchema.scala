package graft.ohlc

import org.apache.spark.sql.types._

/** The reference's Kafka trade payload schema: 14 fields, all strings —
  * the upstream JSON serializes every numeric as a string
  * (reference: /root/reference/main.py:48-67). Field names and order are
  * part of the observable contract: [[OhlcPipeline.parseTrades]] takes the
  * five fields it reads from here by name.
  */
object TradeSchema {
  val schema: StructType = StructType(
    Seq(
      "type", "market", "from_symbol", "to_symbol", "flags", "trade_id",
      "timestamp", "quantity", "price", "total_value", "received_ts",
      "ccseq", "timestamp_ns", "received_ts_ns"
    ).map(StructField(_, StringType, nullable = true))
  )
}
