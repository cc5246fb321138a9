package graft.ohlc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's own parse formulation (main.py:102-136), whole-frame:
  * `from_json` over the full trade schema and the
  * `from_unixtime(...).cast("timestamp")` string round trip on every row.
  * [[OhlcPipeline.parseTrades]] must give exactly its rows; the specs and
  * [[ParseTradesBench]] hold the two side by side. */
object ReferenceParse {
  def parseTrades(raw: DataFrame, topicPrefix: String = "parsed-trades-"): DataFrame = {
    val parsed = raw
      .select(col("topic"), from_json(col("value").cast("string"), TradeSchema.schema).as("data"))
      .select(
        col("topic"),
        col("data.from_symbol").as("from_symbol"),
        col("data.to_symbol").as("to_symbol"),
        from_unixtime(expr("try_cast(data.timestamp as long)"))
          .cast("timestamp").as("timestamp"),
        expr("try_cast(data.price as double)").as("price"),
        expr("try_cast(data.quantity as double)").as("quantity")
      )
      .where(col("timestamp").isNotNull)
    val quoted = java.util.regex.Pattern.quote(topicPrefix)
    parsed.withColumn(
      "base",
      when(col("topic").rlike(quoted + ".+-usdt"),
        regexp_extract(col("topic"), quoted + "([^\\-]+)-usdt", 1))
        .otherwise(col("from_symbol"))
    )
  }
}
