package graft.ohlc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's whole dataflow (reference: /root/reference/main.py:102-188)
  * as pure `DataFrame => DataFrame` stages, usable identically in batch and
  * Structured Streaming (Spark's core promise — same plan, incrementalized).
  *
  * Scale design (SURVEY.md §7.3): the reference computes open/close by
  * `collect_list` + `array_sort` + `element_at` (main.py:153-158), which
  * materializes every trade per (window, symbol) group in aggregation state —
  * O(rows) state, ObjectHashAggregate, no partial reduction. Here
  * [[candles]] computes open/close with `first_by_ordered`/`last_by_ordered`,
  * the DeclarativeAggregate [[graft.expr.FirstByOrderedDecl]]: one (t, p)
  * pair of state per group, partial-aggregable, identical tie semantics
  * (lexicographic (t, p): ties on t take lowest price for open, highest for
  * close — main.py array_sort is lexicographic by field order).
  */
object OhlcPipeline {

  /** Parse raw Kafka-shaped rows (`topic: string, value: string`) into typed
    * trades. Mirrors main.py:102-136: from_json with the fixed 14-string
    * schema (malformed JSON → null struct → dropped by the isNotNull filter),
    * epoch-seconds string → timestamp (double cast preserves null/truncation
    * semantics), string → double casts, and the topic-regex base derivation
    * with payload fallback.
    */
  def parseTrades(raw: DataFrame, topicPrefix: String = "parsed-trades-"): DataFrame = {
    val parsed = raw
      .select(col("topic"), from_json(col("value").cast("string"), TradeSchema.schema).as("data"))
      .select(
        col("topic"),
        col("data.from_symbol").as("from_symbol"),
        col("data.to_symbol").as("to_symbol"),
        // try_cast throughout: Spark 4 defaults to ANSI mode, where a plain
        // cast on a malformed string THROWS; the documented semantics
        // (SURVEY §2.2 P4/P5, non-numeric → null → dropped by the filter)
        // need the null-on-unparseable behavior.
        from_unixtime(expr("try_cast(data.timestamp as long)"))
          .cast("timestamp").as("timestamp"),
        expr("try_cast(data.price as double)").as("price"),
        expr("try_cast(data.quantity as double)").as("quantity")
      )
      .where(col("timestamp").isNotNull)
    // Reference quirk kept verbatim (main.py:131-136): the GATE is the loose
    // pattern (`.+`), the EXTRACT the strict one (`[^-]+`) — so a
    // multi-hyphen topic like `parsed-trades-a-b-usdt` passes the gate but
    // extracts an empty base instead of falling back to from_symbol.
    val quoted = java.util.regex.Pattern.quote(topicPrefix)
    val gate = quoted + ".+-usdt"
    val extract = quoted + "([^\\-]+)-usdt"
    parsed.withColumn(
      "base",
      when(col("topic").rlike(gate), regexp_extract(col("topic"), extract, 1))
        .otherwise(col("from_symbol"))
    )
  }

  /** Ordered-first/last aggregation columns with the reference's tie rule —
    * the built-in formulation. CAVEAT: the struct ordering key forces
    * SortAggregate (non-mutable agg buffer), which sorts the entire fact
    * stream; `candles` uses the custom DeclarativeAggregate
    * (graft.expr.FirstByOrderedDecl — primitive buffer, HashAggregate,
    * whole-stage codegen) instead. Both are oracle-checked (q_ohlc_1m /
    * q_ohlc_minby); OhlcAggregatorSpec checks the custom aggregate against a
    * plain Scala model as well. */
  def openExpr(ts: Column, price: Column): Column = min_by(price, struct(ts, price))
  def closeExpr(ts: Column, price: Column): Column = max_by(price, struct(ts, price))

  /** trades → OHLCV candles per (1-window, base). Batch and streaming share
    * this; pass `watermark = Some(delay)` for streaming (main.py:161).
    * Output: base, start_ts, end_ts, open, high, low, close, volume
    * (main.py:176-187).
    */
  def candles(
      trades: DataFrame,
      windowDuration: String = "1 minute",
      watermark: Option[String] = None,
      tsCol: String = "timestamp",
      priceCol: String = "price",
      qtyCol: String = "quantity",
      symbolCol: String = "base"
  ): DataFrame = {
    val withWm = watermark.fold(trades)(trades.withWatermark(tsCol, _))
    val ts = col(tsCol)
    val price = col(priceCol)
    withWm
      .groupBy(window(ts, windowDuration), col(symbolCol).as("base"))
      .agg(
        expr(s"first_by_ordered(unix_micros(`$tsCol`), `$priceCol`)").as("open"),
        max(price).as("high"),
        min(price).as("low"),
        expr(s"last_by_ordered(unix_micros(`$tsCol`), `$priceCol`)").as("close"),
        sum(col(qtyCol)).as("volume")
      )
      .select(
        col("base"),
        col("window.start").as("start_ts"),
        col("window.end").as("end_ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )
  }

  /** The canonical 1-minute-candle DuckDB oracle over `events` (ws as
    * epoch seconds, raw-double OHLC, exact-decimal volume — SURVEY §7.4
    * determinism rules). Every query that claims candle semantics —
    * batch, rewrite, and all streaming bridges — hash-compares against
    * THIS text, so the bridges adjudicate the engine, not a twin. */
  val ohlcOracle: String =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |       event_type AS base,
      |       first(value ORDER BY date_trunc('microseconds', ts), value) AS open,
      |       max(value) AS high,
      |       min(value) AS low,
      |       last(value ORDER BY date_trunc('microseconds', ts), value) AS close,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Candle rows → Kafka-shaped output (topic, key, JSON value) —
    * main.py:173-188. */
  def toKafkaOutput(candles: DataFrame, topicPrefix: String): DataFrame =
    candles.select(
      concat(lit(topicPrefix), col("base"), lit("-usdt")).as("topic"),
      col("base").as("key"),
      to_json(struct(
        col("base"), col("start_ts"), col("end_ts"),
        col("open"), col("high"), col("low"), col("close"), col("volume")
      )).as("value")
    )
}
