package graft.ohlc

import org.apache.spark.sql.{Column, DataFrame, RuntimeConfig}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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

  /** The five payload fields [[parseTrades]] reads, by name from
    * [[TradeSchema]]. */
  private val ParsedFields: StructType = StructType(
    Seq("from_symbol", "to_symbol", "timestamp", "quantity", "price").map(TradeSchema.schema(_)))

  /** Epoch seconds outside this range keep the string round trip: 0001-01-01
    * and 9999-12-31 UTC, each narrowed by the largest zone offset (18 h). */
  private val IdentityLo = java.time.LocalDate.of(1, 1, 1).toEpochDay * 86400L + 18 * 3600
  private val IdentityHi = java.time.LocalDate.of(10000, 1, 1).toEpochDay * 86400L - 1 - 18 * 3600

  /** Parse raw Kafka-shaped rows (`topic: string, value: string`) into typed
    * trades. Mirrors main.py:102-136: the payload decoded against the
    * reference schema's five used fields, epoch-seconds string → timestamp,
    * string → double casts, and the topic-regex base derivation with
    * payload fallback.
    *
    * The payload goes through `flat_json_strings` ([[graft.expr.FlatJsonStrings]]):
    * a flat object of plain ASCII strings, the shape every reference and
    * generator payload has, is decoded straight from its bytes; any other
    * row takes the expression's `from_json` child, so its result is
    * Spark's. Malformed JSON gives a struct of all nulls and an empty or
    * blank value a null struct; the `timestamp.isNotNull` filter drops both.
    */
  def parseTrades(raw: DataFrame, topicPrefix: String = "parsed-trades-"): DataFrame = {
    val value = col("value").cast("string")
    val parsed = raw
      // inline(array(..)): a Generate, which the optimizer pushes the
      // timestamp filter no lower than, so each payload decodes once (a
      // filter pushed through a Project re-evaluates the decode)
      .select(col("topic"),
        inline(array(call_function("flat_json_strings", value, from_json(value, ParsedFields)))))
      .select(
        col("topic"),
        col("from_symbol"),
        col("to_symbol"),
        // try_cast throughout: Spark 4 defaults to ANSI mode, where a plain
        // cast on a malformed string THROWS; the documented semantics
        // (SURVEY §2.2 P4/P5, non-numeric → null → dropped by the filter)
        // need the null-on-unparseable behavior.
        secondsToTimestamp(raw.sparkSession.conf, expr("try_cast(timestamp as long)"))
          .as("timestamp"),
        expr("try_cast(price as double)").as("price"),
        expr("try_cast(quantity as double)").as("quantity")
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

  /** The reference's `from_unixtime(s).cast("timestamp")` (main.py:124):
    * it formats each second in the session zone and parses it back. That is
    * the identity in a fixed-offset zone for seconds inside years
    * 0001–9999 (minus the offset), where `timestamp_seconds` gives the same
    * value without the strings; every other zone or value keeps the round
    * trip (a DST overlap hour maps to its first instant, out-of-range
    * seconds wrap). The zone is the session's at DataFrame construction,
    * the one analysis gives `from_unixtime`. */
  private def secondsToTimestamp(conf: RuntimeConfig, s: Column): Column = {
    val roundTrip = from_unixtime(s).cast("timestamp")
    val zone = DateTimeUtils.getZoneId(conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    if (!zone.getRules.isFixedOffset) roundTrip
    else when(s.between(IdentityLo, IdentityHi), timestamp_seconds(s)).otherwise(roundTrip)
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
