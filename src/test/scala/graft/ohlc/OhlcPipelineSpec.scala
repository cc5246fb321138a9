package graft.ohlc

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** parseTrades + candles against the reference-shaped trade JSON corpus
  * (FIXTURES.md §B): malformed JSON, non-numeric casts, the topic-regex
  * base derivation with payload fallback, and the open/close tie rule. */
class OhlcPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def tradeJson(fromSym: String, ts: String, price: String, qty: String): String =
    s"""{"type":"2","market":"M","from_symbol":"$fromSym","to_symbol":"USDT",
       |"flags":"1","trade_id":"t","timestamp":"$ts","quantity":"$qty",
       |"price":"$price","total_value":"0","received_ts":"0","ccseq":"0",
       |"timestamp_ns":"0","received_ts_ns":"0"}""".stripMargin.replace("\n", "")

  // 2024-01-01 00:00:00 UTC = 1704067200
  private val t0 = 1704067200L

  test("parseTrades: happy path, casts, and topic-regex base derivation") {
    val raw = Seq(
      ("parsed-trades-btc-usdt", tradeJson("XXX", s"$t0", "100.5", "2.0")),
      ("other-topic", tradeJson("ETH", s"${t0 + 1}", "200.0", "1.0"))
    ).toDF("topic", "value")
    val out = OhlcPipeline.parseTrades(raw).collect().sortBy(_.getAs[Double]("price"))
    assert(out.length == 2)
    assert(out(0).getAs[String]("base") == "btc") // from topic regex
    assert(out(1).getAs[String]("base") == "ETH") // payload fallback
    assert(out(0).getAs[Double]("quantity") == 2.0)
    assert(out(0).getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond == t0)
  }

  test("parseTrades: malformed JSON and non-numeric timestamp are dropped") {
    val raw = Seq(
      ("t", "{not json at all"),
      ("t", ""),
      ("t", tradeJson("A", "not-a-number", "1.0", "1.0")),
      ("t", tradeJson("A", s"$t0", "1.0", "1.0"))
    ).toDF("topic", "value")
    assert(OhlcPipeline.parseTrades(raw).count() == 1)
    // what the timestamp filter sees: malformed JSON decodes to a struct of
    // all nulls, only an empty (or blank) value to a null struct
    val structs = raw.select(from_json(col("value"), TradeSchema.schema)).collect().map(_.get(0))
    assert(structs(0) == org.apache.spark.sql.Row.fromSeq(Seq.fill(TradeSchema.schema.length)(null)))
    assert(structs(1) == null)
  }

  test("parseTrades: equals the reference formulation on a generator-shaped batch") {
    val raw = ParseTradesBench.batch(spark)
    try {
      val got = OhlcPipeline.parseTrades(raw)
      val want = ReferenceParse.parseTrades(raw)
      assert(got.count() == want.count() && got.count() > ParseTradesBench.Rows * 9 / 10)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    } finally raw.unpersist()
  }

  test("parseTrades: each payload decodes once (the timestamp filter is not pushed below it)") {
    val raw = Seq(("t", tradeJson("A", s"$t0", "1.0", "1.0"))).toDF("topic", "value")
    val decodes = OhlcPipeline.parseTrades(raw).queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case f: graft.expr.FlatJsonStrings => f }))
    assert(decodes.size == 1)
  }

  test("parseTrades: non-numeric price parses to null but row survives") {
    val raw = Seq(("t", tradeJson("A", s"$t0", "oops", "1.0"))).toDF("topic", "value")
    val row = OhlcPipeline.parseTrades(raw).collect().head
    assert(row.isNullAt(row.fieldIndex("price")))
  }

  test("parseTrades: reference quirk — multi-hyphen topic passes loose gate, strict extract empty") {
    // reference main.py:131-136 gates on 'parsed-trades-.+-usdt' but extracts
    // '([^-]+)': 'parsed-trades-a-b-usdt' matches the gate yet extracts ''
    val raw = Seq(("parsed-trades-a-b-usdt", tradeJson("FB", s"$t0", "1.0", "1.0")))
      .toDF("topic", "value")
    assert(OhlcPipeline.parseTrades(raw).collect().head.getAs[String]("base") == "")
  }

  test("candles: open/close tie rule — equal ts takes lowest price for open, highest for close") {
    // reference semantics via array_sort lexicographic (t, p) — SURVEY §2.4
    val trades = Seq(
      ("a", t0, 5.0, 1.0), ("a", t0, 3.0, 1.0), ("a", t0, 9.0, 1.0),
      ("a", t0 + 30, 7.0, 2.0)
    ).map { case (b, ts, p, q) => (b, new java.sql.Timestamp(ts * 1000), p, q) }
      .toDF("base", "timestamp", "price", "quantity")
    val c = OhlcPipeline.candles(trades).collect().head
    assert(c.getAs[Double]("open") == 3.0)   // lowest price among t0 ties
    assert(c.getAs[Double]("close") == 7.0)  // latest ts wins
    assert(c.getAs[Double]("high") == 9.0)
    assert(c.getAs[Double]("low") == 3.0)
    assert(c.getAs[Double]("volume") == 5.0)
  }

  test("candles: close tie at latest timestamp takes highest price") {
    val trades = Seq(
      ("a", t0, 1.0, 1.0), ("a", t0 + 30, 4.0, 1.0), ("a", t0 + 30, 8.0, 1.0)
    ).map { case (b, ts, p, q) => (b, new java.sql.Timestamp(ts * 1000), p, q) }
      .toDF("base", "timestamp", "price", "quantity")
    val c = OhlcPipeline.candles(trades).collect().head
    assert(c.getAs[Double]("close") == 8.0)
  }

  test("candles: 1-minute windows are epoch-aligned and non-overlapping") {
    val trades = Seq(
      ("a", t0 + 59, 1.0, 1.0), ("a", t0 + 60, 2.0, 1.0)
    ).map { case (b, ts, p, q) => (b, new java.sql.Timestamp(ts * 1000), p, q) }
      .toDF("base", "timestamp", "price", "quantity")
    val out = OhlcPipeline.candles(trades)
      .select(unix_timestamp(col("start_ts")).as[Long]).collect().sorted
    assert(out.toSeq == Seq(t0, t0 + 60))
  }

  test("toKafkaOutput: topic/key/value shape with JSON value") {
    val trades = Seq(("btc", new java.sql.Timestamp(t0 * 1000), 1.5, 2.0))
      .toDF("base", "timestamp", "price", "quantity")
    val row = OhlcPipeline.toKafkaOutput(OhlcPipeline.candles(trades), "candles-")
      .collect().head
    assert(row.getAs[String]("topic") == "candles-btc-usdt")
    assert(row.getAs[String]("key") == "btc")
    val v = row.getAs[String]("value")
    assert(v.contains("\"open\":1.5") && v.contains("\"volume\":2.0"))
  }
}
