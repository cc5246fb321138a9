package graft.ohlc

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based OHLC invariants (SURVEY.md §5.3) checked against a plain
  * Scala reference model: for every (window, base) group over random trades,
  *   open  = price of lexicographically-first (ts, price)
  *   close = price of lexicographically-last  (ts, price)
  *   low/high = min/max price, volume = Σ quantity,
  *   window start = floor(ts / 60s).
  * (The scalatest↔scalacheck bridge artifact isn't in the offline cache, so
  * generators are driven manually with a fixed seed — same coverage,
  * reproducible.)
  */
class OhlcPropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = 1704067200L
  private case class T(base: String, ts: Long, price: Double, qty: Double)

  // small ts range with heavy duplication so (ts) ties are common — the
  // tie rule is the property under test
  private val genTrades: Gen[List[T]] = Gen.nonEmptyListOf(for {
    base <- Gen.oneOf("a", "b")
    ts <- Gen.choose(t0, t0 + 179)
    price <- Gen.oneOf(1.0, 2.5, 3.0, 7.25, 9.0)
    qty <- Gen.choose(1, 5).map(_.toDouble)
  } yield T(base, ts, price, qty))

  test("candles match the reference model on random trade sets (tie rule included)") {
    var seed = Seed(42L)
    for (_ <- 1 to 15) {
      val trades = genTrades.apply(Gen.Parameters.default, seed)
        .getOrElse(fail("generator returned no sample"))
      seed = seed.next

      val df = trades
        .map(t => (t.base, new java.sql.Timestamp(t.ts * 1000), t.price, t.qty))
        .toDF("base", "timestamp", "price", "quantity")
      val got = OhlcPipeline.candles(df).collect()
        .map(r => (r.getAs[String]("base"),
          r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond) ->
          (r.getAs[Double]("open"), r.getAs[Double]("high"),
            r.getAs[Double]("low"), r.getAs[Double]("close"),
            r.getAs[Double]("volume"))).toMap

      val expected = trades.groupBy(t => (t.base, t.ts / 60 * 60)).map {
        case (k, ts) =>
          val sorted = ts.sortBy(t => (t.ts, t.price))
          k -> ((sorted.head.price, ts.map(_.price).max, ts.map(_.price).min,
            sorted.last.price, ts.map(_.qty).sum))
      }

      assert(got.keySet == expected.keySet)
      got.foreach { case (k, (o, h, l, c, v)) =>
        val (eo, eh, el, ec, ev) = expected(k)
        assert(o == eo, s"open mismatch at $k")
        assert(c == ec, s"close mismatch at $k")
        assert(h == eh && l == el)
        assert(math.abs(v - ev) < 1e-9)
        assert(l <= math.min(o, c) && h >= math.max(o, c))
      }
    }
  }

  test("q_ohlc_ema: the HOF fold equals a plain Scala recursion, bounded by closes") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    // re-derive: hourly closes per base, then the integer recursion in
    // plain Scala — the fold and the oracle must BOTH match this model
    val got = graft.Catalog.qOhlcEma(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val closes = graft.core.Tables.events(spark, d)
      .filter(col("ts").isNotNull)
      .groupBy((unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % 3600)
          .as("ws"), col("event_type").as("base"))
      .agg(expr("last_by_ordered(unix_micros(ts), value)").as("close"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(2)))
    assert(got.nonEmpty && got.size == closes.length)
    closes.groupBy(_._1).foreach { case (base, rows) =>
      val seq = rows.sortBy(_._2)
      var ema = 0L
      seq.zipWithIndex.foreach { case ((_, ws, close), i) =>
        val c6 = math.round(close * 1000000) + 1000000000L
        ema = if (i == 0) c6 else Math.floorDiv(2 * c6 + 9 * ema, 11L)
        assert(got((ws, base)) == ema - 1000000000L,
          s"fold diverged from the reference recursion at ($ws, $base)")
      }
      // EMA stays inside the close envelope (floor keeps the convex hull)
      val c6s = seq.map(t => math.round(t._3 * 1000000))
      seq.foreach { case (_, ws, _) =>
        assert(got((ws, base)) >= c6s.min && got((ws, base)) <= c6s.max)
      }
    }
  }

  test("q_ohlc_macd: the one-pass 3-recursion fold equals the plain Scala model") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val got = graft.Catalog.qOhlcMacd(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val closes = graft.core.Tables.events(spark, d)
      .filter(col("ts").isNotNull)
      .groupBy((unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % 3600)
          .as("ws"), col("event_type").as("base"))
      .agg(expr("last_by_ordered(unix_micros(ts), value)").as("close"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(2)))
    assert(got.nonEmpty && got.size == closes.length)
    val S = 1000000000L
    var sawNegativeMacd = false
    closes.groupBy(_._1).foreach { case (base, rows) =>
      var (e12, e26, sig) = (0L, 0L, 0L)
      rows.sortBy(_._2).zipWithIndex.foreach { case ((_, ws, close), i) =>
        val c6 = math.round(close * 1000000) + S
        if (i == 0) { e12 = c6; e26 = c6; sig = S }
        else {
          e12 = Math.floorDiv(2 * c6 + 11 * e12, 13L)
          e26 = Math.floorDiv(2 * c6 + 25 * e26, 27L)
          sig = Math.floorDiv(2 * (e12 - e26 + S) + 7 * sig, 9L)
        }
        val macd = e12 - e26
        if (macd < 0) sawNegativeMacd = true
        assert(got((ws, base)) == (macd, sig - S, macd - (sig - S)),
          s"fold diverged from the MACD model at ($ws, $base)")
      }
    }
    // the sign-sensitive floor-division lane is actually exercised
    assert(sawNegativeMacd, "fixture never drove the MACD line negative")
  }

  test("tier-incr merge: same-microsecond cross-slice ties resolve by the reference rule") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // one minute, one base; tier and increment each hold one event at the
    // SAME µs — open must take the LOWEST price, close the HIGHEST (the
    // single-pass lexicographic (ts, price) rule), regardless of slice
    val t = java.sql.Timestamp.valueOf("2024-01-01 00:00:30")
    val ev = Seq(
      (0L, t, 1L, "x", 9.0, "{}"),  // tier slice (event_id % 5 != 4)
      (4L, t, 1L, "x", 3.0, "{}"))  // increment slice
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = graft.Catalog.tierIncrFrom(ev,
      col("event_id") % lit(5) === 4).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getDouble(2) == 3.0, s"tie open must be lowest price: $r")
    assert(r.getDouble(5) == 9.0, s"tie close must be highest price: $r")
    assert(r.getDouble(3) == 9.0 && r.getDouble(4) == 3.0)
    assert(r.getDouble(6) == 12.0) // volume = exact decimal sum
    // one-sided minute: increment-only rows pass through unchanged
    val ev2 = Seq((4L, t, 1L, "x", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r2 = graft.Catalog.tierIncrFrom(ev2,
      col("event_id") % lit(5) === 4).collect().head
    assert(r2.getDouble(2) == 5.0 && r2.getDouble(5) == 5.0)
  }

  test("q_ohlc_rsi: the gain/loss fold equals the plain Wilder model; rsi in [0,10000]") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val got = graft.Catalog.qOhlcRsi(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val closes = graft.core.Tables.events(spark, d)
      .filter(col("ts").isNotNull)
      .groupBy((unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % 3600)
          .as("ws"), col("event_type").as("base"))
      .agg(expr("last_by_ordered(unix_micros(ts), value)").as("close"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(2)))
    assert(got.nonEmpty && got.size == closes.length)
    closes.groupBy(_._1).foreach { case (base, rows) =>
      var (prev, ag, al) = (0L, 0L, 0L)
      rows.sortBy(_._2).zipWithIndex.foreach { case ((_, ws, close), i) =>
        val c6 = math.round(close * 1000000) + 1000000000L
        if (i > 0) {
          ag = Math.floorDiv(13 * ag + math.max(c6 - prev, 0L), 14L)
          al = Math.floorDiv(13 * al + math.max(prev - c6, 0L), 14L)
        }
        prev = c6
        val rsi = if (ag + al == 0) 5000L
          else Math.floorDiv(10000 * ag, ag + al)
        assert(got((ws, base)) == (ag, al, rsi),
          s"fold diverged from the RSI model at ($ws, $base)")
        assert(rsi >= 0L && rsi <= 10000L)
      }
    }
  }

  test("q_ohlc_atr: the true-range fold equals the plain Wilder model; tr >= h-l") {
    val d = "/root/testdata/sf0.001"
    import org.apache.spark.sql.functions._
    val got = graft.Catalog.qOhlcAtr(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val bars = graft.core.Tables.events(spark, d)
      .filter(col("ts").isNotNull)
      .groupBy((unix_timestamp(col("ts")) - unix_timestamp(col("ts")) % 3600)
          .as("ws"), col("event_type").as("base"))
      .agg(max(col("value")).as("h"), min(col("value")).as("l"),
        expr("last_by_ordered(unix_micros(ts), value)").as("close"))
      .collect()
      .map(r => (r.getString(1), r.getLong(0),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty && got.size == bars.length)
    bars.groupBy(_._1).foreach { case (base, rows) =>
      var (prevC, atr) = (0L, 0L)
      rows.sortBy(_._2).zipWithIndex.foreach {
        case ((_, ws, h, l, close), i) =>
          val h6 = math.round(h * 1000000)
          val l6 = math.round(l * 1000000)
          val c6 = math.round(close * 1000000)
          val tr = if (i == 0) h6 - l6
            else math.max(h6 - l6,
              math.max(math.abs(h6 - prevC), math.abs(l6 - prevC)))
          atr = if (i == 0) tr else Math.floorDiv(13 * atr + tr, 14L)
          prevC = c6
          assert(got((ws, base)) == (tr, atr),
            s"fold diverged from the ATR model at ($ws, $base)")
          assert(tr >= h6 - l6, "true range must dominate the bar range")
      }
    }
  }
}
