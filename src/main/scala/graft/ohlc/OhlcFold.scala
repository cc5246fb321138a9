package graft.ohlc

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** One-pass OHLCV state: first/last carry the (ts, price) ordering key so
  * merge stays associative and commutative under the reference tie rule
  * (lexicographic (ts, price) — lowest price opens, highest closes a tie). */
final case class OhlcBuf(
    firstTs: Long, firstP: Double,
    lastTs: Long, lastP: Double,
    high: Double, low: Double, volume: Double, n: Long
)

/** Typed single-pass OHLCV fold — the candle math of the state engines
  * (`graft.stream.StatefulCandles`, `graft.stream.TwsCandles`), with the
  * same semantics as `OhlcPipeline.candles` on one (window, base) group.
  * Timestamps fold at millisecond grain (`Timestamp.getTime`).
  *
  * Prices compare through `SQLOrderingUtil.compareDoubles`, the comparator
  * behind Catalyst's `LessThan`/`Least`/`Greatest` on doubles (NaN equals
  * NaN and is above every other value): the open/close tie-break agrees
  * with `first_by_ordered`/`last_by_ordered`, high/low with Spark's
  * `max`/`min`, and the result does not depend on the order rows arrive
  * in — which the state engines' group iterators do not fix. */
object OhlcFold {

  def zero: OhlcBuf =
    OhlcBuf(Long.MaxValue, Double.MaxValue, Long.MinValue, Double.MinValue,
      Double.NegativeInfinity, Double.PositiveInfinity, 0.0, 0L)

  private def lt(ts1: Long, p1: Double, ts2: Long, p2: Double): Boolean =
    ts1 < ts2 || (ts1 == ts2 && SQLOrderingUtil.compareDoubles(p1, p2) < 0)

  def reduce(b: OhlcBuf, t: Trade): OhlcBuf = {
    val ts = t.timestamp.getTime
    merge(b, OhlcBuf(ts, t.price, ts, t.price, t.price, t.price, t.quantity, 1L))
  }

  def merge(a: OhlcBuf, b: OhlcBuf): OhlcBuf = {
    if (a.n == 0L) b
    else if (b.n == 0L) a
    else {
      val aFirst = lt(a.firstTs, a.firstP, b.firstTs, b.firstP)
      val bLast = lt(a.lastTs, a.lastP, b.lastTs, b.lastP)
      OhlcBuf(
        if (aFirst) a.firstTs else b.firstTs,
        if (aFirst) a.firstP else b.firstP,
        if (bLast) b.lastTs else a.lastTs,
        if (bLast) b.lastP else a.lastP,
        if (SQLOrderingUtil.compareDoubles(a.high, b.high) >= 0) a.high else b.high,
        if (SQLOrderingUtil.compareDoubles(a.low, b.low) <= 0) a.low else b.low,
        a.volume + b.volume, a.n + b.n)
    }
  }

  /** (open, high, low, close, volume) */
  def finish(b: OhlcBuf): (Double, Double, Double, Double, Double) =
    (b.firstP, b.high, b.low, b.lastP, b.volume)
}
