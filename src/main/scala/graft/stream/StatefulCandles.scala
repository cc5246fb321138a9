package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ohlc.{Candle, OhlcBuf, OhlcFold, Trade}

/** Arbitrary-stateful candle construction via flatMapGroupsWithState
  * (SURVEY §2.3's "not present in reference" extension list): per base
  * symbol, open windows accumulate in group state and a candle is emitted
  * exactly once — when the symbol's event time moves past the window's
  * close plus the allowed lateness. Append-style emission implemented as
  * explicit state, the pattern the built-in windowed aggregation can't
  * express when per-group custom logic (e.g. emit-once-with-correction
  * tombstones, per-symbol lateness) is needed.
  *
  * State per key: open windows only — bounded by (lateness / window) + 1
  * entries, eviction on every batch. The candle math is OhlcFold's
  * buffer/merge, so the tie rule is identical to the batch and SQL paths.
  */
object StatefulCandles {

  final case class KeyState(open: Map[Long, OhlcBuf], maxTs: Long)

  /** Start of the window holding `tsMs`, floored like Spark's `window()`:
    * a pre-epoch trade at -1 ms opens [-window, 0), not [0, window). */
  def windowStartMs(tsMs: Long, windowMs: Long): Long = tsMs - Math.floorMod(tsMs, windowMs)

  /** Pure per-batch state transition — unit-testable without a stream. */
  def advance(
      base: String,
      trades: Iterator[Trade],
      prev: Option[KeyState],
      windowMs: Long,
      latenessMs: Long
  ): (KeyState, List[Candle]) = {
    val st0 = prev.getOrElse(KeyState(Map.empty, Long.MinValue))
    val (openAfter, maxTs) = trades.foldLeft((st0.open, st0.maxTs)) {
      case ((open, mx), t) =>
        val ts = t.timestamp.getTime
        // Drop iff the trade's OWN window was closed-and-emitted in a
        // PREVIOUS batch: ws + window <= st0.maxTs - lateness — exactly the
        // bound the previous batch closed with. The bound is the
        // batch-ENTRY max, never the running in-batch max: an iterator
        // that happens to order a big advancer before a same-batch earlier
        // trade must not drop it (flatMapGroupsWithState guarantees no
        // intra-group order, and output must not depend on it). Comparing
        // against windowStart(maxTs) instead would let a too-late trade
        // reopen an emitted window when lateness isn't a multiple of the
        // window size — a duplicate candle under Append. The guard avoids
        // Long.MinValue - lateness overflow before any trade is seen.
        if (st0.maxTs != Long.MinValue &&
            windowStartMs(ts, windowMs) + windowMs <= st0.maxTs - latenessMs) (open, mx)
        else {
          val ws = windowStartMs(ts, windowMs)
          val buf = open.getOrElse(ws, OhlcFold.zero)
          (open.updated(ws, OhlcFold.reduce(buf, t)), math.max(mx, ts))
        }
    }
    closeUpTo(base, KeyState(openAfter, maxTs), maxTs - latenessMs, windowMs)
  }

  /** Close (emit + evict) every open window whose end is at or before
    * `boundMs` — shared by the per-key data-driven eviction (bound =
    * keyMaxTs - lateness) and TwsCandles' event-time timers (bound =
    * global watermark). */
  def closeUpTo(base: String, st: KeyState, boundMs: Long,
                windowMs: Long): (KeyState, List[Candle]) = {
    val (closed, stillOpen) = st.open.partition { case (ws, _) =>
      ws + windowMs <= boundMs
    }
    val candles = closed.toList.sortBy(_._1).map { case (ws, buf) =>
      val (o, h, l, c, v) = OhlcFold.finish(buf)
      Candle(base, new Timestamp(ws), new Timestamp(ws + windowMs), o, h, l, c, v)
    }
    (KeyState(stillOpen, st.maxTs), candles)
  }

  /** Streaming wrapper: trades → closed candles, append semantics.
    * CAVEAT: eviction is driven by each key's OWN event time — a symbol
    * that stops trading never closes its last window(s). When stream
    * tails must emit, close on the global watermark instead:
    * [[TwsCandles.closedCandles]] (event-time timers, RocksDB store) or,
    * on any state store, `OhlcPipeline.candles(..., watermark = Some(d))`
    * in append mode. */
  def closedCandles(
      trades: Dataset[Trade],
      windowMs: Long = 60000L,
      latenessMs: Long = 120000L
  ): Dataset[Candle] = {
    import trades.sparkSession.implicits._
    trades
      .groupByKey(_.base)
      .flatMapGroupsWithState[KeyState, Candle](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (base: String, it: Iterator[Trade], state: GroupState[KeyState]) =>
          val (next, out) = advance(base, it, state.getOption, windowMs, latenessMs)
          state.update(next)
          out.iterator
      }
  }
}
