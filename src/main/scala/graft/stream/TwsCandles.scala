package graft.stream

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.ohlc.{Candle, OhlcBuf, Trade}
import StatefulCandles.KeyState

/** OHLC candles on `transformWithState` — Spark 4's successor to
  * `flatMapGroupsWithState` for arbitrary stateful processing (typed state
  * variables + first-class timers instead of one state object + one
  * timeout). The per-batch transition is the SAME pure `advance`/
  * `closeUpTo` code as [[StatefulCandles.closedCandles]], so the tie rule
  * and eviction bounds cannot drift between the two APIs; what this engine
  * adds is idle-key closure on the GLOBAL watermark (a symbol that stops
  * trading still emits its last windows).
  *
  * What the new API buys at scale, demonstrated here:
  *   - named, independently-evolvable state variables (a `MapState` of
  *     open windows + a `ValueState` watermark high-mark) instead of one
  *     monolithic state class per key — per-WINDOW RocksDB puts/deletes,
  *     where flatMapGroupsWithState rewrites the whole KeyState blob on
  *     every batch;
  *   - N event-time TIMERS per key (`registerTimer`), where
  *     flatMapGroupsWithState allows exactly one timeout — a key here arms
  *     a timer per open-window close boundary;
  *   - requires the RocksDB state-store provider (off-heap state — the
  *     store a 100 TB streaming deployment runs anyway).
  *
  * Timer discipline: after every batch the key re-arms at its earliest
  * remaining close boundary (clamped past the current watermark — Spark
  * rejects timers at or behind it). Stale timers from earlier batches fire
  * harmlessly: `closeUpTo(watermark)` on fully-drained or already-emitted
  * state emits nothing, and a cleared key's timer finds no state at all.
  */
object TwsCandles {

  class CandleProcessor(windowMs: Long, latenessMs: Long)
      extends StatefulProcessor[String, Trade, Candle] {

    // one NAMED state variable per concern — the granularity the API is
    // built around (the RocksDB Avro encoder deliberately rejects a map
    // buried inside a ValueState: per-entry access is MapState's job)
    @transient private var open: MapState[Long, OhlcBuf] = _
    @transient private var maxTs: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getMapState[Long, OhlcBuf](
        "open", Encoders.scalaLong, Encoders.product[OhlcBuf], TTLConfig.NONE)
      maxTs = getHandle.getValueState[Long](
        "maxTs", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def load(): Option[KeyState] =
      if (maxTs.exists()) Some(KeyState(open.iterator().toMap, maxTs.get()))
      else None

    override def handleInputRows(base: String, rows: Iterator[Trade],
                                 tv: TimerValues): Iterator[Candle] = {
      val prev = load()
      val (next, out) =
        StatefulCandles.advance(base, rows, prev, windowMs, latenessMs)
      persist(prev, next, tv)
      out.iterator
    }

    override def handleExpiredTimer(base: String, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[Candle] = {
      val prev = load()
      if (prev.isEmpty) return Iterator.empty
      val (next, out) = StatefulCandles.closeUpTo(
        base, prev.get, tv.getCurrentWatermarkInMs(), windowMs)
      persist(prev, next, tv)
      out.iterator
    }

    /** Surgical write-back: only changed windows update, closed windows
      * remove — per-entry RocksDB puts/deletes, not a whole-map rewrite
      * (the point of MapState at scale). Drained keys drop ALL state, so
      * a symbol that stops trading does not leak; dropping `maxTs` is safe
      * because a trade that could target an already-emitted window is
      * below the watermark and filtered before it reaches the processor.
      * Live keys re-arm at the earliest remaining close boundary. */
    private def persist(prev: Option[KeyState], next: KeyState,
                        tv: TimerValues): Unit =
      if (next.open.isEmpty) { open.clear(); maxTs.clear() }
      else {
        val before = prev.map(_.open).getOrElse(Map.empty)
        (before.keySet -- next.open.keySet).foreach(open.removeKey)
        next.open.foreach { case (ws, buf) =>
          if (!before.get(ws).contains(buf)) open.updateValue(ws, buf)
        }
        maxTs.update(next.maxTs)
        val earliestEnd = next.open.keys.min + windowMs
        getHandle.registerTimer(
          math.max(earliestEnd, tv.getCurrentWatermarkInMs() + 1))
      }
  }

  /** Streaming entry: trades → closed candles, append semantics, idle-key
    * closure via the global watermark. */
  def closedCandles(
      trades: Dataset[Trade],
      windowMs: Long = 60000L,
      latenessMs: Long = 120000L
  ): Dataset[Candle] = {
    import trades.sparkSession.implicits._
    trades
      // milliseconds, not a seconds division: a sub-second lateness must
      // not shrink the watermark delay below the per-key bound of advance()
      .withWatermark("timestamp", s"$latenessMs milliseconds")
      .groupByKey(_.base)
      .transformWithState(
        new CandleProcessor(windowMs, latenessMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
