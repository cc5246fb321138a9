package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut
import graft.ohlc.OhlcPipeline

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is deterministic (stable ORDER BY on unique keys,
  * float sums through exact decimal casts) so the driver's DuckDB
  * hash-compare is stable; the matching `oracleSql` uses identical output
  * column names (the compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Catalog.qOhlc1m(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.defs.map { case (k, q) => k -> q.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (driver records a weaker rows-only check). */
  def oracleSql: Map[String, String] =
    Catalog.defs.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql }
}

/** The query catalog: SURVEY.md §2 categories, merged from the per-module
  * QueryDef maps. */
object Catalog {

  /** q_ohlc_1m — the reference's spine as a batch query over `events`
    * (ts ↔ trade timestamp, value ↔ price, event_type ↔ base; FIXTURES.md).
    * Window starts emitted as epoch seconds (bigint) to dodge the
    * ns-vs-µs timestamp mismatch between DuckDB and Spark (SURVEY §7.4.3).
    * open/high/low/close are raw stored doubles (no arithmetic —
    * bit-identical across engines); volume is an exact decimal sum.
    */
  def qOhlc1m(spark: SparkSession, dir: String): DataFrame =
    // ONE candle pipeline body (candleSelect) serves the flagship batch
    // query, every file-source bridge, and the indicator tier — a
    // projection change cannot split their claims
    candleSelect(Tables.events(spark, dir)).orderedBy("ws", "base")

  /** Same query via the built-in min_by/max_by formulation
    * (OhlcPipeline.openExpr — SortAggregate path): keeps both open/close
    * code paths oracle-verified against the identical DuckDB SQL. */
  def qOhlcMinby(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.groupBy(window(col("ts"), "1 minute"), col("event_type").as("base"))
      .agg(
        OhlcPipeline.openExpr(col("ts"), col("value")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        OhlcPipeline.closeExpr(col("ts"), col("value")).as("close"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("volume")
      )
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .orderedBy("ws", "base")
  }

  /** The min_by formulation under the OPTIMIZER REWRITE
    * ([[graft.plans.OrderedFirstLastRewrite]]): the user writes the stock
    * `min_by/max_by(value, struct(ts, value))` API — which alone plans
    * SortAggregate (q_ohlc_minby, kept as the documented builtin path) —
    * and the injected rule swaps in the hash-aggregable ordered
    * first/last because the upstream IsNotNull filter lets constraint
    * propagation prove null-safety. Runs in a conf-isolated child session
    * (the q_join_bloom pattern) so the rule is scoped to this query; the
    * IDENTICAL ohlcOracle adjudicates the rewrite, and CatalogSpec's
    * generic no-SortAggregate guard fails the moment the rule stops
    * firing. */
  def qOhlcRewrite(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.OrderedFirstLastRewrite
    rewriteCandleAgg(Tables.events(s2, dir)).orderedBy("ws", "base")
  }

  /** The reference's VERBATIM open/close formulation (reference
    * `main.py:154-157` — `element_at(transform(array_sort(collect_list(
    * named_struct('t', timestamp, 'p', price))), x -> x.p), 1 | size(...))`)
    * run UNMODIFIED under [[graft.plans.OrderedFirstLastRewrite]]: a user
    * porting the reference app keeps their query text, and the optimizer
    * replaces the O(rows)-per-group collection state with the O(1)
    * ordered aggregate (CatalogSpec asserts collect_list is GONE from the
    * physical plan). Same oracle as q_ohlc_1m — the rewrite is correct or
    * the hash gate fails. */
  def qOhlcReference(spark: SparkSession, dir: String): DataFrame = {
    val s2 = spark.newSession()
    s2.experimental.extraOptimizations =
      s2.experimental.extraOptimizations :+ graft.plans.OrderedFirstLastRewrite
    val refOpen = "element_at(transform(array_sort(collect_list(" +
      "named_struct('t', timestamp, 'p', price))), x -> x.p), 1)"
    val refClose = "element_at(transform(array_sort(collect_list(" +
      "named_struct('t', timestamp, 'p', price))), x -> x.p), " +
      "size(collect_list(named_struct('t', timestamp, 'p', price))))"
    val ev = Tables.events(s2, dir)
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .select(col("ts").as("timestamp"), col("value").as("price"),
        col("event_type").as("base"))
    ev.groupBy(window(col("timestamp"), "1 minute"), col("base"))
      .agg(
        expr(refOpen).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        expr(refClose).as("close"),
        sum(col("price").cast("decimal(20,6)")).cast("double").as("volume"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .orderedBy("ws", "base")
  }

  /** 18th batch≡streaming bridge — the OPTIMIZER RULE under the
    * micro-batch planner: the stock min_by/max_by candle text, rewritten
    * by [[graft.plans.OrderedFirstLastRewrite]] inside the streaming
    * query's own (cloned) session, executed complete-mode over the file
    * source and hash-compared against the IDENTICAL ohlcOracle. Every
    * micro-batch re-plans through the session optimizer, so the rewrite
    * must hold hands with StateStore restore/save — the custom
    * declarative aggregate's merge path under streaming state, reached
    * through the REWRITE rather than direct construction
    * (StreamingSpec's rewrite-fires test additionally pins the
    * first_by_ordered plan on lastExecution). */
  def qOhlcRewriteStreamed(spark: SparkSession, dir: String): DataFrame =
    Tables.runStreamComplete(spark, "ohlc_rewrite_streamed_") { cs =>
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.plans.OrderedFirstLastRewrite
      rewriteCandleAgg(Tables.eventsStream(cs, dir))
    }.orderedBy("ws", "base")

  /** The min_by/max_by candle aggregation shared by [[qOhlcRewrite]] and
    * its streaming twin: IsNotNull-filtered (the rewrite's constraint
    * proof), stock-API aggregates, epoch window starts. */
  private def rewriteCandleAgg(ev: DataFrame): DataFrame =
    ev.filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(window(col("ts"), "1 minute"), col("event_type").as("base"))
      .agg(
        expr("min_by(value, struct(ts, value))").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        expr("max_by(value, struct(ts, value))").as("close"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("volume"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** The reference's STREAMING spine under the batch oracle: the same
    * candle pipeline executed by the streaming engine — file source over
    * the same events data, `Trigger.AvailableNow` (process everything,
    * terminate), complete-mode aggregation into a memory sink — then the
    * materialized result is returned for the driver's DuckDB compare
    * against the IDENTICAL SQL as q_ohlc_1m. This makes
    * batch ≡ streaming an oracled property of the driver gate, not only a
    * spec assertion: StateStore restore/save, the streaming aggregation
    * path, and the micro-batch planner all sit between the parquet bytes
    * and the hash compare. EXECUTES EAGERLY in the builder (runs the
    * streaming query to termination — the ccStars precedent); each
    * call uses a fresh memory-sink name so warm-up + timed bench runs
    * don't collide. Complete mode keeps all window state (finite input,
    * no watermark eviction), exactly batch semantics. */
  def qOhlcStreamed(spark: SparkSession, dir: String): DataFrame =
    Tables.runStreamComplete(spark, "ohlc_streamed_") { cs =>
      candleSelect(Tables.eventsStream(cs, dir))
    }.orderedBy("ws", "base")

  /** MULTI-MICRO-BATCH accumulation bridge (20th — and the only one whose
    * state provably spans batches): every other bridge's file source
    * delivers the whole table in ONE AvailableNow micro-batch (single
    * parquet file), so StateStore restore/save runs but each key's state
    * is written once. Here the BUILD step lays the same events out as 3
    * parquet files and the source rate-limits with maxFilesPerTrigger=1
    * (honored by AvailableNow), so the candle aggregation RESTORES and
    * MERGES partial per-window state across 3 micro-batches — the
    * always-on production path — and the complete-mode sink must still
    * hash-match the IDENTICAL batch oracle (q_ohlc_1m's SQL).
    * StreamingSpec additionally pins that >1 batch actually ran. */
  def qOhlcMultibatch(spark: SparkSession, d: String): DataFrame = {
    val (tmp, schema) = stagedEvents3(spark, d)
    Tables.runStreamComplete(spark, "ohlc_mb_") { cs =>
      candleSelect(cs.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp))
    }.orderedBy("ws", "base")
  }

  /** The 3-file staged events layout shared by the multibatch and
    * update-mode bridges (one layout, one claim; 4 files until r20 —
    * one fewer micro-batch keeps every cross-batch claim: windows still
    * span the round-robin split, revisions still happen, and the specs
    * pin both). Build-once: [[Tables.stageOnce]]. */
  private def stagedEvents3(spark: SparkSession, d: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val ev = Tables.events(spark, d)
    (Tables.stageOnce(spark, "ohlc_mb3", d, "events") { p =>
      ev.repartition(3).write.mode("overwrite").parquet(p)
    }, ev.schema)
  }

  /** UPDATE-MODE bridge (21st — closes the last spec-only streaming row,
    * reference `main.py:215`'s output mode): the candle aggregation runs
    * in outputMode=update over the 3-file rate-limited layout
    * (maxFilesPerTrigger=1, the q_ohlc_multibatch staging), so a window
    * whose events span micro-batches RE-EMITS a revised candle each batch
    * it changes — the revision sequence that is update mode's observable.
    * [[Tables.runStreamUpdateEmissions]] captures every emission with its
    * batch id; folding LATEST-PER-(ws, base) reconstructs the final
    * candles, which must hash-match the IDENTICAL batch oracle
    * (q_ohlc_1m's SQL). StreamingSpec additionally pins that ≥1 candle
    * was emitted more than once (a real revision happened) — together the
    * two checks oracle both halves of the update contract: what is
    * re-emitted (changed keys only, folded here) and that re-emission
    * occurs at all. */
  def qOhlcUpdateStreamed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emissions = ohlcUpdateEmissions(spark, d)
    val w = Window.partitionBy(col("ws"), col("base")).orderBy(col("__bid").desc)
    emissions.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "__bid")
      .orderedBy("ws", "base")
  }

  /** The raw tagged emission stream behind [[qOhlcUpdateStreamed]] —
    * split out so StreamingSpec can assert on the revision sequence
    * itself (≥1 key with >1 emission; per-key monotone batch ids). */
  def ohlcUpdateEmissions(spark: SparkSession, d: String): DataFrame = {
    val (tmp, schema) = stagedEvents3(spark, d)
    Tables.runStreamUpdateEmissions(spark, "ohlc_upd_") { cs =>
      candleSelect(cs.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp))
    }
  }

  /** The qty-lifted candle pipeline + epoch projection shared by the
    * file-source bridges ([[qOhlcStreamed]], [[qOhlcMultibatch]]) — one
    * body, so a projection change cannot split the two bridges' claims. */
  private def candleSelect(src: DataFrame): DataFrame =
    OhlcPipeline.candles(
        src.withColumn("qty_dec", col("value").cast("decimal(20,6)")),
        windowDuration = "1 minute", tsCol = "ts", priceCol = "value",
        qtyCol = "qty_dec", symbolCol = "event_type")
      .select(
        unix_timestamp(col("start_ts")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume").cast("double").as("volume"))

  /** The CUSTOM-STATE streaming engine under the batch oracle (7th bridge,
    * and the one covering code no built-in aggregation runs):
    * [[graft.stream.StatefulCandles.closedCandles]] — flatMapGroupsWithState
    * with explicit per-symbol open-window state, append emission when the
    * key's own event time passes window end + lateness. On AvailableNow
    * finite input the emission set is a deterministic function of the
    * data — exactly the windows with end ≤ maxTs(base) − lateness — which
    * the oracle replays with a per-base max join. Two deliberate contract
    * differences from q_ohlc_1m's SQL: the engine's tie rule is
    * MILLISECOND-truncated (Timestamp.getTime), so the oracle orders by
    * epoch_ms; and volume is omitted from the output — the state fold
    * sums doubles in iterator order, the one non-order-independent value
    * in the candle (the batch paths cover volume with exact decimal
    * sums). */
  def qOhlcStateful(spark: SparkSession, dir: String): DataFrame =
    Tables.runStreamAppend(spark, "ohlc_stateful_") { cs =>
      import cs.implicits._
      val trades = Tables.eventsStream(cs, dir)
        .select(col("event_type").as("base"), col("ts").as("timestamp"),
          col("value").as("price"), col("value").as("quantity"))
        .as[graft.ohlc.Trade]
      val candles = graft.stream.StatefulCandles.closedCandles(trades)
      candles.toDF().select(
        unix_timestamp(col("start_ts")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"))
    }.orderedBy("ws", "base")

  /** The transformWithState engine (MapState/ValueState + first-class
    * event-time timers — TwsCandles) under the oracle, 8th bridge. Its
    * emission bound differs from [[qOhlcStateful]]: the data batch emits
    * per-key (end ≤ keyMax − lateness), then the AvailableNow tail batch
    * fires the watermark timers, closing every window with
    * end ≤ GLOBAL max − lateness — a superset, and what the oracle
    * replays with a global max. Same ms tie rule, volume omitted for the
    * same order-independence reason. */
  def qOhlcTws(spark: SparkSession, dir: String): DataFrame =
    // the StatefulProcessor API needs multi-column-family state, which
    // only the RocksDB provider supports — passed as bridge-session-only
    // conf (the child session owns it; nothing leaks to the caller)
    Tables.runStreamAppend(spark, "ohlc_tws_", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { cs =>
      import cs.implicits._
      val trades = Tables.eventsStream(cs, dir)
        .select(col("event_type").as("base"), col("ts").as("timestamp"),
          col("value").as("price"), col("value").as("quantity"))
        .as[graft.ohlc.Trade]
      val candles = graft.stream.TwsCandles.closedCandles(trades)
      candles.toDF().select(
        unix_timestamp(col("start_ts")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"))
    }.orderedBy("ws", "base")

  /** The ListState primitive under the oracle (38th bridge — completes
    * the transformWithState state-variable trio after TwsCandles'
    * MapState/ValueState): per-user LAST-3 event buffer, update mode over
    * the 4-file rate-limited layout. Each batch that touches a user
    * re-emits that user's current top-3; since the ListState buffer
    * accumulates across batches, folding LATEST-PER-(user, rank) by batch
    * id reconstructs the final tails — which must hash-match the batch
    * twin's window-rank oracle (q_last_k's SQL, shared verbatim). State
    * is pruned back to ≤ k entries per key on every overflow, the bound a
    * 100 TB history needs. */
  def qLastKStreamed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emissions = lastKEmissions(spark, d)
    val w = Window.partitionBy(col("user_id"), col("rn"))
      .orderBy(col("__bid").desc)
    emissions.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1).drop("pick", "__bid")
      .orderedBy("user_id", "rn")
  }

  /** STATE TTL under the oracle (39th bridge): per-user running
    * (count, exact value sum) on a transformWithState ValueState declared
    * with a REAL `TTLConfig` — the engine-managed state retirement the
    * other bridges' manual pruning cannot give (idle keys never return to
    * prune themselves). Two AvailableNow runs share one checkpoint with a
    * 3×ttl sleep between them, so every phase-1 state is
    * expired-by-construction when phase 2 reads it (wall-clock TTL made
    * deterministic — a sleep cannot undershoot; each phase is one
    * micro-batch, so no intra-phase expiry window exists). Folding the
    * update-mode emissions latest-per-user therefore yields the fresh
    * phase-2 aggregate for users active in phase 2 and the retained
    * phase-1 emission otherwise — exactly the batch oracle's FULL OUTER
    * COALESCE over the two event slices. TtlSpec pins the physical side:
    * numRowsTotal DROPS when the sweep retires expired keys the batch
    * never touched, and a reappearing key restarts from zero. */
  def qTtlStreamed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (emissions, _, _) = ttlEmissions(spark, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__phase").desc, col("__bid").desc)
    emissions.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1).drop("pick", "__phase", "__bid")
      .orderedBy("user_id")
  }

  /** The tagged two-phase emissions behind [[qTtlStreamed]] plus each
    * phase's final progress (split out so TtlSpec can pin the state-store
    * row counts across the expiry sweep). */
  def ttlEmissions(spark: SparkSession, d: String): (DataFrame,
      org.apache.spark.sql.streaming.StreamingQueryProgress,
      org.apache.spark.sql.streaming.StreamingQueryProgress) = {
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("value"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val stage = Tables.stageDir(spark, s"ttl_src_$runId")
    val ckpt = Tables.stageDir(spark, s"ttl_ckpt_$runId")
    // 400 ms ttl, 3×ttl sleep: determinism only needs sleep > ttl with
    // margin (phase-1 state is written before runPhase returns, so its
    // expiry lands at most writeEnd+ttl < sleepEnd) — the smaller grid
    // shaves ~2 s of dead bench time vs the original 1 s/3 s (r16 #6's
    // "the sleep leaves the bench"; the event-time lane removes the wall
    // clock entirely)
    val ttlMs = 400L
    ev.filter(pmod(col("event_id"), lit(5)) < 3)
      .coalesce(2).write.mode("overwrite").parquet(stage)
    val (e1, p1) = graft.stream.TwsTtl.runPhase(
      spark, stage, ckpt, ev.schema, ttlMs, 1)
    Thread.sleep(3 * ttlMs) // expiry is now a certainty, not a race
    ev.filter(pmod(col("event_id"), lit(5)) >= 3)
      .coalesce(2).write.mode("append").parquet(stage)
    val (e2, p2) = graft.stream.TwsTtl.runPhase(
      spark, stage, ckpt, ev.schema, ttlMs, 2)
    val out = (e1.unionByName(e2), p1, p2)
    val (fs, root) = graft.source.TradeLogFormat.fs(stage)
    fs.delete(root, true)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    out
  }

  /** The TTL bridge's batch twin: users active in the fresh slice restart
    * there (their expired old-slice state reads as absent); users only in
    * the old slice keep their last emission. */
  private val ttlOracle =
    """WITH olds AS (
      |  SELECT user_id, count(*) AS n,
      |         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v6
      |  FROM events WHERE event_id % 5 < 3 GROUP BY user_id),
      |news AS (
      |  SELECT user_id, count(*) AS n,
      |         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_v6
      |  FROM events WHERE event_id % 5 >= 3 GROUP BY user_id)
      |SELECT COALESCE(n.user_id, o.user_id) AS user_id,
      |       COALESCE(n.n, o.n) AS n,
      |       COALESCE(n.sum_v6, o.sum_v6) AS sum_v6
      |FROM olds o FULL OUTER JOIN news n ON o.user_id = n.user_id
      |ORDER BY user_id""".stripMargin

  /** EVENT-TIME state TTL (VERDICT r16 #6): the same idle-key retirement
    * contract as [[qTtlStreamed]] with the clock swapped — retirement is
    * driven by per-key EVENT-TIME timers firing under the watermark
    * (`TwsTtl.EventTtlProcessor`), not wall-clock `TTLConfig`, so the
    * bridge is bit-deterministic with NO sleep and no checkpoint-resumed
    * second phase. The staged layout replaces the wall clock with the
    * data's own: old slice at T0, new slice at T0+GAP (GAP ≫ ttl, so
    * every returning key's gap restarts it), then ONE sentinel row at
    * T0+2·GAP whose only job is to advance the watermark so the engine's
    * timers fire for keys that never return (the trailing no-data batch
    * then retires the new slice's keys; TtlSpec's 4-slice fixture pins
    * the full numRowsTotal ladder). Folding the update-mode
    * emissions latest-per-user (sentinels dropped) yields the identical
    * FULL OUTER COALESCE batch oracle as the processing-time lane —
    * shared verbatim, so the two clocks cannot drift. */
  def qTtlEventStreamed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (emissions, _) = ttlEventEmissions(spark, d)
    val w = Window.partitionBy(col("user_id")).orderBy(col("__bid").desc)
    emissions.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1).drop("pick", "__bid")
      .filter(col("user_id") >= 0) // sentinel watermark-advancers out
      .orderedBy("user_id")
  }

  /** Tagged emissions + per-batch progress behind [[qTtlEventStreamed]]
    * (split out so TtlSpec can pin the watermark-driven retirement). */
  def ttlEventEmissions(spark: SparkSession, d: String)
      : (DataFrame, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val (tmp, schema) = stagedTtlEvent(spark, d)
    graft.stream.TwsTtl.runEvent(spark, tmp, schema, ttlMs = 60000L)
  }

  /** The event-TTL slice layout: three single-file slices whose order IS
    * the micro-batch order (maxFilesPerTrigger=1; mtimes forced to a
    * strict ladder so the file source's mtime ordering is never a race).
    * Build-once: [[Tables.stageOnce]] (v3 = 3 slices, v4 = published by
    * rename). Event times are synthetic constants per slice (T0, T0+1h,
    * sentinel at +2h, against a 60 s ttl): the TTL contract only reads
    * event-time DIFFERENCES, so pinning them to a grid makes every expiry
    * decision exact while n/sum stay the real table's. */
  private def stagedTtlEvent(spark: SparkSession, d: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val t0Ms = 1700000000000L
    val gapMs = 3600000L
    def withEt(df: DataFrame, ms: Long): DataFrame =
      df.select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"),
        timestamp_millis(lit(ms)).as("et"))
    val tmp = Tables.stageOnce(spark, "ttl_ev4", d, "events") { staging =>
      val root = new org.apache.hadoop.fs.Path(staging)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ev = Tables.events(spark, d)
        .select(col("user_id"), col("event_id"), col("value"))
      val sent = (u: Long) => spark.range(1).select(
        lit(u).as("user_id"), lit(-1L).as("event_id"),
        lit(0.0).as("value"))
      // one sentinel suffices: its batch advances the watermark past the
      // old slice's t0+ttl deadlines (idle keys retire THERE, the bridge's
      // engine claim), and the trailing no-data batch — watermark now past
      // t0+gap+ttl — retires the new slice's keys too; a second sentinel
      // batch would only re-prove the same mechanism at bench cost (the
      // 4-slice variant lives in TtlSpec's fixture, where it pins the
      // per-batch numRowsTotal ladder)
      val slices = Seq(
        withEt(ev.filter(pmod(col("event_id"), lit(5)) < 3), t0Ms),
        withEt(ev.filter(pmod(col("event_id"), lit(5)) >= 3), t0Ms + gapMs),
        withEt(sent(-1L), t0Ms + 2 * gapMs))
      slices.zipWithIndex.foreach { case (df, i) =>
        val stage = new org.apache.hadoop.fs.Path(root, s"_build_$i")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = fs.listStatus(stage)
          .map(_.getPath).filter(_.getName.startsWith("part-")).head
        val dst = new org.apache.hadoop.fs.Path(root, f"slice-$i%04d.parquet")
        fs.rename(part, dst)
        fs.delete(stage, true)
        fs.setTimes(dst, 1000L * (i + 1), -1) // strict mtime ladder
      }
    }
    (tmp, withEt(spark.range(0).select(lit(0L).as("user_id"),
      lit(0L).as("event_id"), lit(0.0).as("value")), t0Ms).schema)
  }

  /** The raw tagged emission stream behind [[qLastKStreamed]] — split out
    * so StreamingSpec can pin that ≥1 user's tail was genuinely REVISED
    * across micro-batches (the update-mode observable). */
  def lastKEmissions(spark: SparkSession, d: String): DataFrame = {
    val (tmp, schema) = stagedEvents3(spark, d)
    Tables.runStreamUpdateEmissions(spark, "lastk_") { cs =>
      // multi-column-family state (the StatefulProcessor API) needs the
      // RocksDB provider; child-session conf, nothing leaks to the caller
      cs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      graft.stream.TwsLastK.lastK(
        cs.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(tmp), 3)
    }
  }

  private val ohlcTwsOracle =
    """WITH t AS (
      |  SELECT event_type AS base, epoch_ms(ts) AS ms, value
      |  FROM events),
      |b AS (SELECT max(ms) AS max_ms FROM t),
      |w AS (SELECT base, ms - ms % 60000 AS ws_ms, ms, value FROM t),
      |g AS (SELECT base, ws_ms,
      |        first(value ORDER BY ms, value) AS open,
      |        max(value) AS high, min(value) AS low,
      |        last(value ORDER BY ms, value) AS close
      |      FROM w GROUP BY base, ws_ms)
      |SELECT CAST(ws_ms // 1000 AS BIGINT) AS ws, base,
      |       open, high, low, close
      |FROM g CROSS JOIN b
      |WHERE ws_ms + 60000 <= max_ms - 120000
      |ORDER BY ws, base""".stripMargin

  private val ohlcStatefulOracle =
    """WITH t AS (
      |  SELECT event_type AS base, epoch_ms(ts) AS ms, value
      |  FROM events),
      |b AS (SELECT base, max(ms) AS max_ms FROM t GROUP BY base),
      |w AS (SELECT base, ms - ms % 60000 AS ws_ms, ms, value FROM t),
      |g AS (SELECT base, ws_ms,
      |        first(value ORDER BY ms, value) AS open,
      |        max(value) AS high, min(value) AS low,
      |        last(value ORDER BY ms, value) AS close
      |      FROM w GROUP BY base, ws_ms)
      |SELECT CAST(ws_ms // 1000 AS BIGINT) AS ws, g.base,
      |       open, high, low, close
      |FROM g JOIN b USING (base)
      |WHERE ws_ms + 60000 <= max_ms - 120000
      |ORDER BY ws, base""".stripMargin

  /** VWAP candles — the OHLC sibling every trading engine ships:
    * volume-weighted average price per (window, base), with the trade
    * count. In this table `value` is both price and quantity (the same
    * convention q_ohlc_1m's volume uses — reference FIXTURES.md mapping),
    * so vwap = Σ(p·q)/Σ(q) = Σ(v²)/Σ(v). Both sums are EXACT decimals
    * ((16,6)² → (33,12) products, no precision cap on either engine);
    * the final value is one IEEE divide of the two canonicalized
    * doubles — deterministic, the q_ohlc_1m volume discipline. */
  def qOhlcVwap(spark: SparkSession, dir: String): DataFrame =
    vwapAgg(Tables.events(spark, dir)).orderedBy("ws", "base")

  /** The VWAP aggregation shared by the batch and streaming twins. A
    * window whose quantity sum is ZERO has no defined vwap — emitted as
    * NULL via a branch-lazy guard (sf0.1 has such a window; an unguarded
    * ANSI divide throws DIVIDE_BY_ZERO), mirrored by the oracle's CASE. */
  private def vwapAgg(ev: DataFrame): DataFrame = {
    val vDec = col("value").cast("decimal(16,6)")
    ev.groupBy(window(col("ts"), "1 minute"), col("event_type").as("base"))
      .agg(
        count(lit(1)).as("n_trades"),
        sum(vDec * vDec).cast("double").as("spq"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sq"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("n_trades"),
        when(col("sq") =!= 0.0, col("spq") / col("sq")).as("vwap"))
  }

  /** VWAP executed by the streaming engine (12th bridge): the identical
    * aggregation over the file source, AvailableNow, complete mode,
    * memory sink — hash-compared against the same SQL as the batch twin. */
  def qOhlcVwapStreamed(spark: SparkSession, dir: String): DataFrame =
    Tables.runStreamComplete(spark, "ohlc_vwap_streamed_") { cs =>
      vwapAgg(Tables.eventsStream(cs, dir))
    }.orderedBy("ws", "base")

  private val ohlcVwapOracle =
    """SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |       event_type AS base,
      |       count(*) AS n_trades,
      |       CASE WHEN CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) = 0.0 THEN NULL
      |            ELSE CAST(sum(CAST(value AS DECIMAL(16,6)) * CAST(value AS DECIMAL(16,6))) AS DOUBLE)
      |                 / CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) END AS vwap
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // the canonical candle oracle lives on OhlcPipeline (no back-reference
  // into this catalog object, so source-module defs can share it without
  // a clinit cycle)
  private def ohlcOracle = graft.ohlc.OhlcPipeline.ohlcOracle

  /** 5-minute candles REBUILT FROM the 1-minute candles — the
    * hierarchical resolution rollup every multi-resolution chart/archive
    * serves from. OHLC is a MONOID (open = open of the earliest member,
    * close = close of the latest, high/low = max/min, volume = exact
    * decimal sum), so coarser candles re-aggregate from finer PARTIALS
    * without ever rescanning raw trades — at 100 TB the 1-minute tier is
    * ~5 orders of magnitude smaller than the trade stream, and every
    * coarser resolution is candle-sized work. The merge reuses the same
    * ordered aggregates as the spine, keyed by the member candle's start
    * (unique per (5m-window, base), so the tie lane never engages). The
    * oracle computes 5-minute candles DIRECTLY from raw events — the
    * hash gate proves partial-merge ≡ direct aggregation. */
  def qOhlcRollup(spark: SparkSession, dir: String): DataFrame = {
    rollupCandles(m1Candles(spark, dir)).orderedBy("ws", "base")
  }

  /** The 1-minute candle tier (the spine's full candle schema). */
  private def m1Candles(spark: SparkSession, dir: String): DataFrame =
    OhlcPipeline.candles(
      Tables.events(spark, dir)
        .withColumn("qty_dec", col("value").cast("decimal(20,6)")),
      windowDuration = "1 minute", tsCol = "ts", priceCol = "value",
      qtyCol = "qty_dec", symbolCol = "event_type")

  /** The OHLC monoid merge: 1-minute candles → 5-minute candles, shared
    * by [[qOhlcRollup]] (inline tier) and [[qOhlcTiered]] (persisted
    * tier). */
  private def rollupCandles(m1: DataFrame,
      duration: String = "5 minutes"): DataFrame =
    m1.groupBy(window(col("start_ts"), duration), col("base"))
      .agg(
        expr("first_by_ordered(unix_micros(start_ts), open)").as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        expr("last_by_ordered(unix_micros(start_ts), close)").as("close"),
        sum(col("volume")).cast("double").as("volume"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))

  /** [[qOhlcRollup]] served from a PERSISTED 1-minute candle tier — the
    * build-once artifact lifecycle (the q_sim_ivfpq_persisted /
    * q_dedup_cc_persisted pattern; rule in [[graft.core.Artifacts]])
    * applied to the reference's own domain: a production OHLC archive
    * materializes the 1-minute tier ONCE and every coarser resolution,
    * chart query, and backtest reads candles, never raw trades. The tier
    * path is the events file's fingerprint + a code-version tag. Serve-side
    * plan scans ONLY the candle artifact (CatalogSpec pins build-once + no
    * events scan on the serve plan); the oracle is the direct-from-raw
    * 5-minute SQL, so the hash proves persist → read-back → merge ≡ direct
    * aggregation. */
  def qOhlcTiered(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.publishOnce(spark, s"${Tables.artifactRoot(spark)}" +
        s"/graft_candles/v1_${Artifacts.fingerprint(spark, dir, "events")}") { p =>
      m1Candles(spark, dir).write.mode("overwrite").parquet(p)
    }
    rollupCandles(spark.read.parquet(path)).orderedBy("ws", "base")
  }

  private val ohlcRollupOracle =
    """SELECT CAST(epoch(date_trunc('minute', ts))
      |            - epoch(date_trunc('minute', ts)) % 300 AS BIGINT) AS ws,
      |       event_type AS base,
      |       first(value ORDER BY date_trunc('microseconds', ts), value) AS open,
      |       max(value) AS high,
      |       min(value) AS low,
      |       last(value ORDER BY date_trunc('microseconds', ts), value) AS close,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-filled minute candles — the chart/backtest contract that every
    * minute in a symbol's trading span exists: the minute grid per base
    * (min..max observed window, a `sequence` explode — time-range-sized,
    * never data-sized) left-joins the real candles, and empty minutes
    * synthesize the conventional flat candle (open=high=low=close =
    * previous close, volume 0) via a per-base running forward-fill
    * (`last(close) ignoreNulls` over ws). No arithmetic is introduced —
    * filled values are verbatim stored closes, volume 0 is exact — so
    * the driver hash holds bit-for-bit. `gap` marks synthesized rows.
    * 100 TB shape: everything past the spine is candle-sized (minutes ×
    * bases); the one window sort is per-base over minute rows. */
  def qOhlcGapfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = candleSelect(Tables.events(spark, dir))
    val span = c.groupBy(col("base")).agg(min("ws").as("lo"), max("ws").as("hi"))
    val grid = span.select(col("base"),
      explode(sequence(col("lo"), col("hi"), lit(60L))).as("ws"))
    val fill = Window.partitionBy("base").orderBy("ws")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(c, Seq("base", "ws"), "left")
      .withColumn("fc", last(col("close"), ignoreNulls = true).over(fill))
      .select(col("ws"), col("base"),
        coalesce(col("open"), col("fc")).as("open"),
        coalesce(col("high"), col("fc")).as("high"),
        coalesce(col("low"), col("fc")).as("low"),
        coalesce(col("close"), col("fc")).as("close"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        col("close").isNull.cast("long").as("gap"))
      .orderedBy("ws", "base")
  }

  /** Largest minute-over-minute close moves — the monitoring query every
    * candle pipeline hangs off the spine: Δclose per base via lag over
    * the minute tier, global top-20 by |Δ|. Deterministic because the
    * single IEEE subtraction of two stored doubles is bit-identical
    * across engines and ranking ties break on (ws, base); the top-k
    * plans TakeOrderedAndProject (bounded per-partition heaps — no
    * global sort of the candle tier). */
  def qOhlcMoves(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = candleSelect(Tables.events(spark, dir))
    val w = Window.partitionBy("base").orderBy("ws")
    c.withColumn("prev_close", lag(col("close"), 1).over(w))
      .filter(col("prev_close").isNotNull)
      .withColumn("chg", col("close") - col("prev_close"))
      .orderBy(abs(col("chg")).desc, col("ws"), col("base"))
      .limit(20)
      .select(col("ws"), col("base"), col("prev_close"), col("close"), col("chg"))
      .orderedBy("ws", "base")
  }

  private val ohlcMovesOracle =
    """WITH c AS (
      |  SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         last(value ORDER BY date_trunc('microseconds', ts), value) AS close
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT ws, base, close,
      |        lag(close) OVER (PARTITION BY base ORDER BY ws) AS prev_close
      |      FROM c),
      |m AS (SELECT ws, base, prev_close, close, close - prev_close AS chg
      |      FROM l WHERE prev_close IS NOT NULL),
      |t AS (SELECT * FROM m ORDER BY abs(chg) DESC, ws, base LIMIT 20)
      |SELECT ws, base, prev_close, close, chg FROM t ORDER BY ws, base""".stripMargin

  /** Donchian channel + breakout flags — the rolling-extreme indicator
    * layer over the minute tier: per base, the channel is the max high /
    * min low over the PRECEDING 30 minutes EXCLUDING the current minute
    * (RANGE frame on the epoch-second ws key, so calendar gaps narrow
    * the frame instead of sliding over a fixed row count), and a close
    * outside the channel flags a breakout. Deterministic: channel values
    * are stored doubles selected by max/min, the breakout test is one
    * comparison of bit-identical doubles, and an empty frame yields NULL
    * channel/flags on both engines. The window sorts per (base) over
    * minute rows — candle-tier-sized, never trade-sized. */
  def qOhlcDonchian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = candleSelect(Tables.events(spark, dir))
    val w = Window.partitionBy("base").orderBy(col("ws"))
      .rangeBetween(-1800L, -60L)
    c.select(col("ws"), col("base"), col("high"), col("low"), col("close"),
        max(col("high")).over(w).as("ch_high"),
        min(col("low")).over(w).as("ch_low"))
      .withColumn("breakout_up", (col("close") > col("ch_high")).cast("long"))
      .withColumn("breakout_dn", (col("close") < col("ch_low")).cast("long"))
      .orderedBy("ws", "base")
  }

  private val ohlcDonchianOracle =
    """WITH c AS (
      |  SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         max(value) AS high, min(value) AS low,
      |         last(value ORDER BY date_trunc('microseconds', ts), value) AS close
      |  FROM events GROUP BY 1, 2),
      |w AS (SELECT ws, base, high, low, close,
      |        max(high) OVER win AS ch_high,
      |        min(low) OVER win AS ch_low
      |      FROM c WINDOW win AS (PARTITION BY base ORDER BY ws
      |        RANGE BETWEEN 1800 PRECEDING AND 60 PRECEDING))
      |SELECT ws, base, high, low, close, ch_high, ch_low,
      |       CAST(close > ch_high AS BIGINT) AS breakout_up,
      |       CAST(close < ch_low AS BIGINT) AS breakout_dn
      |FROM w ORDER BY ws, base""".stripMargin

  private val ohlcGapfillOracle =
    """WITH c AS (
      |  SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         first(value ORDER BY date_trunc('microseconds', ts), value) AS open,
      |         max(value) AS high, min(value) AS low,
      |         last(value ORDER BY date_trunc('microseconds', ts), value) AS close,
      |         CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT base, min(ws) AS lo, max(ws) AS hi FROM c GROUP BY 1),
      |grid AS (SELECT base, CAST(unnest(generate_series(lo, hi, 60)) AS BIGINT) AS ws
      |         FROM span),
      |j AS (SELECT g.base, g.ws, c.open, c.high, c.low, c.close, c.volume
      |      FROM grid g LEFT JOIN c ON g.base = c.base AND g.ws = c.ws),
      |f AS (SELECT base, ws, open, high, low, close, volume,
      |        last_value(close IGNORE NULLS) OVER
      |          (PARTITION BY base ORDER BY ws
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fc
      |      FROM j)
      |SELECT ws, base,
      |       coalesce(open, fc) AS open, coalesce(high, fc) AS high,
      |       coalesce(low, fc) AS low, coalesce(close, fc) AS close,
      |       coalesce(volume, 0.0) AS volume,
      |       CAST(CASE WHEN close IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gap
      |FROM f ORDER BY ws, base""".stripMargin

  /** Exponential moving average over the HOURLY rollup closes — the
    * first (and only) SEQUENTIALLY-RECURSIVE query in the catalog, made
    * cross-engine exact with the fixed-point PageRank discipline:
    * closes lift to exact µ-unit longs (+10⁹ positivity shift so
    * floor division is identical under Spark's `div` and DuckDB's `//`
    * even if a future regen ships negative prices; the shift commutes
    * through the recursion exactly and is subtracted at the end), then
    * ema₀ = c₀, emaₜ = ⌊(2·cₜ + 9·emaₜ₋₁) / 11⌋ — the span-10 EMA as
    * pure integer ops, bit-identical on any engine. Spark runs the
    * recursion as a per-base HOF fold over the ws-sorted close array
    * (no UDF, no driver loop); the oracle replays it as a recursive
    * CTE. 100 TB shape: the recursion is inherently sequential PER
    * SYMBOL (state = one long) — parallelism comes from the symbol
    * dimension, and the input is the candle tier, never raw trades; the
    * array fold is quadratic in copies, so a year-scale backfill would
    * promote it to an ordered TypedImperativeAggregate (the
    * OrderedFirstLast seam) — same recursion, same oracle. */
  def qOhlcEma(spark: SparkSession, dir: String): DataFrame =
    hourlyCloseFold(spark, dir,
      seed = "named_struct('ws', x.ws, 'ema', x.c6)",
      step = """named_struct('ws', x.ws,
        'ema', (2 * x.c6 + 9 * element_at(acc, -1).ema) div 11)""")
      .select(col("e.ws").as("ws"), col("base"),
        (col("e.ema") - lit(Shift)).as("ema6"))
      .orderedBy("ws", "base")

  /** The sequential-recursion scaffold shared by [[qOhlcEma]] and
    * [[qOhlcMacd]]: hourly rollup closes lifted to +Shift µ-unit longs,
    * collected ws-sorted per base, folded with the caller's recurrence
    * (`seed` builds the first element from `x`; `step` builds element i
    * from `acc`/`x`), exploded back to rows as struct column `e`. One
    * scaffold, one shift constant — a recurrence change cannot split the
    * indicators\' shared claims. */
  private val Shift = 1000000000L

  private def hourlyCloseFold(spark: SparkSession, dir: String,
      seed: String, step: String): DataFrame =
    rollupCandles(m1Candles(spark, dir), "1 hour")
      .select(col("ws"), col("base"),
        (round(col("close") * 1000000).cast("long") + lit(Shift)).as("c6"))
      .groupBy(col("base"))
      .agg(array_sort(collect_list(struct(col("ws"), col("c6")))).as("cs"))
      .withColumn("folded", expr(
        s"""aggregate(
           |  slice(cs, 2, size(cs) - 1),
           |  transform(slice(cs, 1, 1), x -> $seed),
           |  (acc, x) -> concat(acc, array($step)))""".stripMargin))
      .select(col("base"), explode(col("folded")).as("e"))

  private val ohlcEmaOracle =
    """WITH RECURSIVE c AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         CAST(round(last(value ORDER BY date_trunc('microseconds', ts),
      |                         value) * 1000000) AS BIGINT)
      |           + 1000000000 AS c6
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT base, ws, c6,
      |        row_number() OVER (PARTITION BY base ORDER BY ws) AS rn
      |      FROM c),
      |r AS (
      |  SELECT base, ws, rn, c6 AS ema FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.base, n.ws, n.rn, (2 * n.c6 + 9 * r.ema) // 11
      |  FROM n JOIN r ON n.base = r.base AND n.rn = r.rn + 1)
      |SELECT ws, base, ema - 1000000000 AS ema6
      |FROM r ORDER BY ws, base""".stripMargin

  /** MACD(12, 26, 9) over the hourly closes — THREE coupled exact
    * recursions folded in ONE pass with a 3-long accumulator (fast EMA,
    * slow EMA, signal EMA of their difference), the [[qOhlcEma]]
    * discipline composed: every recursion runs on +10⁹-shifted longs so
    * floor division is engine-identical even where the MACD line itself
    * goes NEGATIVE (the shift commutes through each recurrence exactly
    * and cancels in the subtraction), and the signal line re-shifts the
    * difference before its own recursion. macd₆ = e12 − e26,
    * sig₆ = EMA₉(macd₆), hist₆ = macd₆ − sig₆ — all exact integers,
    * replayed by a 3-column recursive CTE. 100 TB shape: same as
    * q_ohlc_ema — one sequential pass per symbol over the candle tier,
    * state three longs. */
  def qOhlcMacd(spark: SparkSession, dir: String): DataFrame =
    hourlyCloseFold(spark, dir,
      seed = s"""named_struct(
        'ws', x.ws, 'e12', x.c6, 'e26', x.c6, 'sig', ${Shift}L)""",
      step = s"""named_struct(
        'ws', x.ws,
        'e12', (2 * x.c6 + 11 * element_at(acc, -1).e12) div 13,
        'e26', (2 * x.c6 + 25 * element_at(acc, -1).e26) div 27,
        'sig', (2 * ((2 * x.c6 + 11 * element_at(acc, -1).e12) div 13
                     - (2 * x.c6 + 25 * element_at(acc, -1).e26) div 27
                     + ${Shift}L)
                + 7 * element_at(acc, -1).sig) div 9)""")
      .select(col("e.ws").as("ws"), col("base"),
        (col("e.e12") - col("e.e26")).as("macd6"),
        (col("e.sig") - lit(Shift)).as("sig6"),
        (col("e.e12") - col("e.e26") - (col("e.sig") - lit(Shift)))
          .as("hist6"))
      .orderedBy("ws", "base")

  private val ohlcMacdOracle =
    """WITH RECURSIVE c AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         CAST(round(last(value ORDER BY date_trunc('microseconds', ts),
      |                         value) * 1000000) AS BIGINT)
      |           + 1000000000 AS c6
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT base, ws, c6,
      |        row_number() OVER (PARTITION BY base ORDER BY ws) AS rn
      |      FROM c),
      |r AS (
      |  SELECT base, ws, rn, c6 AS e12, c6 AS e26,
      |         CAST(1000000000 AS BIGINT) AS sig
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.base, n.ws, n.rn,
      |         (2 * n.c6 + 11 * r.e12) // 13,
      |         (2 * n.c6 + 25 * r.e26) // 27,
      |         (2 * ((2 * n.c6 + 11 * r.e12) // 13
      |               - (2 * n.c6 + 25 * r.e26) // 27 + 1000000000)
      |          + 7 * r.sig) // 9
      |  FROM n JOIN r ON n.base = r.base AND n.rn = r.rn + 1)
      |SELECT ws, base, e12 - e26 AS macd6, sig - 1000000000 AS sig6,
      |       e12 - e26 - (sig - 1000000000) AS hist6
      |FROM r ORDER BY ws, base""".stripMargin

  /** INCREMENTAL candle-tier maintenance — the materialized-view update
    * every OHLC archive actually runs: yesterday's tier (partial candles
    * over the base slice) absorbs today's increment WITHOUT rescanning
    * history, by the OHLC merge monoid keyed on (minute, base). Each
    * partial carries its min/max event-time keys (atomic longs — the
    * struct-key formulation would force SortAggregate), so the merge is
    * one full-outer join resolving open/close by earlier/later key with
    * the reference tie rule (same-µs tie → lowest price opens, highest
    * closes — the ELSE least/greatest arms), high/low by null-skipping
    * greatest/least, volume by exact decimal addition with ONE final
    * double cast. The oracle is the VERBATIM full-recompute ohlcOracle —
    * the hash proves increment-merge ≡ recompute. 100 TB shape: the
    * increment's partials are a day's candles (broadcast-small); the
    * tier never rescans, only joins on its own key. */
  def qOhlcTierIncr(spark: SparkSession, dir: String): DataFrame =
    tierIncrFrom(Tables.events(spark, dir),
      pmod(col("event_id"), lit(5)) === 4)

  /** The merge body over an explicit events frame — split out so the
    * spec can drive the same-µs tie arms with a constructed fixture
    * (measure-zero in real data, so the oracle alone never fires them). */
  private[graft] def tierIncrFrom(ev: DataFrame,
      isIncr: org.apache.spark.sql.Column): DataFrame = {
    def partial(src: DataFrame): DataFrame =
      src.groupBy(window(col("ts"), "1 minute"), col("event_type").as("base"))
        .agg(
          min(unix_micros(col("ts"))).as("fk"),
          max(unix_micros(col("ts"))).as("lk"),
          expr("first_by_ordered(unix_micros(ts), value)").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("last_by_ordered(unix_micros(ts), value)").as("close"),
          sum(col("value").cast("decimal(20,6)")).as("vol"))
        .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
          col("fk"), col("lk"), col("open"), col("high"), col("low"),
          col("close"), col("vol"))
    val tier = partial(ev.filter(!isIncr)).alias("a")
    val incr = partial(ev.filter(isIncr)).alias("b")
    def a(n: String) = col(s"a.$n")
    def b(n: String) = col(s"b.$n")
    val zeroVol = lit(0).cast("decimal(20,6)")
    tier.join(incr, Seq("ws", "base"), "full_outer")
      .select(col("ws"), col("base"),
        when(b("fk").isNull, a("open"))
          .when(a("fk").isNull, b("open"))
          .when(a("fk") < b("fk"), a("open"))
          .when(b("fk") < a("fk"), b("open"))
          .otherwise(least(a("open"), b("open"))).as("open"),
        greatest(a("high"), b("high")).as("high"),
        least(a("low"), b("low")).as("low"),
        when(b("lk").isNull, a("close"))
          .when(a("lk").isNull, b("close"))
          .when(a("lk") > b("lk"), a("close"))
          .when(b("lk") > a("lk"), b("close"))
          .otherwise(greatest(a("close"), b("close"))).as("close"),
        (coalesce(a("vol"), zeroVol) + coalesce(b("vol"), zeroVol))
          .cast("double").as("volume"))
      .orderedBy("ws", "base")
  }

  /** RSI(14, Wilder) over the hourly closes — the [[qOhlcEma]] exact
    * integer discipline applied to the gain/loss DUAL recursion: per bar,
    * gain = max(Δc6, 0) and loss = max(−Δc6, 0) (the +Shift lift cancels
    * in the difference), then Wilder smoothing
    * ag = (13·ag′ + gain) div 14 (and symmetrically al) — both
    * accumulators non-negative longs, so floor division is
    * engine-identical with no re-shift. Seeded ag = al = 0 at the first
    * bar (the recursion's own fixed semantics, replayed verbatim by the
    * oracle's recursive CTE). The RSI emits in BASIS POINTS as the exact
    * integer (10000·ag) div (ag+al), 5000 when flat — no IEEE division
    * anywhere. 100 TB shape: identical to q_ohlc_ema — one sequential
    * pass per symbol over the candle tier, state two longs. */
  def qOhlcRsi(spark: SparkSession, dir: String): DataFrame =
    hourlyCloseFold(spark, dir,
      seed = "named_struct('ws', x.ws, 'c6', x.c6, 'ag', 0L, 'al', 0L)",
      step = """named_struct('ws', x.ws, 'c6', x.c6,
        'ag', (13 * element_at(acc, -1).ag
               + greatest(x.c6 - element_at(acc, -1).c6, 0L)) div 14,
        'al', (13 * element_at(acc, -1).al
               + greatest(element_at(acc, -1).c6 - x.c6, 0L)) div 14)""")
      .select(col("e.ws").as("ws"), col("base"),
        col("e.ag").as("ag6"), col("e.al").as("al6"),
        when(col("e.ag") + col("e.al") === 0L, lit(5000L))
          .otherwise(expr("(10000 * e.ag) div (e.ag + e.al)")).as("rsi_bp"))
      .orderedBy("ws", "base")

  private val ohlcRsiOracle =
    """WITH RECURSIVE c AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         CAST(round(last(value ORDER BY date_trunc('microseconds', ts),
      |                         value) * 1000000) AS BIGINT)
      |           + 1000000000 AS c6
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT base, ws, c6,
      |        row_number() OVER (PARTITION BY base ORDER BY ws) AS rn
      |      FROM c),
      |r AS (
      |  SELECT base, ws, rn, c6,
      |         CAST(0 AS BIGINT) AS ag, CAST(0 AS BIGINT) AS al
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.base, n.ws, n.rn, n.c6,
      |         (13 * r.ag + greatest(n.c6 - r.c6, 0)) // 14,
      |         (13 * r.al + greatest(r.c6 - n.c6, 0)) // 14
      |  FROM n JOIN r ON n.base = r.base AND n.rn = r.rn + 1)
      |SELECT ws, base, ag AS ag6, al AS al6,
      |       CASE WHEN ag + al = 0 THEN CAST(5000 AS BIGINT)
      |            ELSE (10000 * ag) // (ag + al) END AS rsi_bp
      |FROM r ORDER BY ws, base""".stripMargin

  /** ATR(14, Wilder) over the hourly bars — the true-range recursion
    * needs the FULL bar (high/low/close), so the close-only scaffold
    * generalizes to [[hourlyBarFold]]: tr = max(h−l, |h−c′|, |l−c′|) on
    * unshifted µ-price longs (differences sit inside abs/greatest, so no
    * lift is needed; tr and atr are non-negative by construction), then
    * atr = (13·atr′ + tr) div 14 seeded with the first bar's h−l. All
    * exact integers replayed by the oracle's recursive CTE. 100 TB
    * shape: one sequential pass per symbol over the candle tier, state
    * two longs. */
  def qOhlcAtr(spark: SparkSession, dir: String): DataFrame =
    hourlyBarFold(spark, dir,
      seed = """named_struct('ws', x.ws, 'c6', x.c6,
        'tr', x.h6 - x.l6, 'atr', x.h6 - x.l6)""",
      step = """named_struct('ws', x.ws, 'c6', x.c6,
        'tr', greatest(x.h6 - x.l6,
                       abs(x.h6 - element_at(acc, -1).c6),
                       abs(x.l6 - element_at(acc, -1).c6)),
        'atr', (13 * element_at(acc, -1).atr
                + greatest(x.h6 - x.l6,
                           abs(x.h6 - element_at(acc, -1).c6),
                           abs(x.l6 - element_at(acc, -1).c6))) div 14)""")
      .select(col("e.ws").as("ws"), col("base"),
        col("e.tr").as("tr6"), col("e.atr").as("atr6"))
      .orderedBy("ws", "base")

  private val ohlcAtrOracle =
    """WITH RECURSIVE c AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         CAST(round(max(value) * 1000000) AS BIGINT) AS h6,
      |         CAST(round(min(value) * 1000000) AS BIGINT) AS l6,
      |         CAST(round(last(value ORDER BY date_trunc('microseconds', ts),
      |                         value) * 1000000) AS BIGINT) AS c6
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT base, ws, h6, l6, c6,
      |        row_number() OVER (PARTITION BY base ORDER BY ws) AS rn
      |      FROM c),
      |r AS (
      |  SELECT base, ws, rn, c6, h6 - l6 AS tr, h6 - l6 AS atr
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.base, n.ws, n.rn, n.c6,
      |         greatest(n.h6 - n.l6, abs(n.h6 - r.c6), abs(n.l6 - r.c6)),
      |         (13 * r.atr
      |          + greatest(n.h6 - n.l6, abs(n.h6 - r.c6), abs(n.l6 - r.c6)))
      |           // 14
      |  FROM n JOIN r ON n.base = r.base AND n.rn = r.rn + 1)
      |SELECT ws, base, tr AS tr6, atr AS atr6
      |FROM r ORDER BY ws, base""".stripMargin

  /** HEIKIN-ASHI candles over the hourly bars — the smoothing transform
    * charting stacks apply before trend detection, and ANOTHER exact
    * recursion: haClose = (o+h+l+c) div 4 is per-bar, but
    * haOpen_t = (haOpen_{t-1} + haClose_{t-1}) div 2 carries state, so
    * it rides [[hourlyBarFold]] like RSI/ATR — all µ-price longs are
    * positive, floor division is engine-identical, and haHigh/haLow are
    * greatest/least over longs. Replayed by a recursive CTE. 100 TB
    * shape: one sequential pass per symbol, state two longs. */
  def qOhlcHeikin(spark: SparkSession, dir: String): DataFrame =
    hourlyBarFold(spark, dir,
      seed = """named_struct('ws', x.ws,
        'hc', (x.o6 + x.h6 + x.l6 + x.c6) div 4,
        'ho', (x.o6 + x.c6) div 2,
        'hh', x.h6, 'hl', x.l6)""",
      step = """named_struct('ws', x.ws,
        'hc', (x.o6 + x.h6 + x.l6 + x.c6) div 4,
        'ho', (element_at(acc, -1).ho + element_at(acc, -1).hc) div 2,
        'hh', greatest(x.h6,
                (element_at(acc, -1).ho + element_at(acc, -1).hc) div 2,
                (x.o6 + x.h6 + x.l6 + x.c6) div 4),
        'hl', least(x.l6,
                (element_at(acc, -1).ho + element_at(acc, -1).hc) div 2,
                (x.o6 + x.h6 + x.l6 + x.c6) div 4))""")
      .select(col("e.ws").as("ws"), col("base"),
        col("e.ho").as("ha_open6"), col("e.hc").as("ha_close6"),
        col("e.hh").as("ha_high6"), col("e.hl").as("ha_low6"))
      .orderedBy("ws", "base")

  private val ohlcHeikinOracle =
    """WITH RECURSIVE c AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         CAST(round(first(value ORDER BY date_trunc('microseconds', ts),
      |                          value) * 1000000) AS BIGINT) AS o6,
      |         CAST(round(max(value) * 1000000) AS BIGINT) AS h6,
      |         CAST(round(min(value) * 1000000) AS BIGINT) AS l6,
      |         CAST(round(last(value ORDER BY date_trunc('microseconds', ts),
      |                         value) * 1000000) AS BIGINT) AS c6
      |  FROM events GROUP BY 1, 2),
      |n AS (SELECT base, ws, o6, h6, l6, c6,
      |        row_number() OVER (PARTITION BY base ORDER BY ws) AS rn
      |      FROM c),
      |r AS (
      |  SELECT base, ws, rn, o6, h6, l6, c6,
      |         (o6 + h6 + l6 + c6) // 4 AS hc,
      |         (o6 + c6) // 2 AS ho,
      |         h6 AS hh, l6 AS hl
      |  FROM n WHERE rn = 1
      |  UNION ALL
      |  SELECT n.base, n.ws, n.rn, n.o6, n.h6, n.l6, n.c6,
      |         (n.o6 + n.h6 + n.l6 + n.c6) // 4,
      |         (r.ho + r.hc) // 2,
      |         greatest(n.h6, (r.ho + r.hc) // 2,
      |                  (n.o6 + n.h6 + n.l6 + n.c6) // 4),
      |         least(n.l6, (r.ho + r.hc) // 2,
      |               (n.o6 + n.h6 + n.l6 + n.c6) // 4)
      |  FROM n JOIN r ON n.base = r.base AND n.rn = r.rn + 1)
      |SELECT ws, base, ho AS ha_open6, hc AS ha_close6,
      |       hh AS ha_high6, hl AS ha_low6
      |FROM r ORDER BY ws, base""".stripMargin

  /** [[hourlyCloseFold]] generalized to the full (o6, h6, l6, c6) bar
    * for recursions that need intra-bar range or the open
    * ([[qOhlcAtr]], [[qOhlcHeikin]]); unshifted µ-price longs — callers
    * keep differences inside abs/greatest. */
  private def hourlyBarFold(spark: SparkSession, dir: String,
      seed: String, step: String): DataFrame =
    rollupCandles(m1Candles(spark, dir), "1 hour")
      .select(col("ws"), col("base"),
        round(col("open") * 1000000).cast("long").as("o6"),
        round(col("high") * 1000000).cast("long").as("h6"),
        round(col("low") * 1000000).cast("long").as("l6"),
        round(col("close") * 1000000).cast("long").as("c6"))
      .groupBy(col("base"))
      .agg(array_sort(collect_list(
        struct(col("ws"), col("o6"), col("h6"), col("l6"), col("c6"))))
        .as("cs"))
      .withColumn("folded", expr(
        s"""aggregate(
           |  slice(cs, 2, size(cs) - 1),
           |  transform(slice(cs, 1, 1), x -> $seed),
           |  (acc, x) -> concat(acc, array($step)))""".stripMargin))
      .select(col("base"), explode(col("folded")).as("e"))

  /** Bollinger bands on the minute tier — the q_outliers exact-variance
    * discipline under a 30-minute RANGE frame: per-frame count / exact
    * µ-lifted sum / exact decimal power sum, then ONE fixed IEEE tree
    * (each step a single op on bit-identical inputs) for mean, std, and
    * the ±2σ bands, so raw doubles hash across engines. `greatest(…,0)`
    * pins the cancellation-negative variance case to 0 identically on
    * both sides. Band units are µ-price (mid6/sd6/up6/dn6), matching the
    * lifted sums — no extra unit-conversion ops in the hashed tree.
    * 100 TB shape: the window sorts candle-tier rows per base; the frame
    * state is 3 numbers (n, s1, s2) regardless of frame width. */
  def qOhlcBollinger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = candleSelect(Tables.events(spark, dir))
      .withColumn("c6", round(col("close") * 1000000).cast("long"))
    val w = Window.partitionBy("base").orderBy(col("ws"))
      .rangeBetween(-1740L, 0L)
    c.select(col("ws"), col("base"), col("close"), col("c6"),
        count(lit(1)).over(w).as("n"),
        sum(col("c6")).over(w).as("s1"),
        sum(col("c6").cast("decimal(19,0)") * col("c6").cast("decimal(19,0)"))
          .over(w).as("s2"))
      .withColumn("mid6", expr("CAST(s1 AS DOUBLE) / n"))
      .withColumn("sd6", expr(
        "sqrt(greatest(CAST(s2 AS DOUBLE) / n - mid6 * mid6, 0.0))"))
      .withColumn("up6", expr("mid6 + 2 * sd6"))
      .withColumn("dn6", expr("mid6 - 2 * sd6"))
      .select(col("ws"), col("base"), col("close"), col("n"),
        col("mid6"), col("sd6"), col("up6"), col("dn6"),
        expr("CAST(CAST(c6 AS DOUBLE) > up6 AS BIGINT)").as("brk_up"),
        expr("CAST(CAST(c6 AS DOUBLE) < dn6 AS BIGINT)").as("brk_dn"))
      .orderedBy("ws", "base")
  }

  private val ohlcBollingerOracle =
    """WITH c AS (
      |  SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS ws,
      |         event_type AS base,
      |         last(value ORDER BY date_trunc('microseconds', ts), value) AS close
      |  FROM events GROUP BY 1, 2),
      |l AS (SELECT ws, base, close,
      |        CAST(round(close * 1000000) AS BIGINT) AS c6 FROM c),
      |w AS (SELECT ws, base, close, c6,
      |        count(*) OVER win AS n,
      |        CAST(sum(c6) OVER win AS BIGINT) AS s1,
      |        sum(CAST(c6 AS DECIMAL(19,0)) * CAST(c6 AS DECIMAL(19,0)))
      |          OVER win AS s2
      |      FROM l WINDOW win AS (PARTITION BY base ORDER BY ws
      |        RANGE BETWEEN 1740 PRECEDING AND CURRENT ROW)),
      |m AS (SELECT ws, base, close, c6, n, s1, s2,
      |        CAST(s1 AS DOUBLE) / n AS mid6 FROM w),
      |s AS (SELECT ws, base, close, c6, n, mid6,
      |        sqrt(greatest(CAST(s2 AS DOUBLE) / n - mid6 * mid6, 0.0)) AS sd6
      |      FROM m),
      |b AS (SELECT ws, base, close, c6, n, mid6, sd6,
      |        mid6 + 2 * sd6 AS up6, mid6 - 2 * sd6 AS dn6 FROM s)
      |SELECT ws, base, close, n, mid6, sd6, up6, dn6,
      |       CAST(CAST(c6 AS DOUBLE) > up6 AS BIGINT) AS brk_up,
      |       CAST(CAST(c6 AS DOUBLE) < dn6 AS BIGINT) AS brk_dn
      |FROM b ORDER BY ws, base""".stripMargin

  private val ohlcDefs: Map[String, QueryDef] = Map(
    // span-10 EMA over the hourly tier: exact integer recursion
    "q_ohlc_ema" -> QueryDef(qOhlcEma, Some(ohlcEmaOracle)),
    // 30-minute Bollinger bands: exact power sums, fixed IEEE tree
    "q_ohlc_bollinger" -> QueryDef(qOhlcBollinger, Some(ohlcBollingerOracle)),
    // MACD(12,26,9): three coupled integer recursions in one fold
    "q_ohlc_macd" -> QueryDef(qOhlcMacd, Some(ohlcMacdOracle)),
    // RSI(14, Wilder): gain/loss dual recursion, basis-point integer RSI
    "q_ohlc_rsi" -> QueryDef(qOhlcRsi, Some(ohlcRsiOracle)),
    // ATR(14, Wilder): true-range recursion over the full hourly bar
    "q_ohlc_atr" -> QueryDef(qOhlcAtr, Some(ohlcAtrOracle)),
    // Heikin-Ashi: per-bar smoothed candle with the recursive open
    "q_ohlc_heikin" -> QueryDef(qOhlcHeikin, Some(ohlcHeikinOracle)),
    // incremental tier maintenance: merge ≡ recompute under the same SQL
    "q_ohlc_tier_incr" -> QueryDef(qOhlcTierIncr, Some(ohlcOracle)),
    "q_ohlc_1m" -> QueryDef(qOhlc1m, Some(ohlcOracle)),
    "q_ohlc_minby" -> QueryDef(qOhlcMinby, Some(ohlcOracle)),
    // the same min_by SOURCE text under the optimizer rewrite — must
    // hash-aggregate (generic plan guard) and hash-match the same oracle
    "q_ohlc_rewrite" -> QueryDef(qOhlcRewrite, Some(ohlcOracle)),
    // the reference's verbatim collect_list formulation under the rewrite
    "q_ohlc_reference" -> QueryDef(qOhlcReference, Some(ohlcOracle)),
    // 18th bridge: the optimizer rewrite under the micro-batch planner
    "q_ohlc_rewrite_streamed" -> QueryDef(qOhlcRewriteStreamed, Some(ohlcOracle)),
    // the streaming engine's answer against the SAME SQL — batch ≡
    // streaming as a driver-oracled property
    "q_ohlc_streamed" -> QueryDef(qOhlcStreamed, Some(ohlcOracle)),
    // 20th bridge: per-window state restored and merged across 4
    // rate-limited micro-batches, still against the identical batch SQL
    "q_ohlc_multibatch" -> QueryDef(qOhlcMultibatch, Some(ohlcOracle)),
    // 21st bridge: UPDATE output mode — per-batch revision emissions
    // captured and folded latest-per-key, against the same batch SQL
    "q_ohlc_update_streamed" -> QueryDef(qOhlcUpdateStreamed, Some(ohlcOracle)),
    // the flatMapGroupsWithState engine against its deterministic
    // emission-bound SQL (ms tie rule, volume deliberately omitted)
    "q_ohlc_stateful" -> QueryDef(qOhlcStateful, Some(ohlcStatefulOracle)),
    // the transformWithState engine (timers close to the GLOBAL watermark)
    "q_ohlc_tws" -> QueryDef(qOhlcTws, Some(ohlcTwsOracle)),
    "q_lastk_streamed" -> QueryDef(qLastKStreamed,
      Some(graft.queries.Stats.lastKOracle)),
    // 39th bridge: engine-managed state TTL — expired keys restart, the
    // sweep retires untouched keys' rows (TtlSpec), fold ≡ the batch SQL
    "q_ttl_streamed" -> QueryDef(qTtlStreamed, Some(ttlOracle)),
    // 42nd bridge: the SAME TTL contract on event-time timers — no wall
    // clock, no sleep; idle keys retire when the watermark passes
    // last_ms+ttl, returning keys restart on a >ttl event-time gap
    "q_ttl_event_streamed" -> QueryDef(qTtlEventStreamed, Some(ttlOracle)),
    "q_ohlc_vwap" -> QueryDef(qOhlcVwap, Some(ohlcVwapOracle)),
    "q_vwap_streamed" -> QueryDef(qOhlcVwapStreamed, Some(ohlcVwapOracle)),
    // 5-minute candles merged from 1-minute PARTIALS (the OHLC monoid);
    // oracle computes 5m directly from raw — partial-merge ≡ direct
    "q_ohlc_rollup" -> QueryDef(qOhlcRollup, Some(ohlcRollupOracle)),
    // the rollup served from the PERSISTED build-once 1m candle tier —
    // same direct-from-raw oracle: persist → read-back → merge ≡ direct
    "q_ohlc_tiered" -> QueryDef(qOhlcTiered, Some(ohlcRollupOracle)),
    // minute-grid forward-fill: synthesized flat candles on empty minutes
    "q_ohlc_gapfill" -> QueryDef(qOhlcGapfill, Some(ohlcGapfillOracle)),
    // top-20 |Δclose| minute moves — the monitor atop the candle tier
    "q_ohlc_moves" -> QueryDef(qOhlcMoves, Some(ohlcMovesOracle)),
    // 30-minute Donchian channel + breakout flags (range-frame window)
    "q_ohlc_donchian" -> QueryDef(qOhlcDonchian, Some(ohlcDonchianOracle))
  )

  val defs: Map[String, QueryDef] =
    ohlcDefs ++ graft.queries.Relational.defs ++ graft.queries.Tpch.defs ++
      graft.queries.Scalar.defs ++
      graft.queries.TimeWindows.defs ++ graft.queries.Advanced.defs ++
      graft.queries.Stats.defs ++
      graft.llm.TextStats.defs ++ graft.llm.Dedup.defs ++
      graft.llm.MlLsh.defs ++ graft.llm.Pipeline.defs ++
      graft.llm.Similarity.defs ++ graft.llm.SimilarityPq.defs ++
      graft.llm.SemDedup.defs ++ graft.llm.Vectorize.defs ++
      graft.llm.Multimodal.defs ++ graft.llm.BpeTrain.defs ++
      graft.llm.Retrieval.defs ++ graft.source.TradeLogQueries.defs
}
