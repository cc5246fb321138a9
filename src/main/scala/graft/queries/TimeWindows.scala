package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Event-time windowing beyond the reference's single tumbling window
  * (SURVEY §2.3 "not present" list): sliding windows and session windows,
  * both as batch queries so DuckDB can oracle them.
  *
  * Scale: both are single hash-aggregations after a map-side expansion
  * (sliding: ×(window/slide) row fan-out; session: gaps-and-islands via one
  * window over (user, ts)) — no shuffles beyond the grouping exchange.
  */
object TimeWindows {

  /** 5-minute windows sliding by 1 minute over events: each row lands in 5
    * windows (map-side fan-out), then one hash agg. */
  def slidingOhlc(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "5 minutes", "1 minute"),
        col("event_type").as("base"))
      .agg(
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        // exact 6dp-decimal sum, one final double cast (decimal-width
        // canonicalization — Spark 30,6 vs DuckDB 38,6)
        sum(col("value").cast("decimal(20,6)")).cast("double").as("volume"),
        count(lit(1)).as("n")
      )
      .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
        col("high"), col("low"), col("volume"), col("n"))
      .orderedBy("ws", "base")

  /** Session windows per user with a 5-minute inactivity gap. Spark's
    * session ends are exclusive (a gap of exactly the timeout starts a new
    * session); the oracle's gaps-and-islands uses `>=` to match. */
  def sessions(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n_events"), col("sum_value"))
      .orderedBy("user_id", "sess_start")

  /** DYNAMIC-GAP sessions — the session_window API surface the static
    * query cannot exercise: each event carries its OWN inactivity gap
    * (purchases hold a session open 10 minutes, everything else 5), and
    * the engine merges overlapping per-event windows. The oracle
    * generalizes gaps-and-islands to a RUNNING MAX of per-event window
    * ends (a fixed-gap lag-diff can't see an earlier long-gap event
    * still holding the session open). Shared body with the streamed twin
    * — the dynamic-gap session-merge state machine answers to the same
    * SQL. */
  def sessionsDynamic(s: SparkSession, d: String): DataFrame =
    dynSessionsFrom(Tables.events(s, d)).orderedBy("user_id", "sess_start")

  private def dynSessionsFrom(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"),
        when(col("event_type") === "purchase", lit("10 minutes"))
          .otherwise(lit("5 minutes"))), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        unix_micros(col("session_window.start")).as("sess_start"),
        unix_micros(col("session_window.end")).as("sess_end"),
        col("n_events"), col("sum_value"))

  /** [[sessionsDynamic]] under the STREAMING engine (34th bridge): the
    * dynamic-gap session-merge path through the session state store,
    * same oracle. */
  def sessionsDynamicStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "session_dyn_streamed_") { cs =>
      dynSessionsFrom(Tables.eventsStream(cs, d))
    }.orderedBy("user_id", "sess_start")

  private lazy val sessionDynOracle: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts, value,
      |         CASE WHEN event_type = 'purchase' THEN INTERVAL 10 MINUTE
      |              ELSE INTERVAL 5 MINUTE END AS gap
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, value, ts + gap AS e_end,
      |         CASE WHEN max(ts + gap) OVER prev IS NULL
      |                OR ts >= max(ts + gap) OVER prev
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW prev AS (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |g AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m)
      |SELECT user_id,
      |       epoch_us(min(ts)) AS sess_start,
      |       epoch_us(max(e_end)) AS sess_end,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin

  /** [[sessions]] executed by the STREAMING engine (file source,
    * AvailableNow, complete mode, memory sink — the qOhlcStreamed bridge)
    * and registered against the IDENTICAL oracle SQL: the streaming
    * session-merge state machine (MergingSessionsExec / session state
    * store) answers to the batch gaps-and-islands SQL on every round. */
  def sessionsStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "session_streamed_") { cs =>
      Tables.eventsStream(cs, d)
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_value"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start"),
          unix_micros(col("session_window.end")).as("sess_end"),
          col("n_events"), col("sum_value"))
    }.orderedBy("user_id", "sess_start")

  /** [[slidingOhlc]] executed by the STREAMING engine (file source,
    * AvailableNow, complete mode, memory sink) against the identical
    * oracle SQL — the sliding-window fan-out (each row in window/slide
    * panes) through the streaming aggregation path, completing the
    * windowed-agg bridge family (tumbling: q_ohlc_streamed, session:
    * q_session_streamed). */
  def slidingStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "sliding_streamed_") { cs =>
      Tables.eventsStream(cs, d)
        .groupBy(window(col("ts"), "5 minutes", "1 minute"),
          col("event_type").as("base"))
        .agg(
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("volume"),
          count(lit(1)).as("n")
        )
        .select(unix_timestamp(col("window.start")).as("ws"), col("base"),
          col("high"), col("low"), col("volume"), col("n"))
    }.orderedBy("ws", "base")

  /** Stream-stream INTERVAL JOIN under the batch oracle (the 5th — and
    * most failure-prone — streaming bridge): clicks and purchases are two
    * independent streaming readers of the same events data, both
    * watermarked, inner-joined per user with purchase time in
    * [click, click + 10 min]. Append mode + AvailableNow over finite
    * input: every matching pair emits in the batch both sides arrive in
    * (inner-join emission is match-driven; the watermarks only bound join
    * STATE), so the sink holds exactly the batch join — the SQL a
    * [[graft.queries.Relational]] range join would use. 100 TB shape:
    * both sides shuffle on user_id once and state is watermark-bounded to
    * (rate × 10 min + delay) per side — never the stream's history. */
  def joinStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamAppend(s, "join_streamed_") { cs =>
      val c = Tables.eventsStream(cs, d)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 minute")
      val p = Tables.eventsStream(cs, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 minute")
      c.join(p,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("click_id"), col("p_id"))
    }.orderedBy("click_id", "p_id")

  /** LEFT-OUTER stream-stream interval join — the watermark-EVICTION
    * bridge [[joinStreamed]] cannot exercise: an unmatched click emits
    * its NULL-extended row only when the GLOBAL watermark passes the
    * click's last possible match time (c_ts + 10 min), i.e. the state
    * store's expiry machinery itself produces output rows. Finite input
    * makes that flush unreachable for late clicks — the final watermark
    * sits only 1 min past the last event — so the staged layout appends
    * two SENTINEL files (negative user ids, hours past the corpus end,
    * delivered LAST by forced mtime): the first pushes BOTH sides'
    * watermarks beyond every real click's expiry, the second forces the
    * one further micro-batch in which the engine evicts against that
    * advanced watermark and emits the stragglers (AvailableNow runs no
    * trailing no-data batch — measured). The 3 real files are ts-RANGE
    * contiguous and delivered in range order (mtime-forced), so no row
    * is ever late against the advancing watermark — matched pairs that
    * SPAN files prove the buffered-state path. Sentinels are filtered
    * from the output; the oracle is the plain batch LEFT JOIN.
    * 100 TB shape: identical to [[joinStreamed]] — both sides shuffle
    * once on user_id, state bounded by rate × (10 min + delay). */
  def joinOuterStreamed(s: SparkSession, d: String): DataFrame = {
    val (tmp, schema) = stagedEventsSentinel(s, d)
    // 4 shuffle partitions: the outer join instantiates 4 state store
    // instances per partition per side per micro-batch (setup cost), but
    // each batch also pushes ~1/5 of the corpus through the join state —
    // measured r18: 2 partitions cost MORE at sf0.1 (13.3 s median vs
    // 7.7 s — per-batch processing is parallelism-bound, not
    // setup-bound), so 4 is the balance point; production sizing is
    // rate-based
    Tables.runStreamAppend(s, "join_outer_streamed_",
      Map("spark.sql.shuffle.partitions" -> "4")) { cs =>
      def src = cs.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val c = src.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 minute")
      val p = src.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 minute")
      c.join(p,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
        "left_outer")
        .select(col("click_id"), col("c_user"), col("p_id"))
      // the sentinel filter is applied BATCH-side below, never here: a
      // filter on the left join key inside the streaming plan gets pushed
      // beneath the EventTimeWatermark node, the sentinel click then
      // never advances the click-side watermark, and the last real
      // click's NULL row is never flushed (measured: exactly one row
      // short at sf0.001)
    }.filter(col("c_user") >= 0)
      .select(col("click_id"), col("p_id"))
      .orderedBy("click_id", "p_id")
  }

  private val joinOuterStreamedOracle: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id,
      |         date_trunc('microseconds', ts) AS c_ts
      |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL),
      |p AS (
      |  SELECT event_id AS p_id, user_id,
      |         date_trunc('microseconds', ts) AS p_ts
      |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL)
      |SELECT click_id, p_id
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTE
      |ORDER BY click_id, p_id""".stripMargin

  /** The [[joinOuterStreamed]] staging: events split into 3 contiguous
    * ts ranges (repartitionByRange — partition k's file holds range k)
    * plus the 2-row sentinel file, with mtimes FORCED ascending in range
    * order so the file source's oldest-first pick delivers ranges in
    * time order and the sentinel strictly last (parallel-written parts
    * share an mtime, so natural ordering would race). Build-once:
    * [[Tables.stageOnce]] — the layout is only published after BOTH
    * parquet writes and the mtime ladder. */
  private def stagedEventsSentinel(s: SparkSession, d: String)
      : (String, org.apache.spark.sql.types.StructType) = {
    val ev = Tables.events(s, d).filter(col("ts").isNotNull)
    // v3: 3 range files, not 4 (r18 adjudication — the 6-batch harness
    // cost 7.7 s calm; one fewer micro-batch keeps every semantic the
    // bridge exists for: matched pairs still span files, eviction still
    // needs the sentinel pair). v2 grew the second sentinel batch. v4:
    // published by rename (a v3 build that crashed after its first write
    // holds a _SUCCESS and must not be adopted).
    val tmp = Tables.stageOnce(s, "join_outer_v4", d, "events") { staging =>
      val root = new org.apache.hadoop.fs.Path(staging)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      ev.repartitionByRange(3, col("ts"))
        .write.mode("overwrite").parquet(staging)
      // range files FIRST-WRITE only: part-0000k's k is the ascending
      // range id (RangePartitioner assigns ranges in partition order)
      val ranged = fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      require(ranged.length == 3, s"expected 3 range files: ${ranged.length}")
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
      val hourMs = 3600L * 1000L
      // TWO sentinel batches: S1 advances both watermarks past every real
      // click's expiry; S2 forces one MORE micro-batch, because state
      // eviction applies the watermark computed at the PREVIOUS batch's
      // end — measured: without S2 the engine terminates after S1 with
      // the last click still buffered (no trailing no-data batch runs
      // under AvailableNow), losing exactly one NULL row.
      def writeSentinel(tag: Long): org.apache.hadoop.fs.Path = {
        val before = fs.listStatus(root).map(_.getPath)
          .filter(_.getName.startsWith("part-")).toSet
        val rows = Seq(
          (-2 * tag - 1, new java.sql.Timestamp(
            maxTs.getTime + (2 * tag + 1) * hourMs), -2 * tag - 1,
            "click", 0.0, null: String),
          (-2 * tag - 2, new java.sql.Timestamp(
            maxTs.getTime + (2 * tag + 2) * hourMs), -2 * tag - 2,
            "purchase", 0.0, null: String))
        s.createDataFrame(rows)
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("append").parquet(staging)
        val added = fs.listStatus(root).map(_.getPath)
          .filter(_.getName.startsWith("part-")).filterNot(before.contains)
        require(added.length == 1,
          s"expected exactly one sentinel file: ${added.length}")
        added.head
      }
      val s1 = writeSentinel(0L)
      val s2 = writeSentinel(1L)
      val base = System.currentTimeMillis()
      ranged.zipWithIndex.foreach { case (p, i) =>
        fs.setTimes(p, base + i * 1000L, -1L)
      }
      fs.setTimes(s1, base + 600000L, -1L)
      fs.setTimes(s2, base + 1200000L, -1L)
    }
    (tmp, ev.schema)
  }

  /** Stream-static ENRICHMENT bridge — [[graft.stream.Enrich
    * .streamStaticJoin]] under the DuckDB oracle: the streaming events
    * fact joins the broadcast nation dim (user → geo via a deterministic
    * key derivation) inside the micro-batch engine, then aggregates per
    * dim attribute in complete mode (25-row state). Each micro-batch
    * joins MAP-SIDE against the re-evaluated static plan — no stateful
    * join state, the stream never shuffles for the join itself. The
    * oracle is the plain batch join+agg SQL, so batch ≡ streaming holds
    * for the tenth bridge: the last §2.3 extension operator outside the
    * driver gate. */
  def enrichStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "enrich_streamed_") { cs =>
      val ev = Tables.eventsStream(cs, d)
        .select(pmod(col("user_id"), lit(25)).as("nk"), col("value"))
      val dim = Tables.nation(cs, d)
        .select(col("n_nationkey").as("nk"), col("n_name"))
      graft.stream.Enrich.streamStaticJoin(ev, dim, "nk")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(20,6)")).cast("double").as("sum_val"))
    }.orderedBy("n_name")

  private val enrichStreamedOracle: String =
    """SELECT n_name, count(*) AS cnt,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_val
      |FROM events JOIN nation ON user_id % 25 = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  private val joinStreamedOracle: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id,
      |         date_trunc('microseconds', ts) AS c_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT event_id AS p_id, user_id,
      |         date_trunc('microseconds', ts) AS p_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT click_id, p_id
      |FROM c JOIN p USING (user_id)
      |WHERE p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTE
      |ORDER BY click_id, p_id""".stripMargin

  private val slidingOracle: String =
    """SELECT CAST(epoch(date_trunc('minute', ts) - b.b * INTERVAL 1 MINUTE) AS BIGINT) AS ws,
      |       event_type AS base,
      |       max(value) AS high, min(value) AS low,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS volume,
      |       count(*) AS n
      |FROM events, range(0, 5) b(b)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    // the streaming join state machine against plain batch-join SQL —
    // batch ≡ streaming as a driver-oracled property
    "q_join_streamed" -> QueryDef(joinStreamed, Some(joinStreamedOracle)),
    // watermark-EVICTION emission: unmatched clicks flush as NULL rows
    // when the sentinel-pushed watermark passes their match horizon
    "q_join_outer_streamed" -> QueryDef(joinOuterStreamed,
      Some(joinOuterStreamedOracle)),
    "q_enrich_streamed" -> QueryDef(enrichStreamed, Some(enrichStreamedOracle)),
    "q_win_sliding" -> QueryDef(slidingOhlc, Some(slidingOracle)),
    // the streaming sliding-window fan-out against the SAME SQL
    "q_sliding_streamed" -> QueryDef(slidingStreamed, Some(slidingOracle)),
    "q_win_session" -> QueryDef(sessions, Some(sessionOracle)),
    // per-event dynamic inactivity gap; running-max gaps-and-islands oracle
    "q_win_session_dyn" -> QueryDef(sessionsDynamic, Some(sessionDynOracle)),
    // 34th bridge: the dynamic-gap session merge under the state store
    "q_session_dyn_streamed" -> QueryDef(sessionsDynamicStreamed,
      Some(sessionDynOracle)),
    // the streaming session-merge engine against the SAME gaps-and-islands
    // SQL — batch ≡ streaming as a driver-oracled property (see
    // q_ohlc_streamed for the tumbling-window twin)
    "q_session_streamed" -> QueryDef(sessionsStreamed, Some(sessionOracle))
  )

  private lazy val sessionOracle: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('microseconds', ts) AS ts, value
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m)
      |SELECT user_id,
      |       epoch_us(min(ts)) AS sess_start,
      |       epoch_us(max(ts)) + 300000000 AS sess_end,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin
}
