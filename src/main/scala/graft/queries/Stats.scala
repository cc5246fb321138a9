package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{OracleSql, QueryDef, Tables}
import graft.core.QueryDef.OrderedOut

/** Statistical aggregates and sketch-style summaries.
  *
  * The scale thesis of this module: every operator is a SINGLE-PASS
  * hash-aggregation whose state is a fixed-width vector of exact integer
  * power sums (moments) or bounded bin counts — partial-aggregatable
  * map-side, merge-associative, O(1) per group regardless of input size.
  * That is the shape that survives 100 TB: an exact `percentile_cont`
  * sorts every group (`q_percentile` exists as the exact twin); the
  * histogram sketch here answers the same question with bounded memory.
  *
  * Cross-engine determinism (the catalog's oracle discipline): float
  * inputs are 2dp-exact money/quantity columns, so they lift to exact
  * integers (×100) whose power sums are exact in both engines (BIGINT →
  * HUGEINT/DECIMAL as needed). Final statistics are then a FIXED tree of
  * IEEE double ops on identical inputs — identical bits in both engines —
  * expressed once in [[momentFormulas]] and spliced verbatim into BOTH the
  * Spark projection and the DuckDB oracle. Spark's builtin
  * stddev/skewness/kurtosis/corr use streaming (Welford-style) merges
  * whose float result depends on partition boundaries — correct
  * distributed design, but un-oracle-able; StatsSpec cross-checks the
  * moment formulas against the builtins to ~1e-8 relative.
  */
object Stats {

  /** The moment→statistic formulas, shared verbatim by Spark and DuckDB.
    * Inputs: n (rows), m1..m4 (double moments of q = 100·quantity),
    * p1, p2 (moments of p = 100·price), mxy (mean of q·p). Scale factors:
    * mean/variance/covariance divide the 100s back out; skewness,
    * kurtosis, and corr are scale-invariant so the factors cancel —
    * IDENTICALLY in both engines, because both evaluate this exact op
    * tree. sqrt is IEEE-correctly-rounded (no pow(x, 1.5), which may
    * differ in the last ulp cross-engine). */
  private val momentFormulas: Seq[(String, String)] = Seq(
    // no bare `1.0 *` promotions: a 1.0 literal is DOUBLE in Spark but
    // DECIMAL(2,1) in DuckDB, which would silently switch the arithmetic
    // family — every promotion is an explicit CAST AS DOUBLE on both sides
    "mean_qty" -> "round(m1 / 100, 6)",
    "var_samp_qty" -> "round((m2 - m1 * m1) * (CAST(n AS DOUBLE) / (n - 1)) / 10000, 6)",
    "std_samp_qty" -> "round(sqrt((m2 - m1 * m1) * (CAST(n AS DOUBLE) / (n - 1))) / 100, 6)",
    "skew_qty" ->
      "round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / ((m2 - m1 * m1) * sqrt(m2 - m1 * m1)), 6)",
    "kurt_qty" ->
      "round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3, 6)",
    "covar_pop" -> "round((mxy - m1 * p1) / 10000, 6)",
    "covar_samp" -> "round((mxy - m1 * p1) * (CAST(n AS DOUBLE) / (n - 1)) / 10000, 6)",
    "corr_qp" -> "round((mxy - m1 * p1) / (sqrt(m2 - m1 * m1) * sqrt(p2 - p1 * p1)), 6)"
  )

  /** Moment-sketch statistical battery per return flag: mean, sample
    * variance/stddev, skewness, excess kurtosis of quantity; population and
    * sample covariance and correlation of (quantity, price). One hash agg
    * over 8 exact integer power sums; q⁴ and p² sums exceed BIGINT at
    * scale, so those lift to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB sum
    * of BIGINT) — still exact. */
  def aggStats(s: SparkSession, d: String): DataFrame = {
    val qp = Tables.lineitem(s, d).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("p"))
    val sums = qp.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("s1"),
      sum(col("q") * col("q")).as("s2"),
      // per-row products fit BIGINT (q³ ≤ 1.25e11, q⁴ ≤ 6.25e14,
      // q·p ≤ 5e11) but their SUMs overflow it within a group around
      // ~7e7 rows (≈ sf50) — non-ANSI Spark would wrap silently while
      // the DuckDB oracle sums to HUGEINT, a silent cross-engine
      // divergence at scale. Sum exact decimals for every power ≥ 3
      // and for the cross term; s1/s2 stay BIGINT (exact past sf10⁶).
      sum((col("q") * col("q") * col("q")).cast("decimal(28,0)")).as("s3"),
      sum((col("q") * col("q") * col("q") * col("q")).cast("decimal(30,0)")).as("s4"),
      sum(col("p")).as("t1"),
      sum((col("p") * col("p")).cast("decimal(28,0)")).as("t2"),
      sum((col("q") * col("p")).cast("decimal(30,0)")).as("sxy"))
    val moments = sums.select(
      col("l_returnflag"), col("n"),
      expr("CAST(s1 AS DOUBLE) / n").as("m1"), expr("CAST(s2 AS DOUBLE) / n").as("m2"),
      expr("CAST(s3 AS DOUBLE) / n").as("m3"), expr("CAST(s4 AS DOUBLE) / n").as("m4"),
      expr("CAST(t1 AS DOUBLE) / n").as("p1"), expr("CAST(t2 AS DOUBLE) / n").as("p2"),
      expr("CAST(sxy AS DOUBLE) / n").as("mxy"))
    moments.select(col("l_returnflag") +: col("n") +:
        momentFormulas.map { case (name, f) => expr(f).as(name) }: _*)
      .orderedBy("l_returnflag")
  }

  private def aggStatsOracle: String = {
    val stats = momentFormulas.map { case (name, f) => s"$f AS $name" }
      .mkString(",\n       ")
    s"""WITH qp AS (
       |  SELECT l_returnflag,
       |         CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
       |  FROM lineitem),
       |sums AS (
       |  SELECT l_returnflag, count(*) AS n,
       |         sum(q) AS s1, sum(q * q) AS s2,
       |         sum(CAST(q * q * q AS DECIMAL(28,0))) AS s3,
       |         sum(CAST(q * q * q * q AS DECIMAL(30,0))) AS s4,
       |         sum(p) AS t1, sum(CAST(p * p AS DECIMAL(28,0))) AS t2,
       |         sum(CAST(q * p AS DECIMAL(30,0))) AS sxy
       |  FROM qp GROUP BY l_returnflag),
       |m AS (
       |  SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       |         CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
       |         CAST(s3 AS DOUBLE) / n AS m3, CAST(s4 AS DOUBLE) / n AS m4,
       |         CAST(t1 AS DOUBLE) / n AS p1, CAST(t2 AS DOUBLE) / n AS p2,
       |         CAST(sxy AS DOUBLE) / n AS mxy
       |  FROM sums)
       |SELECT l_returnflag, n,
       |       $stats
       |FROM m ORDER BY l_returnflag""".stripMargin
  }

  /** Histogram-sketch quantiles: per return flag, bucket quantity into
    * unit-wide integer bins (bounded state: one count per occupied bin),
    * then read p50/p90 off the cumulative counts. The sketch twin of the
    * exact `q_percentile` (which must sort each group): a bin count vector
    * merges associatively, so this is one hash agg + one tiny window over
    * (flag, bin) — at 100 TB the bins per group stay O(value range), not
    * O(rows). Estimates are the lower edge of the covering bin —
    * deterministic integer logic end-to-end. */
  def quantileHist(s: SparkSession, d: String): DataFrame = {
    val binned = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        (round(col("l_quantity") * 100).cast("long") / lit(100L)).cast("long").as("bin"))
      .groupBy(col("l_returnflag"), col("bin")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_returnflag").orderBy("bin")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
    binned
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("n")).as("n"),
        min(when(col("cum") >= ceil(col("n") * 0.5), col("bin"))).as("p50_bin"),
        min(when(col("cum") >= ceil(col("n") * 0.9), col("bin"))).as("p90_bin"))
      .orderedBy("l_returnflag")
  }

  private def quantileHistOracle: String =
    """WITH b AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity * 100) AS BIGINT) // 100 AS bin,
      |         count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |cw AS (
      |  SELECT l_returnflag, bin, c,
      |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
      |         sum(c) OVER (PARTITION BY l_returnflag) AS n
      |  FROM b)
      |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
      |       min(CASE WHEN cum >= ceil(n * 0.5) THEN bin END) AS p50_bin,
      |       min(CASE WHEN cum >= ceil(n * 0.9) THEN bin END) AS p90_bin
      |FROM cw GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Mergeable quantile sketch over the CENT-exact quantity (unbounded-
    * domain twin of [[quantileHist]], VERDICT r11 item 4): the
    * `quantile_sketch` TypedImperativeAggregate keeps an exact count plus
    * the k smallest (hash-priority, value) pairs per group — O(k) state,
    * order-independent, merge-associative — and emits nearest-rank
    * p50/p90 of the kept sample. Unlike the histogram sketch this needs
    * NO bounded integer domain: state is O(k) whatever the value range.
    * The hash-priority discipline (vs KLL's order-dependent compaction)
    * is what lets the DuckDB oracle replay the sketch row-for-row; the
    * price — rank error O(1/√k) — is pinned by StatsSpec's containment
    * window against the exact percentile. */
  def quantileSketch(s: SparkSession, d: String, k: Int = 256,
                     seed: Int = 7): DataFrame =
    sketchAgg(Tables.lineitem(s, d), k, seed).orderedBy("l_returnflag")

  /** The sketch aggregation body shared by the batch query and its
    * streaming bridge twin. */
  private def sketchAgg(lineitem: DataFrame, k: Int, seed: Int): DataFrame =
    lineitem
      .select(col("l_returnflag"),
        conv(substring(md5(concat_ws("#", lit(seed), col("l_orderkey"),
          col("l_linenumber"))), 1, 8), 16, 10).cast("long").as("pri"),
        round(col("l_quantity") * 100).cast("long").as("q100"))
      .groupBy(col("l_returnflag"))
      .agg(expr(s"quantile_sketch(pri, q100, $k)").as("sk"))
      .select(col("l_returnflag"), col("sk.n").as("n"),
        col("sk.kept").as("kept"), col("sk.p50").as("p50_q100"),
        col("sk.p90").as("p90_q100"))

  /** [[quantileSketch]] executed by the STREAMING engine (15th
    * batch≡streaming bridge): the custom TypedImperativeAggregate's
    * partial/merge/serialize path runs under the micro-batch planner and
    * the StateStore (complete mode persists the serialized O(k) sketch
    * buffer per group between batches) and must still hash-match the
    * row-for-row DuckDB replay — the same oracle as the batch twin. This
    * is the continuous-telemetry shape: per-key quantile state bounded at
    * O(k) however long the stream runs. */
  def quantileSketchStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamComplete(s, "sketch_streamed_") { cs =>
      sketchAgg(Tables.lineitemStream(cs, d), 256, 7)
    }.orderedBy("l_returnflag")

  /** Replays the sketch exactly: kept = bottom-k by (pri, value), the
    * estimate = the ceil(q·m)-th smallest kept value (rv is unique, so
    * `min(val | rv ≥ ceil(q·m))` IS that element; value ties collapse to
    * the same selected VALUE on both engines). */
  private def quantileSketchOracle(k: Int, seed: Int): String = {
    val hv = OracleSql.hexPrefixToLong("h")
    s"""WITH p AS (
       |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS q100,
       |         substr(md5('$seed' || '#' || CAST(l_orderkey AS VARCHAR) || '#' ||
       |                    CAST(l_linenumber AS VARCHAR)), 1, 8) AS h
       |  FROM lineitem),
       |pv AS (SELECT l_returnflag, q100, $hv AS pri FROM p),
       |tot AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n
       |        FROM pv GROUP BY 1),
       |r AS (SELECT l_returnflag, q100,
       |             row_number() OVER (PARTITION BY l_returnflag
       |               ORDER BY pri, q100) AS rn
       |      FROM pv),
       |kr AS (SELECT l_returnflag, q100,
       |              row_number() OVER (PARTITION BY l_returnflag
       |                ORDER BY q100) AS rv,
       |              count(*) OVER (PARTITION BY l_returnflag) AS m
       |       FROM r WHERE rn <= $k)
       |SELECT kr.l_returnflag, max(t.n) AS n, CAST(max(kr.m) AS BIGINT) AS kept,
       |       min(CASE WHEN rv >= ceil(0.5 * m) THEN q100 END) AS p50_q100,
       |       min(CASE WHEN rv >= ceil(0.9 * m) THEN q100 END) AS p90_q100
       |FROM kr JOIN tot t USING (l_returnflag)
       |GROUP BY kr.l_returnflag ORDER BY kr.l_returnflag""".stripMargin
  }

  /** Gaps-and-islands sessionization over the events stream (batch form):
    * a session breaks after `gapMin` minutes of user inactivity. Session
    * ids are the running count of breaks per user — lag → flag → running
    * sum → per-session agg, ALL on the one user_id exchange (the two
    * window passes and the final groupBy share the partitioning, so
    * Catalyst plans a single shuffle). The portable formulation of
    * `q_win_session`'s session_window (same semantics, `>` vs `>=` gap
    * boundary aside) — at 100 TB this is one shuffle of (user_id, ts)
    * pairs, no state store. Tie-safe: equal timestamps give gap 0 for
    * every intra-tie order, so session ids don't depend on tie-breaks. */
  def sessionize(s: SparkSession, d: String, gapMin: Int = 5): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMin * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderedBy("user_id", "session_id")
  }

  private def sessionizeOracle(gapMin: Int): String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts,
       |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |  FROM events),
       |f AS (
       |  SELECT user_id, event_id, ts,
       |         CASE WHEN prev_ts IS NULL
       |                OR epoch_us(ts) - epoch_us(prev_ts) > $gapMin * 60 * 1000000
       |              THEN 1 ELSE 0 END AS brk
       |  FROM e),
       |sid AS (
       |  SELECT user_id, ts,
       |         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
       |  FROM f)
       |SELECT user_id, session_id, count(*) AS n_events,
       |       min(epoch_us(ts)) AS start_us,
       |       max(epoch_us(ts)) AS end_us,
       |       max(epoch_us(ts)) - min(epoch_us(ts)) AS dur_us
       |FROM sid GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Latest-observation compaction: one row per (user_id, event_type) —
    * the newest value by the lexicographic (ts, value) order — via the
    * custom `last_by_ordered` DeclarativeAggregate (the OHLC close
    * aggregate in its second natural habitat). This is the CDC/snapshot
    * shape: at 100 TB the window-function formulation (`row_number` DESC
    * = 1) SORTS every key group; the ordered aggregate is one
    * HashAggregate with an 17-byte buffer, map-side partials, whole-stage
    * codegen — no sort anywhere. The oracle replays the tie rule with
    * exactly that window formulation. */
  def latestByKey(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(expr("last_by_ordered(us, value)").as("last_value"),
        max(col("us")).as("last_us"),
        count(lit(1)).as("n"))
      .orderedBy("user_id", "event_type")

  private def latestByKeyOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, value,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |           ORDER BY us DESC, value DESC) AS rn
      |  FROM events),
      |a AS (SELECT user_id, event_type, count(*) AS n, max(us) AS last_us
      |      FROM e GROUP BY user_id, event_type)
      |SELECT a.user_id, a.event_type, e.value AS last_value, a.last_us, a.n
      |FROM a JOIN e ON e.user_id = a.user_id AND e.event_type = a.event_type
      |              AND e.rn = 1
      |ORDER BY a.user_id, a.event_type""".stripMargin

  /** Per-user LAST-K events (the recent-activity tail): the batch twin of
    * the ListState streaming buffer ([[graft.stream.TwsLastK]]) — one
    * window rank per user, top-3 kept. WindowGroupLimit prunes to ≤3
    * rows/user map-side before the exchange (the q_join_lateral shape).
    * (ts_us, event_id) is unique per user, so the rank never ties. */
  def lastKBatch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ep_us").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ep_us"),
        col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("ep_us"), col("value"))
      .orderedBy("user_id", "rn")
  }

  /** Shared by the batch twin and the ListState streaming bridge — the
    * bridge rule: one oracle adjudicates both engines. */
  private[graft] val lastKOracle =
    """SELECT user_id, rn, ep_us, value FROM (
      |  SELECT user_id,
      |         CAST(row_number() OVER (PARTITION BY user_id
      |           ORDER BY ts DESC, event_id DESC) AS BIGINT) AS rn,
      |         epoch_us(ts) AS ep_us, value
      |  FROM events)
      |WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin

  /** Snapshot reconciliation — the incremental-ingestion diff (what
    * changed between two corpus crawls): FULL OUTER join of old vs new on
    * the stable key, rows classified added / removed / changed / unchanged
    * by comparing content hashes, so re-processing (tokenize, dedup,
    * embed) touches only the added+changed slice. The "new" snapshot is
    * derived deterministically from the same table (docs ≡0 mod 23
    * removed, ≡0 mod 7 re-edited via upper(), ≡0 mod 11 cloned as
    * additions under doc_id+1000000) — the derivation is the fixture, the
    * OPERATOR is the outer-join-and-classify, which is what replays in the
    * oracle.
    *
    * 100 TB shape: both sides shuffle once on the key; only (key, md5)
    * pairs cross the exchange — document bodies stay in their scan until
    * the classification verdict says they're needed. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val old = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h_old"))
    val kept = docs.filter(col("doc_id") % 23 =!= 0)
    val newSnap = kept.select(col("doc_id"),
        md5(when(col("doc_id") % 7 === 0, upper(col("text")))
          .otherwise(col("text")).cast("binary")).as("h_new"))
      .unionByName(kept.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(col("text").cast("binary")).as("h_new")))
    old.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") === col("h_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col("doc_id"), col("status"))
      .orderedBy("doc_id")
  }

  private def snapshotDiffOracle: String =
    """WITH old AS (SELECT doc_id, md5(text) AS h_old FROM documents),
      |kept AS (SELECT * FROM documents WHERE doc_id % 23 <> 0),
      |new_snap AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS h_new
      |  FROM kept
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h_new
      |  FROM kept WHERE doc_id % 11 = 0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN h_old = h_new THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM old o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  /** CDC UPSERT APPLY — the MERGE INTO core every lakehouse table format
    * implements: a keyed SNAPSHOT (latest state per user from the base
    * slice) merged with a CHANGE STREAM (the remaining slice, op = D on
    * every 7th event id, else U; unkeyed target rows become inserts),
    * LAST CHANGE PER KEY WINS in LOG-SEQUENCE order (event_id — the
    * LSN/commit-sequence every real CDC feed orders by; a wall-clock
    * order would need a tiebreak struct, which forces SortAggregate).
    * Both sides fold to one row per key with a hash max_by on the
    * atomic sequence column (partial+final HashAggregate, no sort),
    * then ONE key-partitioned full-outer join applies the verdict: D
    * drops the row, U overwrites or inserts, untouched keys pass
    * through — each output row tagged kept/updated/inserted.
    * 100 TB shape: the snapshot never moves except one shuffle on its
    * own key; the change stream folds to ≤ |keys| rows map-side before
    * the join; at production scale the folded change set is typically
    * broadcast-sized and AQE picks BHJ — nothing corpus-wide, no sort. */
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    cdcVerdict(cdcSnapshot(ev),
      cdcFoldBatch(ev.filter(pmod(col("event_id"), lit(5)) >= 3)))
      .orderedBy("user_id")
  }

  /** The keyed base state: latest value per user from the base slice. */
  private def cdcSnapshot(ev: DataFrame): DataFrame =
    ev.filter(pmod(col("event_id"), lit(5)) < 3)
      .groupBy(col("user_id"))
      .agg(expr("max_by(value, event_id)").as("snap_value"))

  /** One batch of changes folded to last-change-per-key — the CDC fold
    * MONOID: (last_seq via max, its value via max_by on the same atomic
    * sequence), exact and associative, so per-batch folds merge into the
    * identical table a single pass builds. */
  private def cdcFoldBatch(changes: DataFrame): DataFrame =
    changes.groupBy(col("user_id"))
      .agg(max(col("event_id")).as("last_seq"),
        expr("max_by(value, event_id)").as("chg_value"))

  /** Merge two folded change tables: larger sequence wins per key (ties
    * impossible — sequence ids are unique). */
  private def cdcFoldMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("user_id"))
      .agg(max(col("last_seq")).as("last_seq"),
        expr("max_by(chg_value, last_seq)").as("chg_value"))

  /** Apply the folded change table to the snapshot: D drops, U updates
    * or inserts, untouched keys pass through tagged. */
  private def cdcVerdict(snap: DataFrame, folded: DataFrame): DataFrame =
    snap.join(
      folded.select(col("user_id"),
        when(pmod(col("last_seq"), lit(7)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("chg_value")),
      Seq("user_id"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("user_id"),
        coalesce(col("chg_value"), col("snap_value")).as("value"),
        when(col("op").isNull, lit("kept"))
          .when(col("snap_value").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("src"))

  /** [[cdcApply]] MAINTAINED BY THE STREAMING ENGINE (the 33rd bridge —
    * continuous MERGE materialization, the lakehouse "apply CDC feed to
    * a table" loop): the change stream arrives across 4 rate-limited
    * micro-batches and a driver-held fold maintains the
    * last-change-per-key table by the [[cdcFoldBatch]] monoid — each
    * batch folds map-side to ≤ |keys| rows, then merges with the running
    * state by the same exact argmax, so the folded table is
    * row-identical to the single-pass fold and the IDENTICAL
    * [[cdcApplyOracle]] adjudicates the final apply against the static
    * snapshot. State is keys-sized; the corpus never re-scans. */
  def cdcStreamed(s: SparkSession, d: String): DataFrame =
    cdcStreamedStats(s, d)._1

  /** [[cdcStreamed]] plus the delivered micro-batch count, so the spec
    * can pin that the fold genuinely spanned >1 batch. */
  private[queries] def cdcStreamedStats(s: SparkSession, d: String)
      : (DataFrame, Int) = {
    val ev = Tables.events(s, d)
    // build-once staged layout (r20 opt, Tables.stageOnce rationale)
    val tmp = Tables.stageOnce(s, "cdc_str3", d, "events") { p =>
      ev.filter(pmod(col("event_id"), lit(5)) >= 3)
        .repartition(3).write.mode("overwrite").parquet(p)
    }
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val batches = Tables.runStreamFold(s, "cdc_streamed_") { cs =>
      cs.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
    } { (_, batch, _) =>
      val bFold = cdcFoldBatch(batch)
      val prev = state.get()
      state.set((if (prev == null) bFold else cdcFoldMerge(prev, bFold))
        .localCheckpoint(true))
    }
    (cdcVerdict(cdcSnapshot(ev), state.get()).orderedBy("user_id"), batches)
  }

  /** [[cdcStreamed]] composed with the TRANSACTIONAL SINK (40th bridge —
    * the full production CDC loop: change feed → streaming MERGE fold →
    * epoch-committed materialization → serve): the change stream folds
    * to last-change-per-key INSIDE the streaming engine (update-mode
    * aggregation, the state store holding one (last_seq, value) row per
    * key) and each epoch APPENDS its changed-key emissions to the
    * graft-tradelog sink via update-as-append (the Kafka-sink contract;
    * one atomic manifest rename per epoch, replayed epochs dropped —
    * TradeLogSpec pins the dedup on this exact upsert shape). The
    * committed log is the upsert FEED: per-user emissions carry strictly
    * increasing last_seq (update mode re-emits a key only when its argmax
    * state changed), so the batch read-back folds last-write-per-key by
    * the same exact argmax and the final apply against the static
    * snapshot must hash-match [[cdcApplyOracle]] — the IDENTICAL oracle
    * as q_cdc_apply and q_cdc_streamed, now adjudicating engine-held
    * fold state AND the exactly-once sink in one gate. 100 TB shape:
    * sink traffic is changed-keys-per-epoch (not corpus), the fold state
    * is keys-sized, the read-back fold is one hash agg over the compact
    * change log. */
  def cdcSinkStreamed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // build-once staged layout (r20 opt, Tables.stageOnce rationale);
    // only the SINK dir below must stay fresh per run
    val stage = Tables.stageOnce(s, "cdc_sink_src3", d, "events") { p =>
      ev.filter(pmod(col("event_id"), lit(5)) >= 3)
        .repartition(3).write.mode("overwrite").parquet(p)
    }
    // fresh sink dir per run: the sink's epoch guard would (correctly)
    // treat a rerun from a fresh checkpoint as a replay and drop epoch 0
    val sinkDir = Tables.stageDir(s,
      s"cdc_sink_out_${java.util.UUID.randomUUID().toString.take(8)}")
    val cs = s.newSession()
    cs.conf.set("spark.sql.shuffle.partitions", "8")
    val folded = cs.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("event_id"),
        expr("max_by(value, event_id)").as("value"))
      .select(col("event_id"), lit(null).cast("timestamp").as("ts"),
        col("user_id"), lit("chg").as("event_type"), col("value"),
        lit(null).cast("string").as("props"))
    val q = folded.writeStream.format("graft-tradelog")
      .option("checkpointLocation", s"$sinkDir/_ckpt")
      .option("blockRows", 256)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$sinkDir/log")
    q.awaitTermination()
    val chg = s.read.format("graft-tradelog").load(s"$sinkDir/log")
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("last_seq"),
        expr("max_by(value, event_id)").as("chg_value"))
    val out = cdcVerdict(cdcSnapshot(ev), chg)
      .orderedBy("user_id").localCheckpoint(true)
    val (fs, root) = graft.source.TradeLogFormat.fs(sinkDir)
    fs.delete(root, true)
    out
  }

  private def cdcApplyOracle: String =
    """WITH snap AS (
      |  SELECT user_id, value AS snap_value FROM (
      |    SELECT user_id, value,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_id % 5 < 3)
      |  WHERE rn = 1),
      |chg AS (
      |  SELECT user_id, op, value AS chg_value FROM (
      |    SELECT user_id, value,
      |           CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op,
      |           row_number() OVER (PARTITION BY user_id
      |             ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_id % 5 >= 3)
      |  WHERE rn = 1)
      |SELECT COALESCE(s.user_id, c.user_id) AS user_id,
      |       COALESCE(chg_value, snap_value) AS value,
      |       CASE WHEN op IS NULL THEN 'kept'
      |            WHEN snap_value IS NULL THEN 'inserted'
      |            ELSE 'updated' END AS src
      |FROM snap s FULL OUTER JOIN chg c ON s.user_id = c.user_id
      |WHERE op IS NULL OR op <> 'D'
      |ORDER BY user_id""".stripMargin

  // q_outliers' shared formula strings — spliced VERBATIM into both the
  // Spark projection and the DuckDB oracle (the momentFormulas discipline:
  // exact integer power sums in, one fixed tree of IEEE double ops out, so
  // z is bit-identical cross-engine and the |z| >= zMax cut selects the
  // same rows; z is additionally rounded at the output boundary only).
  private val outlierMean = "CAST(s1 AS DOUBLE) / n"
  private val outlierStd =
    s"sqrt(CAST(s2 AS DOUBLE) / n - ($outlierMean) * ($outlierMean))"
  private val outlierZ = "(CAST(v AS DOUBLE) - mv) / sv"

  /** Z-score anomaly detection per event_type — the outlier gate an
    * ingestion pipeline runs on a metric column (drop or quarantine rows
    * far from their group's distribution). events.value is 6dp-exact, so
    * it lifts to exact integers (×10⁶) whose power sums are exact (s2
    * summed as decimal — v² fits BIGINT per row but not summed); mean and
    * population std come out of the fixed double tree above, and the z
    * computation + cut replay bit-identically in DuckDB.
    *
    * 100 TB shape: one group-keyed hash agg over the corpus (fixed 3-long
    * state), the tiny per-group stats relation broadcast back onto the
    * event scan, per-row z — no second corpus shuffle. */
  def outliers(s: SparkSession, d: String, zMax: Int = 3): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("event_type"), col("value"),
      round(col("value") * 1000000).cast("long").as("v"))
    val sums = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s1"),
      // cast BEFORE multiplying: a Long v*v silently wraps in Spark
      // (non-ANSI) past |v|~3.03e9 while DuckDB's BIGINT multiply errors —
      // decimal(19,0)*decimal(19,0) → decimal(38,0) is exact for any Long v
      sum(col("v").cast("decimal(19,0)") * col("v").cast("decimal(19,0)")).as("s2"))
    val stats = sums.select(col("event_type"),
      expr(outlierMean).as("mv"), expr(outlierStd).as("sv"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("z", expr(outlierZ))
      .filter(abs(col("z")) >= zMax)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("z"), 3).as("z"))
      .orderedBy("event_id")
  }

  private def outliersOracle(zMax: Int): String =
    s"""WITH ev AS (
       |  SELECT event_id, event_type, value,
       |         CAST(round(value * 1000000) AS BIGINT) AS v
       |  FROM events),
       |sums AS (
       |  SELECT event_type, count(*) AS n, sum(v) AS s1,
         sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS s2
       |  FROM ev GROUP BY event_type),
       |stats AS (
       |  SELECT event_type, $outlierMean AS mv, $outlierStd AS sv
       |  FROM sums),
       |z AS (
       |  SELECT event_id, event_type, value, $outlierZ AS z
       |  FROM ev JOIN stats USING (event_type))
       |SELECT event_id, event_type, value, round(z, 3) AS z
       |FROM z WHERE abs(z) >= $zMax
       |ORDER BY event_id""".stripMargin

  /** Ordered-event FUNNEL — the conversion query every event pipeline
    * ships (signup → view → purchase, each stage strictly AFTER the
    * user's previous-stage time). Three stage-scoped passes over the
    * event stream, each a filtered scan + user-keyed min-aggregate joined
    * to the previous stage's (user, t) table — every shuffle is keyed on
    * user_id, stage tables shrink monotonically, and nothing is ever
    * collected or windowed corpus-wide. The final stage counts are
    * four one-row aggregates unioned with the conversion ratio against
    * the entry stage (single IEEE divide on exact longs). */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelFrom(Tables.events(s, d)).orderedBy("stage")

  /** The funnel chain over an explicit events frame — split out so the
    * streaming bridge can run the IDENTICAL plan per micro-batch. */
  private[queries] def funnelFrom(ev: DataFrame): DataFrame = {
    val t1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "view").join(t1, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(n: Long, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(n).as("stage"), lit(name).as("name"), col("users"))
    val s0 = ev.agg(countDistinct(col("user_id")).as("users"))
      .select(lit(0L).as("stage"), lit("any").as("name"), col("users"))
    val stages = s0
      .unionByName(stage(1L, "signup", t1))
      .unionByName(stage(2L, "view_after_signup", t2))
      .unionByName(stage(3L, "purchase_after_view", t3))
    val entry = t1.agg(count(lit(1)).as("u1"))
    stages.crossJoin(broadcast(entry))
      .select(col("stage"), col("name"), col("users"),
        round(lit(1.0) * col("users") / col("u1"), 4).as("conv"))
  }

  /** [[funnel]] under the STREAMING engine (22nd bridge — the analytics
    * tier's second): the event stream arrives as an AvailableNow
    * micro-batch and foreachBatch runs the IDENTICAL stage-chain batch
    * plan — filtered scans + user-keyed min-aggregates joined to the
    * previous stage — against the same funnelOracle. The production
    * shape: a conversion dashboard recomputed per ingest batch, stage
    * tables user-keyed and monotonically shrinking, nothing corpus-wide
    * in state. */
  def funnelStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamForeachBatch(s, "funnel_streamed_",
      requireSingleBatch = true) { cs =>
      Tables.eventsStream(cs, d)
    } { (_, batch) => funnelFrom(batch) }.orderedBy("stage")

  private def funnelOracle: String =
    """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY user_id),
      |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN t1 USING (user_id)
      |       WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
      |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN t2 USING (user_id)
      |       WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id),
      |st AS (
      |  SELECT CAST(0 AS BIGINT) AS stage, 'any' AS name,
      |         count(DISTINCT user_id) AS users FROM events
      |  UNION ALL SELECT 1, 'signup', count(*) FROM t1
      |  UNION ALL SELECT 2, 'view_after_signup', count(*) FROM t2
      |  UNION ALL SELECT 3, 'purchase_after_view', count(*) FROM t3),
      |c1 AS (SELECT count(*) AS u1 FROM t1)
      |SELECT stage, name, users, round(1.0 * users / u1, 4) AS conv
      |FROM st, c1 ORDER BY stage""".stripMargin

  /** Cohort RETENTION — the matrix behind every growth dashboard: users
    * cohorted by first-active day, activity counted at each day offset,
    * with the retained fraction against the cohort's size. Plan shape:
    * one (user, day) distinct pass, a user-keyed min-aggregate for the
    * cohort day, a user-keyed join back, then a (cohort, offset)
    * aggregate — every shuffle keyed on user_id or the tiny cohort key;
    * nothing corpus-global. */
  def retention(s: SparkSession, d: String): DataFrame =
    retentionFrom(Tables.events(s, d)).orderedBy("cohort", "offset")

  /** The retention chain over an explicit events frame — split out so the
    * streaming bridge can run the IDENTICAL plan per micro-batch. */
  private[queries] def retentionFrom(ev: DataFrame): DataFrame = {
    val act = ev
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val coh = act.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
    val sizes = coh.groupBy(col("c_day")).agg(count(lit(1)).as("cohort_users"))
    act.join(coh, "user_id")
      .select(col("c_day"), datediff(col("day"), col("c_day")).cast("long").as("offset"))
      .groupBy(col("c_day"), col("offset")).agg(count(lit(1)).as("users"))
      .join(sizes, "c_day")
      .select(date_format(col("c_day"), "yyyy-MM-dd").as("cohort"),
        col("offset"), col("users"),
        round(lit(1.0) * col("users") / col("cohort_users"), 4).as("pct"))
  }

  /** [[retention]] under the STREAMING engine (23rd bridge): the cohort
    * chain per AvailableNow micro-batch via foreachBatch — the
    * recomputed-per-ingest growth dashboard, same oracle as the batch
    * twin. */
  def retentionStreamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamForeachBatch(s, "retention_streamed_",
      requireSingleBatch = true) { cs =>
      Tables.eventsStream(cs, d)
    } { (_, batch) => retentionFrom(batch) }.orderedBy("cohort", "offset")

  private def retentionOracle: String =
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |coh AS (SELECT user_id, min(day) AS c_day FROM act GROUP BY user_id),
      |sizes AS (SELECT c_day, count(*) AS cohort_users FROM coh GROUP BY c_day),
      |j AS (SELECT coh.c_day, CAST(day - c_day AS BIGINT) AS off
      |      FROM act JOIN coh USING (user_id)),
      |r AS (SELECT c_day, off, count(*) AS users FROM j GROUP BY c_day, off)
      |SELECT strftime(r.c_day, '%Y-%m-%d') AS cohort, off AS "offset", users,
      |       round(1.0 * users / cohort_users, 4) AS pct
      |FROM r JOIN sizes USING (c_day)
      |ORDER BY cohort, "offset"""".stripMargin

  /** SCD TYPE-2 interval build — collapse each user's event-type stream
    * into change-point versions with [valid_from, valid_to) millisecond
    * validity, the dimension-history table every warehouse maintains.
    * Two windows over the SAME (user_id | ts, event_id) partitioning —
    * one exchange + one sort feed both lag (change detection) and
    * lead/row_number (interval close + version numbering); state per
    * partition is one row. */
  def scd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_ts", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type").as("attr"),
        unix_millis(col("ts")).as("valid_from"),
        unix_millis(col("valid_to_ts")).as("valid_to"))
      .orderedBy("user_id", "version")
  }

  private def scd2Oracle: String =
    """WITH c AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id, event_type AS attr, ts,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
      |             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_ts
      |      FROM ch)
      |SELECT user_id, CAST(version AS BIGINT) AS version, attr,
      |       epoch_ms(ts) AS valid_from, epoch_ms(valid_to_ts) AS valid_to
      |FROM v ORDER BY user_id, version""".stripMargin

  /** [[scd2]] executed by the streaming engine (17th bridge — the CDC
    * shape): explicit per-key custom state via flatMapGroupsWithState,
    * AvailableNow, append mode, hash-compared against the IDENTICAL SQL
    * as the batch twin. See [[graft.stream.Scd2Stream]]. */
  def scd2Streamed(s: SparkSession, d: String): DataFrame =
    Tables.runStreamAppend(s, "scd2_streamed_") { cs =>
      import cs.implicits._
      val ev = Tables.eventsStream(cs, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[graft.stream.Scd2Stream.Ev]
      graft.stream.Scd2Stream.versions(ev).toDF()
    }.orderedBy("user_id", "version")

  /** Column-level data PROFILE — the schema-audit pass a pipeline runs
    * before training on a new corpus drop (null fraction, exact
    * cardinality, value-length spread per column; the Deequ/profiler
    * shape). Long format: one output row per column, built by stacking
    * each column's string representation into (col_name, v) rows.
    *
    * Plan shape: ONE pass over the table — the stack() projection is a
    * map-side expand (×5, no shuffle), then a single hash aggregation.
    * The only shuffled payload is the (col_name, v) DISTINCT pairs that
    * exact cardinality inherently requires (Spark plans the lone
    * count(DISTINCT v) as a two-level partial-distinct aggregate, so
    * duplicate values collapse map-side before the exchange); every other
    * metric rides the same partial agg as O(1) state. At 100 TB the
    * exact-distinct column is the one you'd swap for
    * approx_count_distinct (the `q_distinct_sketch` path) — the rest of
    * the profile is already bounded-state.
    *
    * Determinism: counts and lengths are exact integers; avg_len is one
    * IEEE divide of two exact longs, rounded — the funnel `conv`
    * discipline. */
  def profile(s: SparkSession, d: String): DataFrame =
    profileFor(Tables.documents(s, d),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** [[profile]] over an arbitrary frame — the composition entry point. */
  def profileFor(df: DataFrame, cols: Seq[String]): DataFrame = {
    // public entry point: names are spliced into SQL, so quote the literal
    // and backtick the identifier (a column like "n chars" must profile,
    // not parse-error)
    val stacked = df.select(expr(
      s"stack(${cols.length}, " +
        cols.map { c =>
          s"'${c.replace("'", "''")}', CAST(`${c.replace("`", "``")}` AS STRING)"
        }.mkString(", ") +
        ") AS (col_name, v)"))
    stacked.groupBy(col("col_name")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
      countDistinct(col("v")).as("n_distinct"),
      min(length(col("v"))).cast("long").as("min_len"),
      max(length(col("v"))).cast("long").as("max_len"),
      round(expr("CAST(sum(length(v)) AS DOUBLE) / count(v)"), 4).as("avg_len"))
      .orderedBy("col_name")
  }

  /** [[profile]] at 100 TB — the swap the exact profile's scaladoc
    * promises: per-column cardinality via the deterministic 64-register
    * probabilistic sketch (q_distinct_sketch's register recipe — md5
    * bucket + leading-zero rank, register-wise max) instead of exact
    * countDistinct, so NOTHING value-sized ever shuffles. Plan shape: the
    * same single stacked pass, then a (col_name, bucket) partial-max — at
    * most cols×(m+1) rows into the exchange, vs the exact profile's
    * (col_name, value) distinct pairs — and every other metric rides the
    * same two-level aggregate as O(1) partial state. Registers are also
    * the PERSISTABLE artifact: per-partition register tables merge
    * register-wise (q_sketch_merge), so a daily profile never rescans
    * history. NULLs keep their own bucket row through level 1 (carrying
    * the null/length partials) and are excluded from the register math;
    * the estimate is the standard HLL form with the small-range linear
    * correction folded in via the empty-bucket term. ProfileSketchSpec
    * pins the estimate inside a ±15% envelope of the exact profile. */
  def profileSketch(s: SparkSession, d: String): DataFrame =
    profileSketchFor(Tables.documents(s, d),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Standard HLL alpha for m registers (Flajolet et al. 2007). */
  private[queries] def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }

  /** [[profileSketch]] over an arbitrary frame, m = 256 registers (raw
    * stderr 1.04/√m ≈ 6.5%; 4× q_distinct_sketch's m because a schema
    * audit mixes tiny enum columns with id columns, and the small-range
    * linear-counting branch needs empty-bucket resolution). */
  def profileSketchFor(df: DataFrame, cols: Seq[String], m: Int = 256): DataFrame =
    profileServe(profileLv1(df, cols, m), m)

  /** The per-(col_name, bucket) REGISTER + partials table — the profile's
    * only corpus-scale aggregate, and the mergeable artifact: every field
    * is a monoid (reg max, counts/length-sums sum, minl/maxl min/max), so
    * per-partition/per-day tables fold without rescanning history
    * ([[profileSketchStreamed]] exercises exactly that across
    * micro-batches). */
  private def profileLv1(df: DataFrame, cols: Seq[String], m: Int): DataFrame = {
    val stacked = df.select(expr(
      s"stack(${cols.length}, " +
        cols.map { c =>
          s"'${c.replace("'", "''")}', CAST(`${c.replace("`", "``")}` AS STRING)"
        }.mkString(", ") +
        ") AS (col_name, v)"))
    val h = conv(substring(md5(col("v").cast("binary")), 1, 8), 16, 10).cast("long")
    // 32-bit hash, log2(m) bucket bits ⇒ the rank field is 32−log2(m)
    // bits wide and rho ∈ [1, 33−log2(m)] (27 at q_distinct_sketch's
    // m=64, 25 here)
    val rhoMax = 33 - (math.log(m) / math.log(2)).round.toInt
    stacked
      .withColumn("h", h) // null v ⇒ null h ⇒ the null-bucket row
      .withColumn("bucket", col("h") % m)
      .withColumn("w", expr(s"h DIV $m"))
      .withColumn("rho",
        when(col("w") === 0, lit(rhoMax)).otherwise(lit(rhoMax) - length(bin(col("w")))))
      .groupBy(col("col_name"), col("bucket"))
      .agg(max(col("rho")).as("reg"),
        count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nulls"),
        min(length(col("v"))).as("minl"), max(length(col("v"))).as("maxl"),
        sum(length(col("v"))).as("suml"), count(col("v")).as("nv"))
  }

  /** Folds two lv1 register tables by their per-field monoids — the
    * sketch-merge contract ([[profileSketchStreamed]]'s per-batch step;
    * the same shape a daily profile pipeline runs over persisted
    * register tables). */
  private def profileLv1Merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("col_name"), col("bucket"))
      .agg(max(col("reg")).as("reg"), sum(col("n")).as("n"),
        sum(col("nulls")).as("nulls"),
        min(col("minl")).as("minl"), max(col("maxl")).as("maxl"),
        sum(col("suml")).as("suml"), sum(col("nv")).as("nv"))

  /** The estimate/rollup half over a (possibly merged) lv1 table. */
  private def profileServe(lv1: DataFrame, m: Int): DataFrame = {
    lv1.groupBy(col("col_name")).agg(
      sum(col("n")).as("n_rows"),
      sum(col("nulls")).as("n_nulls"),
      // THEN branch pinned to DOUBLE so the CASE (and the sum) is DOUBLE
      // in both engines; every term is a power-of-two reciprocal ≥ 2^-27,
      // so the ≤ m-term double sum is EXACT (≤ 33 mantissa bits) and
      // order-independent — the q_distinct_sketch determinism argument
      expr("sum(CASE WHEN bucket IS NULL THEN CAST(0 AS DOUBLE) " +
        "ELSE 1.0 / shiftleft(CAST(1 AS BIGINT), CAST(reg AS INT)) END)").as("sp"),
      sum(when(col("bucket").isNotNull, 1L).otherwise(0L)).as("nb"),
      min(col("minl")).cast("long").as("min_len"),
      max(col("maxl")).cast("long").as("max_len"),
      round(expr("CAST(sum(suml) AS DOUBLE) / sum(nv)"), 4).as("avg_len"))
      // standard HLL estimate with the SMALL-RANGE correction (Flajolet
      // et al. 2007): when the raw estimate is ≤ 2.5m and empty buckets
      // exist, linear counting m·ln(m/empty) is the better estimator —
      // without it a 5-value enum column reads as ~50 (measured). The
      // lone ln() is libm (may differ from the JVM by an ulp at a 4-dp
      // rounding boundary — the q_quality_entropy acceptance); raw's
      // register sum is exact (power-of-two terms), so the branch
      // predicate itself is deterministic.
      .withColumn("raw",
        lit(hllAlpha(m) * m * m) / (col("sp") + (lit(m) - col("nb"))))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("nb"),
        round(
          when(col("raw") <= 2.5 * m && col("nb") < m,
            lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("nb"))))
            .otherwise(col("raw")), 4)
          .as("distinct_est"),
        col("min_len"), col("max_len"), col("avg_len"))
      .orderedBy("col_name")
  }

  /** [[profileSketch]] with the register table MAINTAINED BY THE STREAM
    * (26th batch≡streaming bridge, and the mixed-monoid one): the corpus
    * arrives as 4 rate-limited micro-batches and each batch's lv1 table
    * folds into the running state by per-field monoids — register-wise
    * MAX (the HLL merge, the counterpart to q_hh_streamed's count-min
    * SUM), plus sum/min/max for the count and length partials — exactly
    * how a production pipeline maintains per-day column profiles without
    * rescanning history. Fold state is ≤ cols×(m+1) fixed-width rows.
    * Every field's merge is exact, so the folded table is row-identical
    * to single-pass lv1 and the IDENTICAL batch oracle adjudicates. */
  def profileSketchStreamed(s: SparkSession, d: String): DataFrame =
    profileSketchStreamedStats(s, d)._1

  /** [[profileSketchStreamed]] plus the delivered micro-batch count, so
    * the spec can pin that the fold genuinely spanned >1 batch. */
  private[queries] def profileSketchStreamedStats(
      s: SparkSession, d: String, m: Int = 256): (DataFrame, Int) = {
    val docs = Tables.documents(s, d)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // build-once staged layout (r20 opt, Tables.stageOnce rationale)
    val tmp = Tables.stageOnce(s, "prof_str3", d, "documents") { p =>
      docs.repartition(3).write.mode("overwrite").parquet(p)
    }
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    val batches = Tables.runStreamFold(s, "profile_streamed_") { cs =>
      cs.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
    } { (bs, batch, _) =>
      val bLv1 = profileLv1(batch, cols, m)
      val prev = state.get()
      state.set((if (prev == null) bLv1 else profileLv1Merge(prev, bLv1))
        .localCheckpoint(true))
    }
    (profileServe(state.get(), m), batches)
  }

  private def profileSketchOracle(m: Int): String = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val arms = cols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM documents")
    val hv = graft.core.OracleSql.hexPrefixToLong("hx")
    val rhoMax = 33 - (math.log(m) / math.log(2)).round.toInt
    s"""WITH s AS (
       |  ${arms.mkString("\n  UNION ALL ")}),
       |hh AS (SELECT col_name, v, substr(md5(v), 1, 8) AS hx FROM s),
       |h AS (SELECT col_name, v, $hv AS h FROM hh),
       |b AS (SELECT col_name, v, h % $m AS bucket, h // $m AS w FROM h),
       |r AS (SELECT col_name, bucket,
       |             max(CASE WHEN w = 0 THEN $rhoMax ELSE $rhoMax - length(bin(w)) END) AS reg,
       |             count(*) AS n,
       |             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
       |             min(length(v)) AS minl, max(length(v)) AS maxl,
       |             sum(length(v)) AS suml, count(v) AS nv
       |      FROM b GROUP BY col_name, bucket),
       |a AS (SELECT col_name, CAST(sum(n) AS BIGINT) AS n_rows,
       |             CAST(sum(nulls) AS BIGINT) AS n_nulls,
       |             sum(CASE WHEN bucket IS NULL THEN CAST(0 AS DOUBLE)
       |                 ELSE 1.0 / (CAST(1 AS BIGINT) << CAST(reg AS INT)) END) AS sp,
       |             CAST(sum(CASE WHEN bucket IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS nb,
       |             CAST(min(minl) AS BIGINT) AS min_len,
       |             CAST(max(maxl) AS BIGINT) AS max_len,
       |             round(CAST(sum(suml) AS DOUBLE) / sum(nv), 4) AS avg_len
       |      FROM r GROUP BY col_name),
       |est AS (SELECT *, ${hllAlpha(m) * m * m} / (sp + ($m - nb)) AS raw
       |        FROM a)
       |SELECT col_name, n_rows, n_nulls, nb,
       |       round(CASE WHEN raw <= ${2.5 * m} AND nb < $m
       |                  THEN CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / ($m - nb))
       |                  ELSE raw END, 4) AS distinct_est,
       |       min_len, max_len, avg_len
       |FROM est ORDER BY col_name""".stripMargin
  }

  private def profileOracle: String = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val arms = cols.map(c =>
      s"SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v FROM documents")
    s"""WITH s AS (
       |  ${arms.mkString("\n  UNION ALL ")})
       |SELECT col_name, count(*) AS n_rows,
       |       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |       count(DISTINCT v) AS n_distinct,
       |       CAST(min(length(v)) AS BIGINT) AS min_len,
       |       CAST(max(length(v)) AS BIGINT) AS max_len,
       |       round(CAST(sum(length(v)) AS DOUBLE) / count(v), 4) AS avg_len
       |FROM s GROUP BY col_name ORDER BY col_name""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "q_profile" -> QueryDef(profile, Some(profileOracle)),
    // the 100 TB profile: register-sketch cardinality (bounded shuffle)
    // instead of exact countDistinct — oracle replays the register chain
    "q_profile_sketch" -> QueryDef(profileSketch, Some(profileSketchOracle(256))),
    // 26th bridge: the register table folded across micro-batches by its
    // per-field monoids (HLL max + count/length sum/min/max) — same oracle
    "q_profile_streamed" -> QueryDef(profileSketchStreamed, Some(profileSketchOracle(256))),
    "q_funnel" -> QueryDef(funnel, Some(funnelOracle)),
    // 22nd bridge: the funnel chain per micro-batch, same oracle
    "q_funnel_streamed" -> QueryDef(funnelStreamed, Some(funnelOracle)),
    "q_retention" -> QueryDef(retention, Some(retentionOracle)),
    // 23rd bridge: the cohort chain per micro-batch, same oracle
    "q_retention_streamed" -> QueryDef(retentionStreamed, Some(retentionOracle)),
    "q_scd2" -> QueryDef(scd2, Some(scd2Oracle)),
    "q_scd2_streamed" -> QueryDef(scd2Streamed, Some(scd2Oracle)),
    "q_outliers" -> QueryDef(outliers(_, _), Some(outliersOracle(3))),
    "q_snapshot_diff" -> QueryDef(snapshotDiff, Some(snapshotDiffOracle)),
    // MERGE INTO core: last-change-wins upsert/delete apply onto a
    // keyed snapshot, kept/updated/inserted tagged
    "q_cdc_apply" -> QueryDef(cdcApply, Some(cdcApplyOracle)),
    // 33rd bridge: the CDC fold maintained across micro-batches, same
    // oracle — streamed merge materialization == batch apply
    "q_cdc_streamed" -> QueryDef(cdcStreamed, Some(cdcApplyOracle)),
    // 40th bridge: the CDC fold INSIDE the engine, materialized through
    // the epoch-committed tradelog sink (update-as-append), same oracle
    "q_cdc_sink_streamed" -> QueryDef(cdcSinkStreamed, Some(cdcApplyOracle)),
    "q_agg_stats" -> QueryDef(aggStats, Some(aggStatsOracle)),
    "q_quantile_hist" -> QueryDef(quantileHist, Some(quantileHistOracle)),
    "q_quantile_sketch" -> QueryDef(quantileSketch(_, _),
      Some(quantileSketchOracle(256, 7))),
    // 15th bridge: the custom sketch aggregate under the StateStore
    "q_sketch_streamed" -> QueryDef(quantileSketchStreamed,
      Some(quantileSketchOracle(256, 7))),
    "q_sessionize" -> QueryDef(sessionize(_, _), Some(sessionizeOracle(5))),
    "q_latest_by_key" -> QueryDef(latestByKey, Some(latestByKeyOracle)),
    "q_last_k" -> QueryDef(lastKBatch, Some(lastKOracle))
  )
}
