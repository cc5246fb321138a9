package graft.stream

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** State TTL (transformWithState + TTLConfig) — the physical claims the
  * q_ttl_streamed oracle cannot see:
  *   1. an expired key's state is actually GONE from the store
  *      (numRowsTotal drops across the sweep), not merely filtered on
  *      read — including keys the expiring batch never touched;
  *   2. a key reappearing after expiry restarts its aggregate from zero;
  *   3. without expiry (no sleep past the ttl) the same two-phase run
  *      ACCUMULATES — proving the reset in (2) is the ttl's doing, not
  *      an artifact of the checkpoint-resume plumbing. */
class TtlSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("value", DoubleType)))

  private def stage(rows: Seq[Row], dir: String, mode: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(mode).parquet(dir)

  private def tmp(tag: String): String =
    tempDir(s"graft-ttl-$tag").toString

  private def latestPerUser(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__phase").desc, col("__bid").desc)
    df.withColumn("pick", row_number().over(w)).filter(col("pick") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("expired state is physically swept (numRowsTotal drops) and reappearing keys restart") {
    val src = tmp("src")
    val ckpt = tmp("ckpt")
    val ttlMs = 500L
    // phase 1: users 1 and 2 (user 1 never returns — only the SWEEP can
    // retire its state; manual in-processor pruning could not)
    stage(Seq(Row(1L, 1L, 1.0), Row(1L, 2L, 2.0), Row(2L, 3L, 5.0)),
      src, "overwrite")
    val (e1, p1) = TwsTtl.runPhase(spark, src, ckpt, schema, ttlMs, 1)
    assert(p1.stateOperators.head.numRowsTotal == 2,
      s"phase 1 must leave both users' state: ${p1.prettyJson}")
    Thread.sleep(4 * ttlMs) // both states now expired by construction
    // phase 2: user 2 reappears, user 3 is new — user 1 is untouched
    stage(Seq(Row(2L, 4L, 7.0), Row(3L, 5L, 11.0)), src, "append")
    val (e2, p2) = TwsTtl.runPhase(spark, src, ckpt, schema, ttlMs, 2)
    // the reset: user 2's aggregate restarts from zero (its phase-1
    // state reads as absent), user 3 starts fresh
    val got = latestPerUser(e1.unionByName(e2))
    assert(got(2L) == (1L, 7000000L),
      s"expired state must read as absent — aggregate restarted: $got")
    assert(got(3L) == (1L, 11000000L))
    assert(got(1L) == (2L, 3000000L), "user 1's last emission is phase-1's")
    // the sweep: user 1's expired row is GONE even though phase 2 never
    // touched it — store total is exactly the two phase-2 writers
    assert(p2.stateOperators.head.numRowsTotal == 2,
      s"expired+untouched state must be swept, not retained: " +
        s"${p2.stateOperators.head.numRowsTotal} rows\n${p2.prettyJson}")
  }

  test("without expiry the same two-phase plumbing accumulates (control run)") {
    val src = tmp("src2")
    val ckpt = tmp("ckpt2")
    val ttlMs = 600000L // 10 minutes: nothing can expire inside this test
    stage(Seq(Row(1L, 1L, 1.0), Row(2L, 2L, 5.0)), src, "overwrite")
    val (e1, _) = TwsTtl.runPhase(spark, src, ckpt, schema, ttlMs, 1)
    stage(Seq(Row(2L, 3L, 7.0)), src, "append")
    val (e2, p2) = TwsTtl.runPhase(spark, src, ckpt, schema, ttlMs, 2)
    val got = latestPerUser(e1.unionByName(e2))
    assert(got(2L) == (2L, 12000000L),
      s"live state must accumulate across the checkpoint resume: $got")
    assert(p2.stateOperators.head.numRowsTotal == 2,
      "no sweep without expiry: both users' state rows remain")
  }

  // ------------------------------------------------------------------ //
  // Event-time lane (q_ttl_event_streamed): the same physical claims    //
  // with the clock swapped — retirement driven by the WATERMARK, so the //
  // whole suite below runs with zero sleeps.                            //
  // ------------------------------------------------------------------ //

  private val evSchema = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("value", DoubleType),
    StructField("et", TimestampType)))

  private val t0 = 1700000000000L
  private val gap = 3600000L // 1 h between slices, against a 60 s ttl

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** Stage one single-file slice per micro-batch with a strict mtime
    * ladder — the same layout rule as SparkEntry's stagedTtlEvent, so the
    * spec exercises exactly the bridge's batch ordering. */
  private def stageEventSlices(slices: Seq[Seq[Row]], dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    slices.zipWithIndex.foreach { case (rows, i) =>
      val sub = new org.apache.hadoop.fs.Path(root, s"_b$i")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), evSchema)
        .coalesce(1).write.mode("overwrite").parquet(sub.toString)
      val part = fs.listStatus(sub)
        .map(_.getPath).filter(_.getName.startsWith("part-")).head
      val dst = new org.apache.hadoop.fs.Path(root, f"slice-$i%04d.parquet")
      fs.rename(part, dst)
      fs.delete(sub, true)
      fs.setTimes(dst, 1000L * (i + 1), -1)
    }
  }

  private def latestPerUserBid(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("user_id")).orderBy(col("__bid").desc)
    df.withColumn("pick", row_number().over(w)).filter(col("pick") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  private def rowsTotal(
      progs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      bid: Long): Long =
    progs.find(_.batchId == bid)
      .getOrElse(fail(s"no progress for batch $bid: " +
        progs.map(_.batchId).mkString(",")))
      .stateOperators.head.numRowsTotal

  /** The watermark-driven twin of test 1: user 1 is idle after slice 0 —
    * only the engine's event-time TIMER can retire it; user 2 returns
    * after a >ttl event-time gap and must restart from zero. Sentinels
    * (-1, -2) exist solely to advance the watermark. */
  test("event-time timers retire idle keys as the watermark passes (no wall clock)") {
    val src = tmp("ev-src")
    stageEventSlices(Seq(
      Seq(Row(1L, 1L, 1.0, ts(t0)), Row(1L, 2L, 2.0, ts(t0)),
        Row(2L, 3L, 5.0, ts(t0))),
      Seq(Row(2L, 4L, 7.0, ts(t0 + gap)), Row(3L, 5L, 11.0, ts(t0 + gap))),
      Seq(Row(-1L, -1L, 0.0, ts(t0 + 2 * gap))),
      Seq(Row(-2L, -1L, 0.0, ts(t0 + 3 * gap)))), src)
    val (em, progs) = TwsTtl.runEvent(spark, src, evSchema, ttlMs = 60000L)
    val got = latestPerUserBid(em)
    assert(got(2L) == (1L, 7000000L),
      s"a >ttl event-time gap must restart the aggregate: $got")
    assert(got(3L) == (1L, 11000000L))
    assert(got(1L) == (2L, 3000000L), "user 1's last emission is slice-0's")
    // batch 1 (slice 1): the watermark (t0 - delay) has NOT passed any
    // t0+ttl deadline yet — nothing retired: users 1,2,3 all in store
    assert(rowsTotal(progs, 1L) == 3,
      s"no retirement before the watermark passes: ${progs.map(_.prettyJson)}")
    // batch 3 (second sentinel): wm = t0+2·gap−delay has passed BOTH
    // deadlines (t0+ttl for idle user 1, t0+gap+ttl for users 2,3) —
    // every real user's state is physically gone; only sentinels remain
    assert(rowsTotal(progs, 3L) == 2,
      s"watermark-passed keys must be retired by their timers: " +
        progs.map(p => s"${p.batchId}:${p.stateOperators.head.numRowsTotal}")
          .mkString(","))
  }

  /** Control: same layout, ttl wider than the whole event-time span —
    * nothing retires, the returning key ACCUMULATES. Proves the restart
    * above is the event-time ttl's doing, not the slice plumbing. */
  test("event-time control: ttl wider than the span accumulates and retires nothing") {
    val src = tmp("ev-src2")
    stageEventSlices(Seq(
      Seq(Row(1L, 1L, 1.0, ts(t0)), Row(2L, 2L, 5.0, ts(t0))),
      Seq(Row(2L, 3L, 7.0, ts(t0 + gap))),
      Seq(Row(-1L, -1L, 0.0, ts(t0 + 2 * gap))),
      Seq(Row(-2L, -1L, 0.0, ts(t0 + 3 * gap)))), src)
    val (em, progs) = TwsTtl.runEvent(spark, src, evSchema,
      ttlMs = 24L * 3600000L)
    val got = latestPerUserBid(em)
    assert(got(2L) == (2L, 12000000L),
      s"inside the ttl the aggregate must accumulate: $got")
    assert(rowsTotal(progs, 3L) == 4,
      "no deadline inside the span: all four keys' state rows remain")
  }
}
