package graft.stream

import graft.SparkTestBase
import graft.ohlc.OhlcPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming semantics the batch oracle cannot observe (SURVEY.md §5.4):
  * update-mode emission, late-row-within-watermark candle revision, too-late
  * row dropped, and batch≡streaming equivalence — Structured Streaming's
  * core promise, testable because OhlcPipeline is one pure function used in
  * both modes. Reference behaviors: watermark main.py:161, update mode
  * main.py:215. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = 1704067200L // 2024-01-01 00:00:00 UTC

  test("subscription heuristic routes exactly like the reference (main.py:80-85)") {
    assert(SourceFactory.subscriptionOption("a,b") == ("subscribe", "a,b"))
    assert(SourceFactory.subscriptionOption("plain") == ("subscribe", "plain"))
    assert(SourceFactory.subscriptionOption("trades-.*") == ("subscribePattern", "trades-.*"))
    assert(SourceFactory.subscriptionOption("t*") == ("subscribePattern", "t*"))
    // the quirk, preserved: single plain topic with a dot → pattern mode
    assert(SourceFactory.subscriptionOption("trades.v1") == ("subscribePattern", "trades.v1"))
    // comma wins over pattern chars
    assert(SourceFactory.subscriptionOption("a.x,b.y") == ("subscribe", "a.x,b.y"))
  }

  private def latestCandles(tbl: String): Map[(String, Long), (Double, Double)] =
    spark.table(tbl).collect()
      .map(r => (r.getAs[String]("base"),
        r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond) ->
        (r.getAs[Double]("close"), r.getAs[Double]("volume")))
      .toMap // later updates overwrite earlier emissions for the same key

  test("update mode: late row within watermark revises its candle; too-late row is dropped") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double, Double)]
    val trades = input.toDF().toDF("base", "epoch", "price", "quantity")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
    val q = SinkFactory.memory(
      OhlcPipeline.candles(trades, watermark = Some("2 minutes")), "candles_wm")
    try {
      // batch 1: one candle at w0, plus an advancer at +5min
      //          → watermark becomes (t0+300) - 2min = t0+180
      input.addData(("a", t0 + 10, 5.0, 1.0), ("a", t0 + 300, 9.0, 1.0))
      q.processAllAvailable()
      val v1 = latestCandles("candles_wm")
      assert(v1((("a"), t0)) == (5.0, 1.0))

      // batch 2: row at t0+130 (< watermark t0+180!) is TOO LATE → dropped;
      // row at t0+310 (same window as advancer) revises that candle
      input.addData(("a", t0 + 130, 100.0, 50.0), ("a", t0 + 310, 11.0, 1.0))
      q.processAllAvailable()
      val v2 = latestCandles("candles_wm")
      assert(!v2.contains(("a", t0 + 120)), "too-late row must not create a candle")
      assert(v2(("a", t0)) == (5.0, 1.0), "too-late row must not revise a candle")
      assert(v2(("a", t0 + 300)) == (11.0, 2.0), "in-time row must revise its candle")
    } finally q.stop()
  }

  test("batch ≡ streaming: same rows through MemoryStream equal the batch candles") {
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      ("a", t0 + 1, 3.0, 1.0), ("a", t0 + 1, 7.0, 1.0), // tie on ts
      ("a", t0 + 50, 4.0, 2.0), ("b", t0 + 70, 8.0, 1.0))
    val input = MemoryStream[(String, Long, Double, Double)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("base", "epoch", "price", "quantity")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")

    val q = SinkFactory.memory(
      OhlcPipeline.candles(shape(input.toDF()), watermark = Some("2 minutes")),
      "candles_eq")
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = latestCandles("candles_eq")
      val batch = OhlcPipeline.candles(shape(rows.toDF())).collect()
        .map(r => (r.getAs[String]("base"),
          r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond) ->
          (r.getAs[Double]("close"), r.getAs[Double]("volume"))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("Trigger.AvailableNow: stream drains the source and self-terminates, then a partitioned sink is queryable") {
    import org.apache.spark.sql.streaming.Trigger
    val d = "/root/testdata/sf0.001"
    val srcDir = tempDir("graft-an-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"), srcDir.resolve("events.parquet"))
    val outDir = tempDir("graft-an-out").toString
    val candles = graft.ohlc.OhlcPipeline.candles(
      graft.core.Tables.eventsStream(spark, srcDir.toString),
      "1 minute", watermark = Some("2 minutes"),
      tsCol = "ts", priceCol = "value", qtyCol = "value", symbolCol = "event_type")
    // batch-like streaming run: drain everything available, then stop —
    // the cron-shaped ingestion pattern; sink is lang-partitioned parquet
    val q = candles.writeStream
      .trigger(Trigger.AvailableNow())
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .partitionBy("base")
      .format("parquet")
      .option("path", s"$outDir/candles")
      .start()
    q.awaitTermination(120000L)
    assert(!q.isActive, "AvailableNow query must self-terminate")
    val written = spark.read.parquet(s"$outDir/candles")
    // append mode + watermark: only candles sealed by the final watermark
    // emit; the last in-flight windows stay in state (expected, > 90%)
    val sealedCnt = written.count()
    val total = graft.ohlc.OhlcPipeline.candles(
      graft.core.Tables.events(spark, d), "1 minute",
      tsCol = "ts", priceCol = "value", qtyCol = "value",
      symbolCol = "event_type").count()
    assert(sealedCnt > total * 9 / 10 && sealedCnt <= total)
    // partition pruning works on the sink layout
    val one = written.filter(col("base") === "click")
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(one.count() > 0)
  }

  test("maxFilesPerTrigger under AvailableNow: aggregation state merges across multiple micro-batches") {
    // the q_ohlc_multibatch bridge's claim needs >1 batch to mean anything;
    // this pins that a 4-file source with maxFilesPerTrigger=1 actually
    // runs multiple batches AND the complete-mode state equals the batch agg
    val d = "/root/testdata/sf0.001"
    val tmp = tempDir("graft-mb").toString
    val ev = graft.core.Tables.events(spark, d)
    ev.repartition(4).write.mode("overwrite").parquet(tmp)
    val src = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val q = src.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName("mb_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000L)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = spark.table("mb_test").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, "cross-batch state diverged from the batch aggregate")
    spark.catalog.dropTempView("mb_test")
  }

  test("update-mode bridge: candles are actually revised across micro-batches") {
    // q_ohlc_update_streamed's oracle folds latest-per-key — correct even
    // if every key were emitted once. This pins the half the fold can't:
    // with the 4-file rate-limited layout, at least one (ws, base) key
    // re-emits in a LATER batch (a genuine update-mode revision), so the
    // bridge exercises re-emission, not just first-write. sf0.01, NOT the
    // suite's usual sf0.001: there every candle holds exactly ONE event
    // (1000 events / 1000 windows — measured), so no revision can exist;
    // at sf0.01 ~200 candles hold 2-3 events and the round-robin 4-file
    // split puts most of them across batches
    val em = graft.Catalog.ohlcUpdateEmissions(spark, "/root/testdata/sf0.01")
    val perKey = em.groupBy(col("ws"), col("base"))
      .agg(count(lit(1)).as("n"), countDistinct(col("__bid")).as("nb"))
    val revised = perKey.filter(col("nb") > 1).count()
    assert(revised >= 1, "no candle was revised across batches — the " +
      "update-mode bridge degenerated to single-emission")
    // update mode emits a key at most once per batch
    assert(em.groupBy(col("ws"), col("base"), col("__bid")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("ListState bridge: at least one user's last-k tail is revised across batches") {
    // q_lastk_streamed's fold (latest per (user, rn)) is correct even if
    // every user were emitted once; this pins the ListState observable —
    // a user whose events span micro-batches re-emits a REVISED tail, so
    // the buffer genuinely accumulates across batches (sf0.01: 500 users
    // × 10000 events, the 4-file split scatters every user's events)
    val em = graft.Catalog.lastKEmissions(spark, "/root/testdata/sf0.01")
    val revised = em.groupBy(col("user_id"), col("rn"))
      .agg(countDistinct(col("__bid")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(revised >= 1, "no last-k tail was revised across batches — the " +
      "ListState bridge degenerated to single-emission")
    // update mode emits a (user, rank) at most once per batch
    assert(em.groupBy(col("user_id"), col("rn"), col("__bid")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("multi-query orchestration: shared source lineage, awaitAnyTermination unblocks on first stop") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double, Double)]
    val trades = input.toDF().toDF("base", "epoch", "price", "quantity")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
    // the reference's shape: several concurrent queries off one source
    // (main.py starts 5); here three memory sinks share the lineage
    val q1 = SinkFactory.memory(trades, "mq_raw", mode = "append")
    val q2 = SinkFactory.memory(
      OhlcPipeline.candles(trades, watermark = Some("2 minutes")), "mq_candles")
    val q3 = SinkFactory.memory(trades.filter(col("price") > 5), "mq_filtered", mode = "append")
    try {
      input.addData(("a", t0 + 1, 9.0, 1.0))
      Seq(q1, q2, q3).foreach(_.processAllAvailable())
      val active = spark.streams.active.map(_.name).toSet
      assert(Set("mq_raw", "mq_candles", "mq_filtered").subsetOf(active))
      spark.streams.resetTerminated()
      new Thread(() => { Thread.sleep(300); q2.stop() }).start()
      spark.streams.awaitAnyTermination() // must unblock when q2 stops
      assert(q1.isActive && q3.isActive && !q2.isActive)
    } finally Seq(q1, q2, q3).foreach(q => if (q.isActive) q.stop())
  }

  test("OhlcConfig.fromEnv: all 8 reference env keys required, fail-fast on missing") {
    val env = Map(
      "SPARK_APP_NAME" -> "x", "SPARK_MASTER_URL" -> "local[2]",
      "KAFKA_BOOTSTRAP_SERVERS" -> "b:9092", "KAFKA_SUBSCRIBE_TOPICS" -> "t",
      "KAFKA_OUTPUT_PREFIX" -> "candles-", "CHECKPOINT_LOCATION" -> "/tmp/ck",
      "WINDOW_DURATION" -> "1 minute", "WATERMARK_DELAY" -> "2 minutes")
    val cfg = OhlcConfig.fromEnv(env)
    assert(cfg.windowDuration == "1 minute" && cfg.watermarkDelay == "2 minutes")
    // no in-code defaults, matching the reference: every key fails fast
    for (k <- env.keys) {
      val err = intercept[IllegalArgumentException] { OhlcConfig.fromEnv(env - k) }
      assert(err.getMessage.contains(k), s"missing $k must name the key")
    }
  }

  test("file source end-to-end: jsonDir -> OhlcApp.transform -> candle JSON rows") {
    val dir = tempDir("graft-src").toString
    val trade =
      s"""{\\"type\\":\\"2\\",\\"market\\":\\"M\\",\\"from_symbol\\":\\"BTC\\",\\"to_symbol\\":\\"USDT\\",
         |\\"flags\\":\\"1\\",\\"trade_id\\":\\"t\\",\\"timestamp\\":\\"$t0\\",\\"quantity\\":\\"2.0\\",
         |\\"price\\":\\"42.5\\",\\"total_value\\":\\"0\\",\\"received_ts\\":\\"0\\",\\"ccseq\\":\\"0\\",
         |\\"timestamp_ns\\":\\"0\\",\\"received_ts_ns\\":\\"0\\"}""".stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "batch0.json"),
      s"""{"topic": "parsed-trades-btc-usdt", "value": "$trade"}\n""")

    val cfg = OhlcConfig("t", "local[2]", "none", "t", "out-", "/tmp/ck", "1 minute", "2 minutes")
    val q = SinkFactory.memory(
      OhlcApp.transform(SourceFactory.jsonDir(spark, dir), cfg), "app_e2e")
    try {
      q.processAllAvailable()
      val rows = spark.table("app_e2e").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("topic") == "out-btc-usdt")
      assert(rows.head.getAs[String]("key") == "btc")
      val v = rows.head.getAs[String]("value")
      assert(v.contains("\"open\":42.5") && v.contains("\"volume\":2.0"))
    } finally q.stop()
  }

  test("batch ≡ streaming on the driver testdata: 10k events through the file-stream source") {
    val d = "/root/testdata/sf0.01"
    // the file-stream source wants a directory — stage the table into one
    val srcDir = tempDir("graft-evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/events.parquet"),
      srcDir.resolve("events.parquet"))
    // same ts normalization as Tables.events, but through readStream
    val stream = graft.core.Tables.eventsStream(spark, srcDir.toString)
    val q = graft.ohlc.OhlcPipeline
      .candles(stream, "1 minute", tsCol = "ts", priceCol = "value",
        qtyCol = "value", symbolCol = "event_type")
      .writeStream.format("memory").queryName("ohlc_full_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ohlc_full_stream").collect()
        .map(r => (r.getAs[String]("base"),
          r.getAs[java.sql.Timestamp]("start_ts").getTime) ->
          ((r.getAs[Double]("open"), r.getAs[Double]("high"),
            r.getAs[Double]("low"), r.getAs[Double]("close")))).toMap
      val batch = graft.ohlc.OhlcPipeline
        .candles(graft.core.Tables.events(spark, d), "1 minute", tsCol = "ts",
          priceCol = "value", qtyCol = "value", symbolCol = "event_type")
        .collect()
        .map(r => (r.getAs[String]("base"),
          r.getAs[java.sql.Timestamp]("start_ts").getTime) ->
          ((r.getAs[Double]("open"), r.getAs[Double]("high"),
            r.getAs[Double]("low"), r.getAs[Double]("close")))).toMap
      assert(streamed.size == batch.size && streamed.size > 9000)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join: purchase matches click within 10 minutes, watermarked") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Long)]    // (click_id, user_id, epoch)
    val purchases = MemoryStream[(Long, Long, Long)] // (p_id, user_id, epoch)
    val c = clicks.toDF().toDF("click_id", "c_user", "c_epoch")
      .withColumn("c_ts", col("c_epoch").cast("timestamp"))
      .withWatermark("c_ts", "1 minute")
    val p = purchases.toDF().toDF("p_id", "p_user", "p_epoch")
      .withColumn("p_ts", col("p_epoch").cast("timestamp"))
      .withWatermark("p_ts", "1 minute")
    val joined = c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("click_id"), col("p_id"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData((100L, 1L, t0), (101L, 2L, t0))
      purchases.addData((200L, 1L, t0 + 300),   // within 10 min of click 100
        (201L, 1L, t0 + 6000),                  // 100 min later — out of range
        (202L, 3L, t0 + 60))                    // no matching user
      q.processAllAvailable()
      val got = spark.table("ss_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 200L)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched click emits nulls only after the watermark closes its window") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    val c = clicks.toDF().toDF("click_id", "c_user", "c_epoch")
      .withColumn("c_ts", col("c_epoch").cast("timestamp"))
      .withWatermark("c_ts", "1 minute")
    val p = purchases.toDF().toDF("p_id", "p_user", "p_epoch")
      .withColumn("p_ts", col("p_epoch").cast("timestamp"))
      .withWatermark("p_ts", "1 minute")
    val joined = c.join(p,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 10 MINUTES"),
      "leftOuter")
      .select(col("click_id"), col("p_id"))
    val q = joined.writeStream.format("memory").queryName("ss_left_join")
      .outputMode("append").start()
    def rows() = spark.table("ss_left_join").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    try {
      clicks.addData((100L, 1L, t0), (101L, 2L, t0)) // 101 will never match
      purchases.addData((200L, 1L, t0 + 300))
      q.processAllAvailable()
      // the matched pair emits; the unmatched click must NOT emit a null
      // row while its 10-minute window is still open (a purchase could
      // still arrive) — outer emission is watermark-gated state eviction
      assert(rows() == Set((100L, Some(200L))), s"premature outer emission: ${rows()}")
      // advance BOTH watermarks far past click+10min+delay, then run one
      // more batch (outer results land on the eviction after the advance)
      clicks.addData((199L, 9L, t0 + 3600))
      purchases.addData((299L, 9L, t0 + 3600))
      q.processAllAvailable()
      clicks.addData((198L, 8L, t0 + 3700))
      purchases.addData((298L, 8L, t0 + 3700))
      q.processAllAvailable()
      assert(rows().contains((101L, None)),
        s"unmatched click must emit with null purchase after eviction: ${rows()}")
      assert(rows().count(_._1 == 101L) == 1, "outer row must emit exactly once")
    } finally q.stop()
  }

  test("session_window works in streaming: gap merge + append emission after watermark") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val sessions = input.toDF().toDF("user_id", "epoch", "value")
      .withColumn("ts", col("epoch").cast("timestamp")).drop("epoch")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    try {
      // two events 2min apart merge into one session; a third event far in
      // the future advances the watermark past session end → emission
      input.addData((1L, t0, 1.0), (1L, t0 + 120, 1.0))
      q.processAllAvailable()
      input.addData((1L, t0 + 3600, 1.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_stream").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n")))
      assert(rows.toSeq == Seq((1L, 2L))) // merged session of the first two
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: streaming dedup by trade id, state watermark-bounded") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val deduped = input.toDF().toDF("trade_id", "epoch", "price")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
      .withWatermark("timestamp", "2 minutes")
      .dropDuplicatesWithinWatermark("trade_id")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(("t1", t0 + 1, 5.0), ("t1", t0 + 2, 5.0), ("t2", t0 + 3, 6.0))
      q.processAllAvailable()
      input.addData(("t1", t0 + 4, 5.0)) // duplicate within watermark → dropped
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getAs[String]("trade_id"))
      assert(ids.sorted.toSeq == Seq("t1", "t2"))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: candle emitted once when event time passes close + lateness") {
    implicit val ctx = spark.sqlContext
    import graft.ohlc.Trade
    val input = MemoryStream[Trade]
    val q = StatefulCandles.closedCandles(input.toDS())
      .writeStream.format("memory").queryName("closed_candles")
      .outputMode("append").start()
    def table() = spark.table("closed_candles").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond,
        r.getAs[Double]("open"), r.getAs[Double]("close"), r.getAs[Double]("volume")))
    def trade(sec: Long, p: Double, q: Double) =
      Trade("a", new java.sql.Timestamp(sec * 1000), p, q)
    try {
      // window [t0, t0+60) accumulates; nothing closes yet
      input.addData(trade(t0 + 10, 5.0, 1.0), trade(t0 + 20, 7.0, 2.0))
      q.processAllAvailable()
      assert(table().isEmpty)
      // event time jumps past t0+60+120s lateness → candle closes, once
      input.addData(trade(t0 + 200, 9.0, 1.0))
      q.processAllAvailable()
      assert(table().toSeq == Seq((t0, 5.0, 7.0, 3.0)))
      // a too-late row for the closed window is ignored, no re-emission
      input.addData(trade(t0 + 30, 100.0, 50.0), trade(t0 + 400, 1.0, 1.0))
      q.processAllAvailable()
      assert(table().count(_._1 == t0) == 1)
    } finally q.stop()
  }

  test("StatefulCandles.advance: pure state transition closes and evicts windows") {
    import graft.ohlc.Trade
    def trade(sec: Long, p: Double) = Trade("a", new java.sql.Timestamp(sec * 1000), p, 1.0)
    val (s1, out1) = StatefulCandles.advance("a",
      Iterator(trade(t0, 2.0), trade(t0 + 10, 4.0)), None, 60000L, 120000L)
    assert(out1.isEmpty && s1.open.size == 1)
    val (s2, out2) = StatefulCandles.advance("a",
      Iterator(trade(t0 + 200, 8.0)), Some(s1), 60000L, 120000L)
    assert(out2.map(c => (c.open, c.close, c.volume)) == List((2.0, 4.0, 2.0)))
    assert(s2.open.keySet == Set((t0 + 200) / 60 * 60 * 1000)) // only the live window
  }

  test("StatefulCandles.advance: no duplicate emission when lateness is not a multiple of the window") {
    import graft.ohlc.Trade
    def trade(sec: Long, p: Double) = Trade("a", new java.sql.Timestamp(sec * 1000), p, 1.0)
    val (w, lat) = (60000L, 90000L) // 90s lateness, 60s window — NOT a multiple
    // window [0,60s) closes at maxTs=151s (closeBefore = 61s >= 60s)
    val (s1, out1) = StatefulCandles.advance("a",
      Iterator(trade(0, 2.0), trade(151, 8.0)), None, w, lat)
    assert(out1.map(_.start_ts.getTime) == List(0L))
    // a too-late trade for the emitted window: its own window closed at
    // 60s <= 151s - 90s, so it must be dropped — the old windowStart(maxTs)
    // comparison (ts + lat < 120s) let it reopen the window and emit a
    // duplicate candle on the next eviction pass
    val (s2, out2) = StatefulCandles.advance("a",
      Iterator(trade(59, 100.0)), Some(s1), w, lat)
    assert(out2.isEmpty && !s2.open.contains(0L))
    val (_, out3) = StatefulCandles.advance("a",
      Iterator(trade(400, 1.0)), Some(s2), w, lat)
    assert(!out3.exists(_.start_ts.getTime == 0L))

    // intra-batch iterator order must not change the output: the drop
    // bound is the batch-ENTRY max (flatMapGroupsWithState guarantees no
    // ordering within a group). With a running max, [advancer, early]
    // would drop the early trade that [early, advancer] keeps.
    val fwd = StatefulCandles.advance("a", Iterator(trade(10, 2.0), trade(200, 8.0)), None, w, lat)
    val rev = StatefulCandles.advance("a", Iterator(trade(200, 8.0), trade(10, 2.0)), None, w, lat)
    assert(fwd._2 == rev._2 && fwd._1.open == rev._1.open,
      s"advance depends on intra-batch order: $fwd vs $rev")
    assert(fwd._2.map(_.start_ts.getTime) == List(0L), "window [0,60s) must emit with the early trade")

    // property sweep: random batches, window starts are emitted at most once
    val rnd = new scala.util.Random(42)
    var st: Option[StatefulCandles.KeyState] = None
    val emitted = scala.collection.mutable.Map.empty[Long, Int]
    for (_ <- 1 to 40) {
      val batch = List.fill(5)(trade(rnd.nextInt(600).toLong, 1.0 + rnd.nextInt(9)))
      val (next, out) = StatefulCandles.advance("a", batch.iterator, st, w, lat)
      st = Some(next)
      out.foreach(c => emitted(c.start_ts.getTime) = emitted.getOrElse(c.start_ts.getTime, 0) + 1)
    }
    assert(emitted.values.forall(_ == 1), s"duplicate emissions: $emitted")
  }

  test("StatefulCandles.windowStartMs floors pre-epoch trades into the window Spark's window() gives") {
    import graft.ohlc.Trade
    val w = 60000L
    assert(Seq(-1L, -60000L, 59999L).map(StatefulCandles.windowStartMs(_, w)) ==
      Seq(-60000L, -60000L, 0L))
    val trades = Seq(-120001L, -60001L, -60000L, -1L, 0L, 59999L, 60000L)
      .zipWithIndex.map { case (ms, i) => Trade("a", new java.sql.Timestamp(ms), 1.0 + i, 1.0 + i) }
    // a trade ten windows on closes every window before it
    val closer = Trade("a", new java.sql.Timestamp(10 * w), 99.0, 1.0)
    val (_, stateful) = StatefulCandles.advance("a", (trades :+ closer).iterator, None, w, 0L)
    val batch = OhlcPipeline.candles(trades.toDS().toDF()).collect().map(r =>
      (r.getTimestamp(1).getTime, r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7))).toSet
    assert(batch.map(_._1) == Set(-180000L, -120000L, -60000L, 0L, 60000L))
    assert(stateful.map(c =>
      (c.start_ts.getTime, c.open, c.high, c.low, c.close, c.volume)).toSet == batch)
  }

  test("stream-static join: dim enrichment broadcasts — no stateful join state") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(String, Long, Double)]
    val stream = input.toDF().toDF("base", "epoch", "price")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
    val dim = Seq(("btc", "satoshi", 8), ("eth", "wei", 18)).toDF("base", "unit", "decimals")
    val q = Enrich.streamStaticJoin(stream, dim, "base")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      input.addData(("btc", t0, 5.0), ("eth", t0 + 1, 7.0), ("doge", t0 + 2, 1.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getAs[String]("base"), r.getAs[String]("unit"), r.getAs[Int]("decimals")))
      // inner join: the dim-less base is dropped, matches are enriched
      assert(rows.toSet == Set(("btc", "satoshi", 8), ("eth", "wei", 18)))
      // the static side must be broadcast (no shuffle of the stream, no
      // join state) — asserted on the batch twin of the identical plan
      val batchPlan = Enrich.streamStaticJoin(
          Seq(("btc", 5.0)).toDF("base", "price"), dim, "base")
        .queryExecution.executedPlan.toString
      assert(batchPlan.contains("BroadcastHashJoin"),
        s"static dim side not broadcast:\n$batchPlan")
    } finally q.stop()
  }

  test("foreachBatch parquet sink: batchId-keyed overwrite is replay-idempotent") {
    implicit val ctx = spark.sqlContext
    val outRoot = tempDir("graft-fbsink").toString
    val ck = tempDir("graft-fbck").toString
    val input = MemoryStream[(String, Long, Double, Double)]
    val trades = input.toDF().toDF("base", "epoch", "price", "quantity")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
    val q = SinkFactory.parquetByBatch(trades, outRoot, ck, "fb_sink")
    try {
      input.addData(("a", t0, 1.0, 2.0), ("b", t0 + 1, 2.0, 3.0))
      q.processAllAvailable()
      input.addData(("a", t0 + 2, 3.0, 1.0))
      q.processAllAvailable()
      val all = spark.read.parquet(outRoot)
      assert(all.count() == 3)
      assert(all.select("base").collect().map(_.getString(0)).sorted.toSeq == Seq("a", "a", "b"))
      // crash-replay scenario: the same batch lands AGAIN with the same
      // batchId (at-least-once delivery) — the overwrite keyed on batchId
      // must leave a single copy, not append a duplicate
      val replay = Seq(("a", 3.0, 1.0)).toDF("base", "price", "quantity")
        .withColumn("timestamp", lit(t0 + 2).cast("timestamp"))
      SinkFactory.writeBatchParquet(outRoot)(replay, 1L)
      SinkFactory.writeBatchParquet(outRoot)(replay, 1L)
      assert(spark.read.parquet(outRoot).count() == 3,
        "replayed batch must overwrite its own output, not duplicate it")
    } finally q.stop()
  }

  /** Runs `body` with the RocksDB state-store provider — the off-heap
    * store a cluster deployment configures, and the only one
    * `transformWithState` runs on. */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("RocksDB state store: stateful candles and watermark dedup run with off-heap state") {
    // At 100 TB stream scale the default HDFS-backed store keeps every
    // key's state ON-HEAP in each executor — the scale-killer for stateful
    // ops. This variant proves both custom-state paths run (and keep their
    // semantics) under RocksDBStateStoreProvider.
    implicit val ctx = spark.sqlContext
    import graft.ohlc.Trade
    def rocksMetrics(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.lastProgress.stateOperators.head.customMetrics.keySet().toArray.map(_.toString)
    def trade(base: String, sec: Long, p: Double) =
      Trade(base, new java.sql.Timestamp(sec * 1000), p, 1.0)
    withRocksDb {
      val in1 = MemoryStream[Trade]
      val q1 = StatefulCandles.closedCandles(in1.toDS())
        .writeStream.format("memory").queryName("rocks_candles")
        .outputMode("append").start()
      try {
        in1.addData(trade("a", t0 + 5, 2.0), trade("a", t0 + 20, 3.0), trade("b", t0 + 10, 9.0))
        q1.processAllAvailable()
        in1.addData(trade("a", t0 + 600, 4.0))
        q1.processAllAvailable()
        // a's own event time passed w0's close + lateness: w0 emits once;
        // b's never did, so the per-key engine keeps b's window open
        val rows = spark.table("rocks_candles").collect().map(r =>
          (r.getAs[String]("base"), r.getAs[java.sql.Timestamp]("start_ts").getTime,
            r.getAs[Double]("open"), r.getAs[Double]("close"), r.getAs[Double]("volume")))
        assert(rows.toSeq == Seq(("a", t0 * 1000, 2.0, 3.0, 2.0)),
          s"per-key candles must hold under RocksDB: ${rows.mkString(",")}")
        assert(rocksMetrics(q1).exists(_.toLowerCase.contains("rocksdb")),
          s"RocksDB provider not engaged: ${rocksMetrics(q1).mkString(",")}")
      } finally q1.stop()

      val in2 = MemoryStream[(Long, Long, Double)]
      val stream = in2.toDF().toDF("event_id", "epoch", "price")
        .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
        .withWatermark("timestamp", "2 minutes")
      val q2 = Enrich.dedupWithinWatermark(stream, "event_id")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode("append").start()
      try {
        in2.addData((1L, t0, 5.0), (1L, t0 + 5, 5.0), (2L, t0 + 10, 6.0))
        q2.processAllAvailable()
        val ids = spark.table("rocks_dedup").collect().map(_.getAs[Long]("event_id"))
        assert(ids.count(_ == 1L) == 1 && ids.count(_ == 2L) == 1,
          "watermark dedup semantics must hold under RocksDB")
        assert(rocksMetrics(q2).exists(_.toLowerCase.contains("rocksdb")),
          s"RocksDB provider not engaged: ${rocksMetrics(q2).mkString(",")}")
      } finally q2.stop()
    }
  }

  test("dropDuplicatesWithinWatermark: dups within the delay dropped, state evicted after") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)]
    val stream = input.toDF().toDF("event_id", "epoch", "price")
      .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch")
      .withWatermark("timestamp", "2 minutes")
    val q = Enrich.dedupWithinWatermark(stream, "event_id")
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    def count(id: Long) = spark.table("deduped").collect()
      .count(_.getAs[Long]("event_id") == id)
    try {
      // same id twice in one batch and again in the next, all within the
      // 2-minute delay → exactly one emission
      input.addData((1L, t0, 5.0), (1L, t0 + 1, 5.0), (2L, t0 + 2, 6.0))
      q.processAllAvailable()
      input.addData((1L, t0 + 30, 5.0))
      q.processAllAvailable()
      assert(count(1L) == 1 && count(2L) == 1)
      // advance the watermark far past t0 → id state evicted → a late
      // re-send of id 1 is emitted again (the documented bounded-state trade-off)
      input.addData((99L, t0 + 3600, 1.0))
      q.processAllAvailable()
      input.addData((1L, t0 + 3601, 5.0))
      q.processAllAvailable()
      assert(count(1L) == 2, "state for id 1 should have been evicted with the watermark")
    } finally q.stop()
  }

  test("checkpointed query resumes from state (restart keeps candle revisions)") {
    implicit val ctx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt").toString
    val input = MemoryStream[(String, Long, Double, Double)]
    def pipeline = OhlcPipeline.candles(
      input.toDF().toDF("base", "epoch", "price", "quantity")
        .withColumn("timestamp", col("epoch").cast("timestamp")).drop("epoch"),
      watermark = Some("2 minutes"))
    // memory sink can't recover from a checkpoint; foreachBatch can —
    // same sink family the reference's update-mode Kafka writer belongs to
    val seen = new java.util.concurrent.ConcurrentHashMap[(String, Long), (Double, Double)]()
    def start() = pipeline.writeStream
      .outputMode("update")
      .option("checkpointLocation", SinkFactory.checkpointDir(ckpt, "candles_ck"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach { r =>
          seen.put(
            (r.getAs[String]("base"),
              r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond),
            (r.getAs[Double]("close"), r.getAs[Double]("volume")))
        }
      }
      .start()

    val q1 = start()
    try {
      input.addData(("a", t0 + 10, 5.0, 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.get(("a", t0)) == (5.0, 1.0))

    val q2 = start()
    try {
      input.addData(("a", t0 + 20, 9.0, 2.0))
      q2.processAllAvailable()
      // state restored across restart: volume includes the pre-restart row
      assert(seen.get(("a", t0)) == (9.0, 3.0))
    } finally q2.stop()
  }

  test("transformWithState: closed candles incl. an idle key closed by a timer") {
    implicit val ctx = spark.sqlContext
    import graft.ohlc.Trade
    def trade(base: String, sec: Long, p: Double) =
      Trade(base, new java.sql.Timestamp(sec * 1000), p, 1.0)
    withRocksDb {
      val in = MemoryStream[Trade]
      val q = TwsCandles.closedCandles(in.toDS()).writeStream.format("memory")
        .queryName("tws_candles").outputMode("append").start()
      try {
        // b trades once then goes quiet; a keeps trading and advances the
        // global watermark past w0's close (t0+600 - 120s lateness)
        Seq(
          Seq(trade("a", t0 + 5, 1.0), trade("a", t0 + 20, 3.0), trade("b", t0 + 10, 9.0)),
          Seq(trade("a", t0 + 600, 1.1)),
          Seq(trade("a", t0 + 601, 1.2))
        ).foreach { batch => in.addData(batch); q.processAllAvailable() }
        val got = spark.table("tws_candles").collect().map(r =>
          (r.getAs[String]("base"), r.getAs[java.sql.Timestamp]("start_ts").getTime,
            r.getAs[Double]("open"), r.getAs[Double]("close"))).toSeq.sorted
        // a's w0 closes on a's own event time, with the (open=1.0,
        // close=3.0) tie rule; the idle key b's w0 closes only through its
        // event-time TIMER (b's own event time never moved)
        assert(got == Seq(("a", t0 * 1000, 1.0, 3.0), ("b", t0 * 1000, 9.0, 9.0)), got)
      } finally q.stop()
    }
  }

  test("TwsCandles: a drained idle key drops all its state once its timer fires") {
    implicit val ctx = spark.sqlContext
    import graft.ohlc.Trade
    def trade(base: String, sec: Long, p: Double) =
      Trade(base, new java.sql.Timestamp(sec * 1000), p, 1.0)
    val aTrades = Seq(Seq(trade("a", t0 + 5, 1.0)), Seq(trade("a", t0 + 600, 1.1)),
      Seq(trade("a", t0 + 601, 1.2)), Seq(trade("a", t0 + 602, 1.3)))
    // state rows after a's script; with `withB`, b trades once in batch 0
    def stateRows(name: String, withB: Boolean): Long = {
      val in = MemoryStream[Trade]
      val q = TwsCandles.closedCandles(in.toDS()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      try {
        aTrades.zipWithIndex.foreach { case (batch, i) =>
          in.addData(if (withB && i == 0) batch :+ trade("b", t0 + 10, 9.0) else batch)
          q.processAllAvailable()
        }
        assert(!withB || spark.table(name).collect().exists(_.getAs[String]("base") == "b"),
          "b's timer must have fired")
        q.lastProgress.stateOperators.head.numRowsTotal
      } finally q.stop()
    }
    withRocksDb {
      val withB = stateRows("tws_drain_ab", withB = true)
      val onlyA = stateRows("tws_drain_a", withB = false)
      // b's `open` windows and `maxTs` are gone: the store holds exactly
      // what a run without b holds
      assert(onlyA > 0 && withB == onlyA,
        s"drained key b must not leak state: with b $withB rows, a alone $onlyA")
    }
  }

  test("Scd2Stream.versionsOf: order-independent change capture, ms ties, open tail") {
    import java.sql.Timestamp
    import graft.stream.Scd2Stream
    import graft.stream.Scd2Stream.Ev
    def ts(micros: Long): Timestamp = {
      val t = new Timestamp(micros / 1000)
      t.setNanos(((micros % 1000000) * 1000).toInt)
      t
    }
    // a -> a -> b -> a: three versions; events fed OUT of order (the
    // flatMapGroupsWithState iterator contract), with two events in the
    // same millisecond distinguished only at microsecond grain
    val evs = Seq(
      Ev(7L, ts(2000500), 3L, "b"),
      Ev(7L, ts(1000000), 1L, "a"),
      Ev(7L, ts(2000100), 2L, "a"), // same ms as event 3, earlier micros
      Ev(7L, ts(3000000), 4L, "a"))
    val got = Scd2Stream.versionsOf(7L, evs)
    assert(got.map(v => (v.version, v.attr, v.valid_from, v.valid_to)) == Seq(
      (1L, "a", 1000L, Some(2000L)),
      (2L, "b", 2000L, Some(3000L)),
      (3L, "a", 3000L, None)))
    // any permutation produces the identical version table
    evs.permutations.take(12).foreach { p =>
      assert(Scd2Stream.versionsOf(7L, p) == got)
    }
  }

  test("optimizer rewrite fires under the micro-batch planner " +
    "(first_by_ordered in lastExecution, no min_by)") {
    import org.apache.spark.sql.functions._
    val cs = spark.newSession()
    cs.conf.set("spark.sql.shuffle.partitions", "4")
    cs.experimental.extraOptimizations =
      cs.experimental.extraOptimizations :+ graft.plans.OrderedFirstLastRewrite
    val src = graft.core.Tables.eventsStream(cs, "/root/testdata/sf0.001")
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(expr("min_by(value, struct(ts, value))").as("open"),
        expr("max_by(value, struct(ts, value))").as("close"))
    val q = src.writeStream.outputMode("complete").format("memory")
      .queryName("rewrite_streamed_guard")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("first_by_ordered") && plan.contains("last_by_ordered"),
        s"rewrite did not reach the micro-batch plan:\n$plan")
      assert(!plan.contains("min_by") && !plan.contains("SortAggregate"),
        s"builtin survived under streaming:\n$plan")
      // and the rewritten streaming answer matches the batch builtin
      val batch = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(expr("min_by(value, struct(ts, value))").as("open"),
          expr("max_by(value, struct(ts, value))").as("close"))
      def m(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
      assert(m(cs.table("rewrite_streamed_guard").collect()) == m(batch.collect()))
    } finally {
      q.stop()
      cs.streams.resetTerminated()
    }
  }
}
