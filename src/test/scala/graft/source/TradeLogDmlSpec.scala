package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkTestBase

/** SQL row-level operations through the connector (DELETE / UPDATE /
  * MERGE INTO) — the mechanical claims the catalog oracles cannot see:
  *
  *   1. a ts-range DELETE whose blocks are fully covered runs
  *      METADATA-ONLY (generation bumps, zero new data files, the
  *      dropped file leaves the manifest);
  *   2. a user-targeted DELETE takes the copy-on-write path and rewrites
  *      ONLY the blocks that might hold the user (bloom-pruned groups) —
  *      untouched files stay referenced byte-identical;
  *   3. UPDATE rewrites groups through the same COW lane;
  *   4. MERGE INTO applies the full CDC verb set (update / delete /
  *      insert) and the merged table read back THROUGH the connector
  *      matches q_cdc_apply's adjudicated result on the same slices —
  *      the verdict-r16 "reuse the q_cdc_apply oracle" check;
  *   5. canDeleteWhere refuses what it cannot prove exact (straddling
  *      ranges, non-ts vocabulary), routing those to COW.
  */
class TradeLogDmlSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"
  private val Sf = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-dml-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Child session with the path catalog registered (the SQL DML door). */
  private def dmlSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tlog", classOf[TradeLogCatalog].getName)
    s
  }

  private def sqlTable(dir: String): String = s"tlog.`$dir`"

  /** 4 rows/block, two clean day-separated blocks + one mixed-day block
    * when written ts-sorted in one partition of 12 rows. */
  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i, ts(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def writeLog(dir: String, rows: Seq[Row], blockRows: Int = 4,
      parts: Int = 1): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
      .repartitionByRange(parts, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite")
      .option("blockRows", blockRows).save(dir)

  private def dataFiles(dir: String): Set[String] = {
    val (fs, root) = TradeLogFormat.fs(dir)
    fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".gtl")).toSet
  }

  private def manifestFiles(dir: String): Set[String] =
    TradeLogFormat.readManifest(dir).map(_.file).toSet

  test("ts-range DELETE with covered blocks is metadata-only") {
    val dir = tmpDir("del-meta")
    // three single-day groups of 4 rows → three ts-tight blocks
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20))
    val before = dataFiles(dir)
    val genBefore = TradeLogFormat.readManifestHeader(dir).gen
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE ts < TIMESTAMP '2024-01-02 00:00:00'")
    // exactly day-1's 4 rows gone
    val left = s.sql(s"SELECT event_id FROM ${sqlTable(dir)}")
      .collect().map(_.getLong(0)).toSet
    assert(left == ((10L until 14L) ++ (20L until 24L)).toSet)
    // metadata-only: no data file was WRITTEN (COW would add .gtl files)
    assert(dataFiles(dir).subsetOf(before),
      "a metadata delete must not write data files")
    assert(TradeLogFormat.readManifestHeader(dir).gen > genBefore)
  }

  test("a straddling ts cut refuses the metadata path and rewrites only matching groups") {
    val dir = tmpDir("del-straddle")
    // TWO writer partitions → day-1 and day-2 land in separate files
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10), parts = 2)
    val before = dataFiles(dir)
    val day2FilesBefore = TradeLogFormat.readManifest(dir)
      .filter(_.minTsUs >= ts("2024-01-02 00:00:00").getTime * 1000L)
      .map(_.file).toSet
    val s = dmlSession()
    // mid-block cut: day-1's block straddles the range, so canDeleteWhere
    // must refuse and the command must fall to copy-on-write — which
    // deletes EXACTLY the first 3 rows (a metadata drop would have taken
    // the 4th with them or failed)
    s.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE ts < TIMESTAMP '2024-01-01 00:02:30'")
    val left = s.sql(s"SELECT event_id FROM ${sqlTable(dir)}")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(3L, 10L, 11L, 12L, 13L))
    assert((manifestFiles(dir) -- before).nonEmpty,
      "a straddling delete must take the COW path (fresh data files)")
    // the runtime _file group filter keeps the rewrite to MATCHING files:
    // day-2 held no matching row, so its original file is still serving
    val day2After = TradeLogFormat.readManifest(dir)
      .filter(_.minTsUs >= ts("2024-01-02 00:00:00").getTime * 1000L)
      .map(_.file).toSet
    assert(day2After == day2FilesBefore,
      s"non-matching groups must not be rewritten: " +
        s"$day2FilesBefore -> $day2After")
  }

  /** Guards a subtle soundness dependency: the COW write replaces
    * exactly the blocks the scan PLANNED, which is only correct because
    * the scan never receives a pushable form of the command condition —
    * Spark wraps the survivor filter as Not(EqualNullSafe(cond, true)),
    * untranslatable to V2 filters over nullable columns, so no static
    * ts-skip can drop a fully-covered block from the replace set. If a
    * future Spark simplification ever made that pushable, this test
    * breaks: the fully-covered first block's rows would survive. */
  test("COW delete removes fully-covered blocks too (no unsound static skip)") {
    val dir = tmpDir("del-covered")
    val rows = (0 until 6).map(i => Row(i.toLong,
      ts(s"2024-01-01 00:0$i:00"), 100L + i, s"t$i", i * 1.5, s"p$i"))
    writeLog(dir, rows, blockRows = 2) // blocks: (0,1) (2,3) (4,5)
    val s = dmlSession()
    // cutoff mid-block-1: block 0 fully covered, block 1 straddles —
    // metadata tier refused, COW must still delete block 0's rows
    s.sql(s"DELETE FROM ${sqlTable(dir)} " +
      "WHERE ts < TIMESTAMP '2024-01-01 00:02:30'")
    val left = s.sql(s"SELECT event_id FROM ${sqlTable(dir)}")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(3L, 4L, 5L),
      s"rows of FULLY-covered blocks must be deleted by the COW path: $left")
  }

  test("user-targeted DELETE takes copy-on-write and rewrites only bloom-hit groups") {
    val dir = tmpDir("del-cow")
    // two user-disjoint blocks: users 100-103 (day 1), users 200-203 (day 2)
    val rowsA = (0 until 4).map(i =>
      Row(i.toLong, ts(s"2024-01-01 00:0$i:00"), 100L + i, "a", 1.0, "x"))
    val rowsB = (0 until 4).map(i =>
      Row(10L + i, ts(s"2024-01-02 00:0$i:00"), 200L + i, "b", 2.0, "y"))
    writeLog(dir, rowsA ++ rowsB)
    val filesBefore = manifestFiles(dir)
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 201")
    val left = s.sql(s"SELECT user_id FROM ${sqlTable(dir)}")
      .collect().map(_.getLong(0)).toSet
    assert(left == Set(100L, 101L, 102L, 103L, 200L, 202L, 203L))
    // COW: new data file(s) appeared in the manifest…
    val filesAfter = manifestFiles(dir)
    assert((filesAfter -- filesBefore).nonEmpty,
      "a row-level delete rewrites groups into fresh files")
    // …and the day-1 block (bloom-certain miss for 201) was NOT replaced:
    // its original file is still referenced
    val after = TradeLogFormat.readManifest(dir)
    val day1 = after.filter(_.maxTsUs <
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaTimestamp(ts("2024-01-02 00:00:00")))
    assert(day1.nonEmpty && day1.forall(b => filesBefore(b.file)),
      "an unaffected group must survive the COW commit untouched")
  }

  test("UPDATE rewrites through the COW lane") {
    val dir = tmpDir("upd")
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val s = dmlSession()
    s.sql(s"UPDATE ${sqlTable(dir)} SET value = value * 2 " +
      "WHERE event_id >= 10")
    val got = s.sql(s"SELECT event_id, value FROM ${sqlTable(dir)}")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until 4).foreach(i => assert(got(i.toLong) == i * 1.5))
    (0 until 4).foreach(i => assert(got(10L + i) == i * 3.0))
    assert(got.size == 8)
  }

  test("MERGE INTO applies the CDC verb set and matches q_cdc_apply through the connector") {
    val dir = tmpDir("merge")
    val s = dmlSession()
    val ev = graft.core.Tables.events(s, Sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    // target: the latest FULL row per user of the snapshot slice
    ev.filter(pmod(col("event_id"), lit(5)) < 3)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
      .repartitionByRange(2, col("user_id")).sortWithinPartitions("user_id")
      .write.format(Fmt).mode("overwrite").option("blockRows", 8).save(dir)
    // source: the latest change per user with the q_cdc_apply op rule
    ev.filter(pmod(col("event_id"), lit(5)) >= 3)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
      .withColumn("op",
        when(pmod(col("event_id"), lit(7)) === 0, lit("D")).otherwise("U"))
      .createOrReplaceTempView("chg")
    s.sql(
      s"""MERGE INTO ${sqlTable(dir)} t USING chg c ON t.user_id = c.user_id
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = c.value
         |WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT
         |  (event_id, ts, user_id, event_type, value, props)
         |  VALUES (c.event_id, c.ts, c.user_id, c.event_type, c.value,
         |          c.props)""".stripMargin)
    val got = s.read.format(Fmt).load(dir)
      .select(col("user_id"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the adjudicated CDC apply on the same slices (q_cdc_apply's oracle
    // grades it in the driver gate) — the connector round-trip must agree
    val expect = graft.queries.Stats.cdcApply(spark, Sf)
      .select(col("user_id"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expect,
      s"MERGE result diverged from q_cdc_apply: got ${got.size} rows, " +
        s"expected ${expect.size}")
    // idempotent re-merge: same source, same final state
    s.sql(
      s"""MERGE INTO ${sqlTable(dir)} t USING chg c ON t.user_id = c.user_id
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = c.value
         |WHEN NOT MATCHED AND c.op <> 'D' THEN INSERT
         |  (event_id, ts, user_id, event_type, value, props)
         |  VALUES (c.event_id, c.ts, c.user_id, c.event_type, c.value,
         |          c.props)""".stripMargin)
    val again = s.read.format(Fmt).load(dir)
      .select(col("user_id"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == expect, "re-merging the same source must be a no-op")
  }

  test("SQL time travel: VERSION AS OF pins, above-head refused, TIMESTAMP AS OF resolves by publish time") {
    val dir = tmpDir("ttravel")
    val s = dmlSession()
    // two commits, far enough apart for distinct snapshot mtimes
    writeLog(dir, dayRows(1, 0))
    Thread.sleep(20)
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(2, 10), 1),
        TradeLogFormat.schema)
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
    def ids(sql: String): Set[Long] =
      s.sql(sql).collect().map(_.getLong(0)).toSet
    val gen1 = (0L until 4L).toSet
    val all = gen1 ++ (10L until 14L).toSet
    assert(ids(s"SELECT event_id FROM ${sqlTable(dir)} VERSION AS OF 1") ==
      gen1, "VERSION AS OF 1 must serve the pre-append snapshot")
    assert(ids(s"SELECT event_id FROM ${sqlTable(dir)} VERSION AS OF 2") ==
      all)
    // a version above the committed head is an in-flight/abandoned claim
    val above = intercept[Exception] {
      s.sql(s"SELECT event_id FROM ${sqlTable(dir)} VERSION AS OF 99")
        .collect()
    }
    assert(above.getMessage.contains("not committed"), above.getMessage)
    // TIMESTAMP AS OF: commit time is the snapshot file's mtime
    val (fs, root) = TradeLogFormat.fs(dir)
    def mtime(g: Int): Long = fs.getFileStatus(new org.apache.hadoop.fs.Path(
      root, s"${TradeLogFormat.ManifestDirName}/gen-$g.manifest"))
      .getModificationTime
    assert(mtime(1) < mtime(2), "spec premise: distinct commit times")
    assert(ids(s"SELECT event_id FROM ${sqlTable(dir)} " +
      s"TIMESTAMP AS OF timestamp_millis(${mtime(1)})") == gen1,
      "a timestamp between the two publishes must serve generation 1")
    assert(ids(s"SELECT event_id FROM ${sqlTable(dir)} " +
      s"TIMESTAMP AS OF timestamp_millis(${mtime(2) + 3600000L})") == all)
    val early = intercept[Exception] {
      s.sql(s"SELECT event_id FROM ${sqlTable(dir)} " +
        s"TIMESTAMP AS OF timestamp_millis(${mtime(1) - 3600000L})")
        .collect()
    }
    assert(early.getMessage.contains("no committed generation"),
      early.getMessage)
  }

  /** Row-level ops × schema evolution: a MERGE against a WIDENED log must
    * write replacement blocks in the union schema — old narrow blocks it
    * rewrites come back as wide blocks whose extras are null for carried
    * rows, and the catalog door serves the union schema for the
    * assignment resolution. Also pins INSERT INTO through the catalog
    * door (the plain append verb of the SQL surface). */
  test("MERGE on a widened log rewrites narrow blocks into the union schema; INSERT INTO appends") {
    val dir = tmpDir("evolve-dml")
    // gen 1: base-schema rows (narrow blocks, nCols = 6)
    writeLog(dir, Seq(
      Row(1L, ts("2024-01-01 00:00:00"), 10L, "a", 1.0, "x"),
      Row(2L, ts("2024-01-01 00:01:00"), 20L, "b", 2.0, "y")))
    // gen 2: widening append with one extra column
    val wide = StructType(TradeLogFormat.schema.fields :+
      StructField("xtag", StringType))
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(3L, ts("2024-01-02 00:00:00"), 30L, "c", 3.0, "z", "T3")), 1),
        wide)
      .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
    val s = dmlSession()
    // source: update user 10's value, insert user 40 (with an xtag) —
    // the view lives in the CHILD session, where the MERGE resolves
    s.createDataFrame(
        s.sparkContext.parallelize(Seq(
          Row(11L, ts("2024-01-03 00:00:00"), 10L, "a", 9.0, "x2", "T1"),
          Row(41L, ts("2024-01-03 00:01:00"), 40L, "d", 4.0, "w", "T4")), 1),
        wide)
      .createOrReplaceTempView("evolve_chg")
    s.sql(
      s"""MERGE INTO ${sqlTable(dir)} t USING evolve_chg c
         |ON t.user_id = c.user_id
         |WHEN MATCHED THEN UPDATE SET value = c.value, xtag = c.xtag
         |WHEN NOT MATCHED THEN INSERT
         |  (event_id, ts, user_id, event_type, value, props, xtag)
         |  VALUES (c.event_id, c.ts, c.user_id, c.event_type, c.value,
         |          c.props, c.xtag)""".stripMargin)
    val got = s.read.format(Fmt).load(dir)
      .selectExpr("user_id", "value", "xtag")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), Option(r.getString(2)).getOrElse("-"))).toMap
    assert(got == Map(
      10L -> (9.0, "T1"),  // updated, xtag assigned
      20L -> (2.0, "-"),   // carried from a rewritten narrow block: null xtag
      30L -> (3.0, "T3"),  // untouched wide block
      40L -> (4.0, "T4")), // inserted
      s"merged evolved state wrong: $got")
    // INSERT INTO through the catalog door (by-name resolution)
    s.sql(s"INSERT INTO ${sqlTable(dir)} VALUES " +
      "(50, TIMESTAMP '2024-01-04 00:00:00', 50, 'e', 5.0, 'v', 'T5')")
    val n = s.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)}")
      .collect().head.getLong(0)
    assert(n == 5L, s"INSERT INTO must append one row, got $n total")
  }

  test("`_file` is a reserved name and versioned loads of non-tables fail as NoSuchTable") {
    // (a) a widening write must not be able to shadow the metadata column
    val dir = tmpDir("reserved")
    val bad = StructType(TradeLogFormat.schema.fields :+
      StructField("_file", StringType))
    val err = intercept[Exception] {
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(
            Row(1L, ts("2024-01-01 00:00:00"), 1L, "a", 1.0, "p", "hijack")),
            1), bad)
        .write.format(Fmt).mode("overwrite").save(dir)
    }
    assert(err.getMessage != null && err.getMessage.contains("_file"),
      s"a `_file` data column must be rejected at the write: $err")
    // (b) VERSION AS OF on a directory with no committed manifest is
    // TABLE_OR_VIEW_NOT_FOUND, not a raw FileNotFoundException
    val s = dmlSession()
    val missing = tmpDir("missing")
    val nf = intercept[Exception] {
      s.sql(s"SELECT * FROM tlog.`$missing` VERSION AS OF 1").collect()
    }
    assert(nf.getMessage.toUpperCase.contains("NOT") &&
      !nf.toString.contains("FileNotFoundException"),
      s"versioned load of a non-table must resolve as not-found: $nf")
  }

  /** The documented stream-offset contract under row-level DML, pinned:
    * a COW rewrite of an ALREADY-CONSUMED block restates its surviving
    * rows at tail seqs, so a checkpointed stream re-receives exactly the
    * survivors (the Delta-CDF restatement caveat) — never loses data,
    * never crashes on the vanished seqs (offsets are seq watermarks). */
  test("a stream resumes across a COW restatement: survivors re-delivered, nothing lost") {
    val dir = tmpDir("stream-cow") + "/log"
    val rows = Seq(
      Row(1L, ts("2024-01-01 00:00:01"), 1L, "a", 1.0, "{}"),
      Row(2L, ts("2024-01-01 00:00:02"), 2L, "a", 2.0, "{}"),
      Row(3L, ts("2024-01-02 00:00:03"), 3L, "b", 3.0, "{}"),
      Row(4L, ts("2024-01-02 00:00:04"), 4L, "b", 4.0, "{}"))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
      .write.format(Fmt).mode("overwrite").option("blockRows", 2).save(dir)
    val ckpt = tmpDir("stream-cow-ckpt")
    def drainCkpt(): Seq[Long] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val q = spark.readStream.format(Fmt).load(dir)
        .writeStream.outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => got.add(r.getLong(0))); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000L)
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }
    assert(drainCkpt().sorted == Seq(1L, 2L, 3L, 4L), "phase 1 drains all")
    // COW-delete user 2: the consumed (1,2) block is replaced, its
    // survivor (event 1) re-enters at a tail seq above the watermark
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)} WHERE user_id = 2")
    val phase2 = drainCkpt()
    assert(phase2.sorted == Seq(1L),
      s"the rewrite must restate exactly the survivors of the replaced " +
        s"block — got $phase2")
    // and the table itself is intact
    val all = s.sql(s"SELECT event_id FROM ${sqlTable(dir)}")
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 3L, 4L))
  }

  test("DELETE everything empties the table metadata-only") {
    val dir = tmpDir("del-all")
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val s = dmlSession()
    s.sql(s"DELETE FROM ${sqlTable(dir)}")
    assert(s.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)}")
      .collect().head.getLong(0) == 0L)
  }
}
