package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The r18 lakehouse lifecycle verbs — RESTORE, catalog-door schema
  * evolution, OPTIMIZE ZORDER — mechanical claims behind
  * q_tradelog_restore / q_tradelog_evolve_sql / q_tradelog_optimize_z:
  *
  *   1. RESTORE is a NEW commit whose block set equals the target
  *      generation's (history preserved: the rolled-past generation is
  *      still readable), post-restore appends continue the sequence,
  *      and an incremental consumer synced past the restore sees later
  *      appends — never a poisoned position;
  *   2. the restore horizon is the retention grace: a target generation
  *      whose data files were vacuumed fails loudly;
  *   3. `ALTER TABLE ADD COLUMNS` widens the xcols ledger in one
  *      header-only commit (old rows null-fill; no data file touched),
  *      `INSERT INTO` the widened catalog table lands typed values, and
  *      the append-only rules refuse everything else (duplicates,
  *      reserved names, unsupported types, positions, drops);
  *   4. OPTIMIZE ZORDER: on a (time × user)-dense log, a 2-D predicate
  *      skips strictly more blocks under the Morton layout than under
  *      the ts-sort — measured, not asserted by vibes — with identical
  *      results (skipping is advisory, residuals are exact);
  *   5. the `delmode` table property survives unrelated commits.
  */
class TradeLogLifecycleSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-life-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def dmlSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tlog", classOf[TradeLogCatalog].getName)
    s
  }

  private def sqlTable(dir: String): String = s"tlog.`$dir`"

  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i, ts(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def writeRows(dir: String, rows: Seq[Row], mode: String,
      blockRows: Int = 4): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
      .repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode(mode).option("blockRows", blockRows).save(dir)

  private def ids(df: DataFrame): Set[Long] =
    df.select("event_id").collect().map(_.getLong(0)).toSet

  // ---- RESTORE ----------------------------------------------------------

  test("restore is a new commit equal to the target generation; history and appends survive") {
    val dir = tmpDir("restore")
    writeRows(dir, dayRows(1, 0), "overwrite")  // gen 1
    writeRows(dir, dayRows(2, 10), "append")    // gen 2
    val newGen = TradeLogMaintenance.restoreTo(dir, 1L)
    assert(newGen == 3L)
    assert(TradeLogFormat.readManifestHeader(dir).gen == 3L)
    // head == gen 1's content
    assert(ids(spark.read.format(Fmt).load(dir)) == (0L until 4L).toSet)
    // history preserved: the rolled-past generation still reads
    assert(ids(spark.read.format(Fmt).option("atGeneration", 2).load(dir))
      == (0L until 4L).toSet ++ (10L until 14L).toSet)
    // an incremental consumer synced at gen 2: the restore adds no blocks
    // (it re-references gen 1's), so no phantom additions...
    assert(spark.read.format(Fmt).option("changesSinceGeneration", 2)
      .load(dir).count() == 0L)
    // ...and post-restore appends continue the sequence and flow to it
    writeRows(dir, dayRows(3, 20), "append")    // gen 4
    assert(ids(spark.read.format(Fmt).load(dir))
      == (0L until 4L).toSet ++ (20L until 24L).toSet)
    assert(ids(spark.read.format(Fmt).option("changesSinceGeneration", 2)
      .load(dir)) == (20L until 24L).toSet)
    val seqs = TradeLogFormat.readManifest(dir).map(_.seq)
    assert(seqs.distinct.size == seqs.size, s"seq collision after restore: $seqs")
  }

  test("restore refuses in-flight generations and vacuumed horizons") {
    val dir = tmpDir("restore-bad")
    writeRows(dir, dayRows(1, 0), "overwrite")
    writeRows(dir, dayRows(2, 10), "append")
    val above = intercept[IllegalArgumentException] {
      TradeLogMaintenance.restoreTo(dir, 99L)
    }
    assert(above.getMessage.contains("not committed"))
    // expire day-1's file: purge below a day-2 cutoff unlinks it (grace 0)
    TradeLogFormat.purgeBefore(dir,
      ts("2024-01-02 00:00:00").getTime * 1000L)
    val gone = intercept[IllegalArgumentException] {
      TradeLogMaintenance.restoreTo(dir, 1L)
    }
    assert(gone.getMessage.contains("restore horizon"),
      s"expected the horizon message, got: ${gone.getMessage}")
  }

  // ---- ALTER TABLE ADD COLUMNS (catalog-door evolution) ------------------

  test("ALTER ADD COLUMNS widens header-only; INSERT INTO lands typed values") {
    val dir = tmpDir("alter")
    writeRows(dir, dayRows(1, 0), "overwrite")
    val filesBefore = {
      val (fs, root) = TradeLogFormat.fs(dir)
      fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".gtl"))
        .toSet
    }
    val s = dmlSession()
    s.sql(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (xseq BIGINT, xtag STRING)")
    val info = TradeLogFormat.readManifestHeader(dir)
    assert(info.xcols.map(_.name) == Seq("xseq", "xtag"))
    // header-only: no data file written, old blocks keep nCols = 6
    val (fs, root) = TradeLogFormat.fs(dir)
    assert(fs.listStatus(root).map(_.getPath.getName)
      .filter(_.endsWith(".gtl")).toSet == filesBefore)
    assert(TradeLogFormat.readManifest(dir)
      .forall(_.nCols == TradeLogFormat.BaseCols))
    // old rows null-fill through the catalog door
    val widened = s.sql(s"SELECT event_id, xseq, xtag FROM ${sqlTable(dir)}")
    assert(widened.collect().forall(r => r.isNullAt(1) && r.isNullAt(2)))
    // INSERT INTO with the widened schema
    s.sql(s"INSERT INTO ${sqlTable(dir)} VALUES " +
      "(100, TIMESTAMP '2024-01-05 00:00:00', 7, 'tx', 2.5, '{}', 42, 'TAG')")
    val got = s.sql(s"SELECT xseq, xtag FROM ${sqlTable(dir)} " +
      "WHERE event_id = 100").head()
    assert(got.getLong(0) == 42L && got.getString(1) == "TAG")
    assert(s.sql(s"SELECT count(*) AS n FROM ${sqlTable(dir)}")
      .head().getLong(0) == 5L)
  }

  test("the evolution door refuses what append-only cannot express") {
    val dir = tmpDir("alter-bad")
    writeRows(dir, dayRows(1, 0), "overwrite")
    val s = dmlSession()
    def refuse(sql: String, want: String): Unit = {
      val e = intercept[Exception] { s.sql(sql) }
      // unwrap: Spark may nest the cause under an AnalysisException
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains(want), s"expected '$want' in: $msgs")
    }
    // Spark's own analysis catches base-schema duplicates first
    // (FIELD_ALREADY_EXISTS); the format-level guard below is for direct
    // API callers that bypass analysis
    refuse(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (value DOUBLE)",
      "already exists")
    val dup = intercept[IllegalArgumentException] {
      TradeLogFormat.addColumns(dir,
        Seq(org.apache.spark.sql.types.StructField("VALUE",
          org.apache.spark.sql.types.DoubleType)))
    }
    assert(dup.getMessage.contains("duplicate"))
    refuse(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (_file STRING)",
      "reserves the column name")
    refuse(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (x INT)",
      "long/double/string/timestamp")
    refuse(s"ALTER TABLE ${sqlTable(dir)} ADD COLUMNS (x BIGINT FIRST)",
      "append-only")
    refuse(s"ALTER TABLE ${sqlTable(dir)} DROP COLUMN props",
      "append-only ADD COLUMNS")
    // nothing committed by the refusals
    assert(TradeLogFormat.readManifestHeader(dir).xcols.isEmpty)
  }

  // ---- OPTIMIZE ZORDER (measured 2-D skip) -------------------------------

  test("z-order beats the ts-sort on a 2-D predicate — measured block skip") {
    // 64 users x 64 hours, one row each; 64-row blocks → 64 blocks either
    // way. ts-sort: each block = one hour x ALL users (user range never
    // prunes). z-order: each block ≈ an 8x8 (hour x user) Morton tile —
    // a time-slice x point-user predicate intersects ~1 tile.
    val rows = for (u <- 0 until 64; h <- 0 until 64) yield Row(
      (u * 64 + h).toLong,
      new Timestamp(ts("2024-01-01 00:00:00").getTime + h * 3600L * 1000L),
      u.toLong, "t", 1.0, "{}")
    def write(dir: String, sortCol: org.apache.spark.sql.Column): Unit =
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
        .withColumn("__k", sortCol)
        .repartitionByRange(1, col("__k")).sortWithinPartitions("__k")
        .drop("__k")
        .write.format(Fmt).mode("overwrite")
        .option("blockRows", 64).save(dir)
    val tsDir = tmpDir("zorder-ts")
    val zDir = tmpDir("zorder-z")
    write(tsDir, col("ts"))
    val hourIdx = ((unix_micros(col("ts")) / lit(3600000000L)) -
      lit(ts("2024-01-01 00:00:00").getTime / 3600000L)).cast("long")
    write(zDir, graft.core.Layout.zorderKey(hourIdx, col("user_id"), bits = 6))
    def slice(dir: String): DataFrame =
      spark.read.format(Fmt).load(dir)
        .filter(col("ts") >= ts("2024-01-01 08:00:00") &&
          col("ts") < ts("2024-01-01 16:00:00") &&
          col("user_id") === 17L)
    def selected(df: DataFrame): Int =
      df.queryExecution.sparkPlan.collect {
        case b: BatchScanExec => b.scan
      }.collectFirst { case sc: TradeLogScan => sc.selectedBlocks.size }
        .getOrElse(fail("no TradeLogScan in plan"))
    val tsSel = selected(slice(tsDir))
    val zSel = selected(slice(zDir))
    assert(tsSel == 8, s"ts-sort should select one block per hour: $tsSel")
    assert(zSel < tsSel,
      s"z-order must skip on BOTH dimensions: z=$zSel vs ts=$tsSel")
    // identical results — skipping is advisory, residuals are exact
    assert(ids(slice(zDir)) == ids(slice(tsDir)) && ids(slice(zDir)).size == 8)
  }

  // ---- table property persistence ----------------------------------------

  test("delmode survives unrelated commits") {
    val dir = tmpDir("delmode")
    writeRows(dir, dayRows(1, 0), "overwrite")
    TradeLogFormat.setDeleteMode(dir, "mor")
    writeRows(dir, dayRows(2, 10), "append")
    TradeLogFormat.purgeBefore(dir, 0L) // a no-op purge still commits
    assert(TradeLogFormat.readManifestHeader(dir).delMode.contains("mor"))
  }
}
