package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** OPTIMIZE as a history-preserving commit (VERDICT r18 #4/#5) — the
  * mechanical claims behind q_tradelog_optimize_z /
  * q_tradelog_optimize_mor that the digest oracles cannot see:
  *
  *   1. the rewrite is a COMMIT on the same table path: head generation
  *      advances, content is byte-preserved, post-optimize appends
  *      continue the sequence, and time travel SPANS the rewrite
  *      (pre-optimize pinned reads keep serving under the DML grace);
  *   2. conflict validation is generation-exact and re-runs per
  *      optimistic retry: any commit landing between the clustered read
  *      and the publish fails the OPTIMIZE loudly;
  *   3. accumulated delete vectors FOLD into the rewrite (masked read →
  *      clean clustered blocks) — one commit compacts and clusters;
  *   4. the fresh blocks carry replace provenance, so a resumed
  *      seq-watermark stream skips the restatement (the same
  *      dataChange=false rule as DV compaction).
  */
class TradeLogOptimizeSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"
  private val GraceKey = "graft.tradelog.dml.vacuum.grace.ms"

  private def tmpDir(tag: String): String =
    tempDir(s"graft-opt-$tag").toString

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def dmlSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.tlog", classOf[TradeLogCatalog].getName)
    s
  }

  private def dayRows(day: Int, base: Long): Seq[Row] =
    (0 until 4).map(i => Row(base + i, ts(f"2024-01-$day%02d 00:0$i:00"),
      100L + i, s"t$i", i * 1.5, s"p$i"))

  private def writeLog(dir: String, rows: Seq[Row], blockRows: Int = 4): Unit =
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), TradeLogFormat.schema)
      .repartitionByRange(1, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite")
      .option("blockRows", blockRows).save(dir)

  private def dataFiles(dir: String): Set[String] = {
    val (fs, root) = TradeLogFormat.fs(dir)
    fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".gtl")).toSet
  }

  private def content(dir: String, opts: Map[String, String] = Map.empty)
      : Seq[String] = {
    val r = opts.foldLeft(spark.read.format(Fmt)) {
      case (b, (k, v)) => b.option(k, v) }
    r.load(dir).collect().map(_.toString).sorted.toSeq
  }

  test("OPTIMIZE commits on the SAME path: history preserved, appends continue") {
    val dir = tmpDir("commit")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong(GraceKey, 3600000L)
    try {
      writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
      val before = content(dir)
      assert(TradeLogFormat.readManifestHeader(dir).gen == 1L)
      // re-cluster by user instead of ts — a real layout change
      val gen = TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
        _.repartitionByRange(1, col("user_id"))
          .sortWithinPartitions("user_id"))
      assert(gen == 2L, s"optimize must be ONE commit, got generation $gen")
      assert(content(dir) == before, "OPTIMIZE must be content-preserving")
      // time travel SPANS the rewrite: the pre-optimize generation still
      // serves (its data files are grace-protected)
      assert(content(dir, Map("atGeneration" -> "1")) == before,
        "a pinned pre-optimize read must keep serving")
      // appends continue the sequence on the same table
      spark.createDataFrame(
          spark.sparkContext.parallelize(dayRows(3, 20), 1),
          TradeLogFormat.schema)
        .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
      assert(TradeLogFormat.readManifestHeader(dir).gen == 3L)
      assert(spark.read.format(Fmt).load(dir).count() == 12L)
      // and the fresh blocks carry replace provenance
      val rb = TradeLogFormat.readManifest(dir).filter(_.isReplace)
      assert(rb.nonEmpty && rb.forall(b => b.srcMinSeq >= 0 &&
        b.srcMaxSeq >= b.srcMinSeq))
    } finally hconf.unset(GraceKey)
  }

  test("OPTIMIZE refuses a commit that landed between its read and its publish") {
    val dir = tmpDir("conflict")
    writeLog(dir, dayRows(1, 0))
    val e = intercept[Exception] {
      // the cluster closure sneaks an APPEND in after optimize captured
      // the head generation — a deterministic stand-in for any
      // concurrent writer landing inside the read->publish window
      TradeLogMaintenance.optimize(spark, dir, blockRows = 4) { df =>
        spark.createDataFrame(
            spark.sparkContext.parallelize(dayRows(2, 10), 1),
            TradeLogFormat.schema)
          .write.format(Fmt).mode("append").option("blockRows", 4).save(dir)
        df
      }
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(m => Option(m.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("a commit landed between"), msgs)
    // the refused rewrite left the table intact: both days committed,
    // nothing replaced, no stray generation
    assert(spark.read.format(Fmt).load(dir).count() == 8L)
    assert(TradeLogFormat.readManifest(dir).forall(!_.isReplace))
  }

  test("OPTIMIZE over a DV'd log folds the vectors: compact + cluster in one commit") {
    val dir = tmpDir("dvfold")
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    s.sql(s"DELETE FROM tlog.`$dir` WHERE user_id = 101")
    val masked = content(dir)
    assert(TradeLogFormat.readManifestRefs(dir).totalDeletes == 2L)
    TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
      _.repartitionByRange(1, col("user_id"))
        .sortWithinPartitions("user_id"))
    assert(content(dir) == masked,
      "the optimize of a DV'd log must preserve exactly the survivors")
    assert(TradeLogFormat.readManifestRefs(dir).totalDeletes == 0L,
      "no delete vector may survive an OPTIMIZE")
  }

  test("SCOPED optimize rewrites only in-scope blocks; out-of-scope files untouched") {
    val dir = tmpDir("scoped")
    // three day files (range partitions), one block each
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          dayRows(1, 0) ++ dayRows(2, 10) ++ dayRows(3, 20), 1),
        TradeLogFormat.schema)
      .repartitionByRange(3, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    val before = content(dir)
    val day2Blocks = TradeLogFormat.readManifest(dir)
      .filter(b => b.minTsUs >= us("2024-01-02 00:00:00") &&
        b.maxTsUs < us("2024-01-03 00:00:00"))
    val day2Files = day2Blocks.map(_.file).toSet
    val day2Seqs = day2Blocks.map(_.seq)
    val otherFiles = dataFiles(dir) -- day2Files
    // optimize ONLY day 2
    val gen = TradeLogMaintenance.optimizeRange(spark, dir,
      us("2024-01-02 00:00:00"), us("2024-01-03 00:00:00"), blockRows = 4)(
      _.repartitionByRange(1, col("user_id"))
        .sortWithinPartitions("user_id"))
    assert(gen == 2L)
    assert(content(dir) == before, "scoped optimize must preserve content")
    // out-of-scope files untouched and still referenced; day-2's replaced
    val after = dataFiles(dir)
    assert(otherFiles.subsetOf(after),
      "files outside the scope must survive untouched")
    assert((after intersect day2Files).isEmpty,
      "the scoped day's files must be rewritten (default grace reclaims)")
    // replace provenance covers ONLY the scoped blocks' seq range
    val rb = TradeLogFormat.readManifest(dir).filter(_.isReplace)
    assert(rb.nonEmpty && rb.forall(b =>
      b.srcMinSeq == day2Seqs.min && b.srcMaxSeq == day2Seqs.max),
      s"the fold must span exactly day 2's seqs $day2Seqs: $rb")
    // an empty scope is a no-op: no commit, generation unchanged
    assert(TradeLogMaintenance.optimizeRange(spark, dir,
      us("2025-01-01 00:00:00"), us("2025-02-01 00:00:00"), blockRows = 4)(
      identity) == 2L)
  }

  test("SCOPED optimize folds in-scope DVs and leaves out-of-scope vectors for a later pass") {
    val dir = tmpDir("scoped-dv")
    spark.createDataFrame(
        spark.sparkContext.parallelize(dayRows(1, 0) ++ dayRows(2, 10), 1),
        TradeLogFormat.schema)
      .repartitionByRange(2, col("ts")).sortWithinPartitions("ts")
      .write.format(Fmt).mode("overwrite").option("blockRows", 4).save(dir)
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    s.sql(s"DELETE FROM tlog.`$dir` WHERE user_id = 101") // one DV per day
    val masked = content(dir)
    TradeLogMaintenance.optimizeRange(spark, dir,
      us("2024-01-02 00:00:00"), us("2024-01-03 00:00:00"), blockRows = 4)(
      identity)
    assert(content(dir) == masked)
    val bs = TradeLogFormat.readManifest(dir)
    assert(bs.filter(_.nDel > 0).map(_.minTsUs).forall(
      _ < us("2024-01-02 00:00:00")),
      s"day-1's vector survives for a later pass, day-2's folded: $bs")
    assert(bs.map(_.nDel).sum == 1)
  }

  private def us(t: String): Long = ts(t).getTime * 1000L

  test("replace provenance is TRANSITIVE across a compaction→OPTIMIZE chain") {
    // r19 advice (high): after DV compaction folds seqs [a,b] into a
    // block at seq c, a later OPTIMIZE folding that block must stamp
    // src [min(a,c), max(b,c)] — NOT [c,c] — or a consumer positioned
    // inside [a,b] re-emits every survivor as new data.
    val dir = tmpDir("transitive") + "/log"
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val origSeqs = TradeLogFormat.readManifest(dir).map(_.seq)
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    s.sql(s"DELETE FROM tlog.`$dir` WHERE user_id = 101")
    // fold 1: DV compaction rewrites the masked blocks
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    val mid = TradeLogFormat.readManifest(dir).filter(_.isReplace)
    assert(mid.nonEmpty && mid.forall(_.srcMinSeq == origSeqs.min))
    // fold 2: whole-log OPTIMIZE folds the compaction's output again
    TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
      _.repartitionByRange(1, col("user_id"))
        .sortWithinPartitions("user_id"))
    val fin = TradeLogFormat.readManifest(dir).filter(_.isReplace)
    assert(fin.nonEmpty)
    assert(fin.forall(b => b.srcMinSeq == origSeqs.min &&
        b.srcMaxSeq == origSeqs.max),
      s"the second fold must carry exactly the ORIGINAL span $origSeqs — " +
        "not the intermediate blocks' seqs (a consumer decides skip/emit " +
        "against ORIGINAL content provenance): " +
        fin.map(b => (b.seq, b.srcMinSeq, b.srcMaxSeq)).toString)
  }

  test("a stream synced before TWO successive folds resumes without duplicates") {
    val dir = tmpDir("transtream") + "/log"
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val ckpt = tmpDir("transtream-ckpt")
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
    assert(drainCkpt().size == 8) // sync point: everything consumed
    TradeLogFormat.setDeleteMode(dir, "mor")
    val s = dmlSession()
    s.sql(s"DELETE FROM tlog.`$dir` WHERE user_id = 101")
    TradeLogMaintenance.compactDeletes(spark, dir, blockRows = 4)
    TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
      _.repartitionByRange(1, col("user_id"))
        .sortWithinPartitions("user_id"))
    assert(drainCkpt().isEmpty,
      "a double fold of consumed blocks must stay invisible to the stream")
  }

  test("a resumed stream skips an OPTIMIZE's restatement") {
    val dir = tmpDir("stream") + "/log"
    writeLog(dir, dayRows(1, 0) ++ dayRows(2, 10))
    val ckpt = tmpDir("stream-ckpt")
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
    assert(drainCkpt().size == 8)
    TradeLogMaintenance.optimize(spark, dir, blockRows = 4)(
      _.repartitionByRange(1, col("user_id"))
        .sortWithinPartitions("user_id"))
    assert(drainCkpt().isEmpty,
      "an OPTIMIZE of consumed blocks must be invisible to a resumed stream")
  }
}
