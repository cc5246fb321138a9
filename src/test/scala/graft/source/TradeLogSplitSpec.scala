package graft.source

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import TradeLogFormat.BlockMeta

/** Read splits of the tradelog scan ([[TradeLogPartition.plan]]): sized by
  * Spark's `spark.sql.files.*` rule, packed in (file, offset) order, and
  * the `optimize` that now compacts because of it. */
class TradeLogSplitSpec extends SparkTestBase {

  private val Fmt = "graft-tradelog"

  private def tmpDir(tag: String): String = tempDir(s"graft-split-$tag").toString

  private def rows(from: Long, n: Int): Seq[Row] = (from until from + n).map(i =>
    Row(i, new Timestamp(1704067200000L + i * 1000L), i % 7, s"t$i", i * 0.5,
      s"""{"i":$i,"s":"ü"}"""))

  private def df(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), TradeLogFormat.schema)

  /** `commits` single-file appends of `perCommit` rows each. */
  private def appends(dir: String, commits: Int, perCommit: Int): Seq[Row] =
    (0 until commits).flatMap { c =>
      val rs = rows(c.toLong * perCommit, perCommit)
      df(rs).write.format(Fmt).mode(if (c == 0) "overwrite" else "append").save(dir)
      rs
    }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def splits(d: DataFrame): Seq[TradeLogPartition] =
    d.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
      .collect { case s: TradeLogScan => s }
      .getOrElse(fail("no TradeLogScan in plan"))
      .toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[TradeLogPartition])

  private def weight(bs: Seq[BlockMeta], openCost: Long): Long =
    bs.map(_.payloadLen + 8L).sum + bs.map(_.file).distinct.size * openCost

  /** Splits of `blocks` as Spark packs file pieces: concatenated they are
    * the blocks in (file, offset) order; each split's bytes fit
    * `maxSplit` unless it is one block; and no split could have taken the
    * next one's first piece (its leading run of one file's blocks), with
    * one open cost per file it holds. */
  private def assertPacked(ps: Seq[TradeLogPartition], blocks: Seq[BlockMeta],
      maxSplit: Long, openCost: Long): Unit = {
    val order = (b: BlockMeta) => (b.file, b.offset)
    assert(ps.flatMap(_.blocks).map(order) == blocks.map(order).sorted)
    def bytes(bs: Seq[BlockMeta]) = bs.map(_.payloadLen + 8L).sum
    ps.foreach(p => assert(p.blocks.size == 1 || bytes(p.blocks) <= maxSplit,
      s"split of ${bytes(p.blocks)} bytes over $maxSplit"))
    ps.sliding(2).foreach {
      case Seq(a, b) =>
        val held = bytes(a.blocks) + a.blocks.map(_.file).distinct.size * openCost
        val next = bytes(b.blocks.takeWhile(_.file == b.blocks.head.file))
        assert(held + next > maxSplit, "a split closed before it was full")
      case _ =>
    }
  }

  test("20 single-commit files read in at most minPartitionNum splits, rows in (file, offset, row) order") {
    val dir = tmpDir("many")
    val written = appends(dir, 20, 30)
    val blocks = TradeLogFormat.readManifest(dir)
    assert(blocks.map(_.file).distinct.size == 20)
    val read = spark.read.format(Fmt).load(dir)
    val ps = splits(read)
    val minPartitionNum = spark.sparkContext.defaultParallelism
    assert(ps.size <= minPartitionNum, s"${ps.size} splits for 20 small files")
    assertPacked(ps, blocks, (weight(blocks, 4L << 20) / minPartitionNum)
      .max(4L << 20).min(128L << 20), 4L << 20)
    val got = read.select(col("event_id"), col("_file"), col("_boff"), col("_brow")).collect()
    val keys = got.map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
    assert(keys.toSeq == keys.toSeq.sorted, "rows must come back in (file, offset, row) order")
    assert(got.map(_.getLong(0)).sorted.toSeq == written.map(_.getLong(0)))
  }

  test("a multi-block file splits at block boundaries under each of the three spark.sql.files keys") {
    val dir = tmpDir("one")
    val written = rows(0L, 1000)
    df(written).write.format(Fmt).mode("overwrite").option("blockRows", 10).save(dir)
    val blocks = TradeLogFormat.readManifest(dir)
    assert(blocks.size == 100 && blocks.map(_.file).distinct.size == 1)
    val total = weight(blocks, 1L)
    def check(maxSplit: Long, lo: Int, hi: Int): Unit = {
      val read = spark.read.format(Fmt).load(dir)
      val ps = splits(read)
      assert(ps.size >= lo && ps.size <= hi, s"${ps.size} splits, expected $lo..$hi")
      assertPacked(ps, blocks, maxSplit, 1L)
      assert(read.select("event_id").collect().map(_.getLong(0)).toSeq ==
        written.map(_.getLong(0)))
    }
    // spark.sql.files.maxPartitionBytes caps a split
    withConf("spark.sql.files.maxPartitionBytes" -> "3000",
        "spark.sql.files.openCostInBytes" -> "1") {
      check(3000L, (total / 3000L).toInt, blocks.size)
    }
    // spark.sql.files.minPartitionNum spreads the bytes over more splits
    withConf("spark.sql.files.minPartitionNum" -> "25",
        "spark.sql.files.openCostInBytes" -> "1") {
      check(total / 25, 25, 50)
    }
    // else spark.sql.leafNodeDefaultParallelism does
    withConf("spark.sql.leafNodeDefaultParallelism" -> "10",
        "spark.sql.files.openCostInBytes" -> "1") {
      check(total / 10, 10, 20)
    }
    // and spark.sql.files.openCostInBytes weighs each file: at the 4 MB
    // default the whole file is one split
    assert(splits(spark.read.format(Fmt).load(dir)).size == 1)
  }

  test("a micro-batch over many files plans by the same rule") {
    val dir = tmpDir("stream")
    appends(dir, 20, 30)
    val blocks = TradeLogFormat.readManifest(dir)
    val stream = new TradeLogMicroBatchStream(dir, Array(0), Array.empty, None, None)
    val end = stream.reportLatestOffset()
    val ps = stream.planInputPartitions(stream.initialOffset(), end).toSeq
      .map(_.asInstanceOf[TradeLogPartition])
    assert(ps.size <= spark.sparkContext.defaultParallelism)
    assertPacked(ps, blocks, (weight(blocks, 4L << 20) /
      spark.sparkContext.defaultParallelism).max(4L << 20).min(128L << 20), 4L << 20)
    withConf("spark.sql.files.minPartitionNum" -> "20",
        "spark.sql.files.openCostInBytes" -> "1") {
      val fine = stream.planInputPartitions(stream.initialOffset(), end).toSeq
        .map(_.asInstanceOf[TradeLogPartition])
      assert(fine.size >= 20)
      assertPacked(fine, blocks, weight(blocks, 1L) / 20, 1L)
    }
  }

  test("optimize after 20 appends leaves at most leafNodeDefaultParallelism data files") {
    val dir = tmpDir("optimize")
    val written = appends(dir, 20, 30)
    withConf("spark.sql.leafNodeDefaultParallelism" -> "2") {
      TradeLogMaintenance.optimize(spark, dir)(_.sortWithinPartitions("ts"))
    }
    val files = TradeLogFormat.readManifest(dir).map(_.file).distinct
    assert(files.size <= 2, s"optimize left ${files.size} data files")
    assert(spark.read.format(Fmt).load(dir).select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq == written.map(_.getLong(0)))
  }

  test("rows are the same without whole-stage codegen and through buffering consumers") {
    val dir = tmpDir("buffer")
    val written = appends(dir, 6, 200)
    val expected = written.map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    def rowsOf(d: DataFrame): Seq[String] =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val read = () => spark.read.format(Fmt).load(dir)
    assert(rowsOf(read()) == expected)
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      assert(rowsOf(read()) == expected)
      assert(rowsOf(read().sortWithinPartitions(col("ts").desc)) == expected)
    }
    assert(rowsOf(read().localCheckpoint()) == expected)
    assert(rowsOf(read().sortWithinPartitions(col("ts").desc)) == expected)
    assert(rowsOf(read().select("event_type", "props").distinct()).size ==
      written.map(r => (r.getString(3), r.getString(5))).distinct.size)
  }
}
