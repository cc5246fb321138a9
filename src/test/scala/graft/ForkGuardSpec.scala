package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.source.{TradeLogFormat, TradeLogMaintenance}
import graft.stream.TradeFiles

/** Marks the end of the recorded workload: the recording stream delivers
  * events in time order, so once this one arrives every process start
  * before it has too. */
class ForkGuardMark extends jdk.jfr.Event

/** Streaming checkpoints, tradelog publishes and tradelog data-file
  * writes on local disk start no child process. Without libhadoop,
  * Hadoop's local filesystem forks a `chmod` per permission set and a
  * `readlink` per rename probe; an in-process JFR recording of
  * `jdk.ProcessStart` catches any code path that falls back to it. */
class ForkGuardSpec extends SparkTestBase {

  private val Guarded = Seq(
    "org.apache.spark.sql.execution.streaming.checkpointing.",
    "graft.source.TradeLogFormat$.publishAtomic",
    "graft.source.TradeLogDataWriter.")

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  private def tradelogRows(day: Int): Seq[Row] =
    (0 until 4).map(i => Row(day * 10L + i,
      Timestamp.valueOf(f"2024-01-$day%02d 00:0$i:00"), 100L + i, s"t$i",
      i * 1.5, s"p$i"))

  private def tradelogWrite(dir: String, day: Int, mode: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(tradelogRows(day), 1),
      TradeLogFormat.schema).write.format("graft-tradelog").mode(mode)
      .option("blockRows", 2).save(dir)

  test("no process starts under a checkpoint file manager or a tradelog " +
      "publish") {
    val root = tempDir("graft-forks")
    val in = Files.createDirectory(root.resolve("in")).toString
    val log = root.resolve("log").toString
    tradelogWrite(log, 1, "overwrite")
    val plain = Files.createDirectory(root.resolve("plain"))
    Files.write(plain.resolve("kv.json"),
      (0 until 6).map(i => s"""{"k": "k${i % 2}", "v": $i}""").asJava)

    val starts = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ForkGuardMark])
      rs.onEvent("jdk.ProcessStart",
        e => starts.add(e.getString("command") -> frames(e)))
      rs.onEvent(classOf[ForkGuardMark].getName, _ => marked.countDown())
      rs.startAsync()

      // a control: a fork in the window is seen
      new ProcessBuilder("true").start().waitFor()
      var rows = 0
      TradeFiles.run(spark, in, root.resolve("checkpoint").toString,
        (0 until 3).map(i => s"t$i.json" -> TradeFiles.batch(i))) {
        (_, _, _, _) => rows += 1
      }
      // a child session whose plan calls no graft function
      var groups = 0L
      spark.newSession().readStream.schema("k STRING, v LONG").json(plain.toString)
        .groupBy("k").count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", root.resolve("checkpoint-plain").toString)
        .foreachBatch { (b: DataFrame, _: Long) => groups += b.count() }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      tradelogWrite(log, 2, "append")
      // data files into a directory the write creates
      tradelogWrite(root.resolve("log-new").toString, 1, "overwrite")
      TradeLogMaintenance.optimize(spark, log, blockRows = 4)(
        _.repartition(1).sortWithinPartitions("ts"))
      assert(rows > 0 && groups == 2)

      new ForkGuardMark().commit()
      assert(marked.await(60, TimeUnit.SECONDS), "the recording stalled")
    } finally rs.close()

    val all = starts.asScala.toSeq
    assert(all.exists(_._1 == "true"),
      s"the control fork was not recorded: ${all.map(_._1)}")
    val guarded = all.filter(_._2.exists(f => Guarded.exists(f.startsWith)))
    if (guarded.nonEmpty) fail(s"${guarded.size} guarded process starts, " +
      guarded.take(3).map { case (cmd, fs) =>
        s"$cmd\n  ${fs.take(40).mkString("\n  ")}" }.mkString("\n"))
  }
}
