package graft.stream

import java.nio.file.{Files, Path => NioPath}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}

import graft.SparkTestBase

/** A checkpoint outlives its file manager: one query restarted on the same
  * checkpoint under Spark's manager, then graft's, then Spark's again
  * emits the candles an uninterrupted run emits, and every `.crc` either
  * manager wrote verifies. */
class CheckpointRestartSpec extends SparkTestBase {

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"
  private val SparkManager = classOf[FileContextBasedCheckpointFileManager].getName

  private def sparkManaged(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(Key, SparkManager)
    s
  }

  /** Latest candle JSON per (topic, key, window start), in emission order. */
  private def fold(rows: Seq[(Long, String, String, String)]) = {
    val start = "\"start_ts\":\"([^\"]+)\"".r
    rows.sortBy(_._1).map { case (_, topic, key, value) =>
      (topic, key, start.findFirstMatchIn(value).get.group(1)) -> value
    }.toMap
  }

  test("a checkpoint restarted under Spark's, graft's, then Spark's manager " +
      "emits the uninterrupted run's candles; every .crc verifies") {
    val files = (0 until 8).map(i => f"trades-$i%02d.json" -> TradeFiles.batch(i))
    def emitted(segments: Seq[(SparkSession, Seq[(String, Seq[String])])]) = {
      val root = tempDir("graft-restart")
      val in = Files.createDirectory(root.resolve("in")).toString
      val ckpt = root.resolve("checkpoint").toString
      val rows = ArrayBuffer.empty[(Long, String, String, String)]
      for ((session, part) <- segments)
        TradeFiles.run(session, in, ckpt, part) { (id, t, k, v) =>
          rows.synchronized(rows += ((id, t, k, v)))
        }
      (rows.toSeq, root.resolve("checkpoint"))
    }

    val (whole, _) = emitted(Seq(spark -> files))
    val graftSession = spark.newSession()
    val (restarted, ckpt) = emitted(Seq(
      sparkManaged() -> files.take(3),
      graftSession -> files.slice(3, 6),
      sparkManaged() -> files.drop(6)))
    assert(CheckpointFileManager.create(new Path(ckpt.toUri),
      graftSession.sessionState.newHadoopConf()).getClass == classOf[LocalCheckpointFileManager])

    val expected = fold(whole)
    assert(expected.size >= 8 * 3, expected.keys)
    assert(fold(restarted) == expected)

    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val all = Files.walk(ckpt).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    assert(all.forall(!_.getFileName.toString.endsWith(".tmp")), all)
    // Hadoop's sidecar of `X` is `.X.crc`; Spark's own state checksum
    // files (`N.delta.crc`) are bodies with sidecars of their own
    def isSidecar(f: NioPath) = {
      val n = f.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc")
    }
    def sidecarOf(f: NioPath) = f.resolveSibling(s".${f.getFileName}.crc")
    val (crcs, bodies) = all.partition(isSidecar)
    assert(bodies.forall(b => Files.exists(sidecarOf(b))), bodies)
    assert(crcs.size == bodies.size, crcs)
    for (body <- bodies) {
      val in = local.open(new Path(body.toUri))
      try in.readAllBytes() finally in.close()
    }
  }
}
