package graft.source

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.LongType

import graft.SparkTestBase

/** A local filesystem that records, for every instance a task creates, the
  * tag in the conf it was created from. With its cache disabled, each
  * tradelog reader and writer creates one from its [[HadoopConfBox]]. */
class ConfTagFileSystem extends LocalFileSystem {
  override def initialize(name: URI, conf: Configuration): Unit = {
    if (TaskContext.get() != null)
      ConfTagFileSystem.seen.add(String.valueOf(conf.get(HadoopConfBoxSpec.Key)))
    super.initialize(name, conf)
  }
}

object ConfTagFileSystem {
  val seen = new ConcurrentLinkedQueue[String]()
}

object HadoopConfBoxSpec {
  val Key = "graft.test.confbox.tag"

  /** `box.conf.get(Key)` as each of 4 tasks sees it. */
  def onExecutors(s: SparkSession, box: HadoopConfBox): Seq[String] =
    s.sparkContext.parallelize(0 until 4, 4).map(_ => box.conf.get(Key)).collect().toSeq

  def rows(day: Int): Seq[Row] =
    (0 until 4).map(i => Row(day * 10L + i,
      Timestamp.valueOf(f"2024-01-$day%02d 00:0$i:00"), 100L + i, s"t$i",
      i * 1.5, s"p$i"))

  def write(s: SparkSession, dir: String, day: Int, mode: String): Unit =
    s.createDataFrame(s.sparkContext.parallelize(rows(day), 2),
      TradeLogFormat.schema).write.format("graft-tradelog").mode(mode)
      .option("blockRows", 2).save(dir)

  def eventIds(s: SparkSession, dir: String): Set[Long] =
    s.read.format("graft-tradelog").load(dir).select("event_id").collect()
      .map(_.getLong(0)).toSet

  def id(box: HadoopConfBox): Long = box.shipped.get.id
}

/** Tradelog tasks read the driver's Hadoop conf from a broadcast that
  * [[HadoopConfBox.active]] reuses while the conf's content is unchanged. */
class HadoopConfBoxSpec extends SparkTestBase {
  import HadoopConfBoxSpec._

  private def hc = spark.sparkContext.hadoopConfiguration

  private def serializedSize(o: AnyRef): Int = {
    val b = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(b)
    try out.writeObject(o) finally out.close()
    b.size()
  }

  test("a key set between two boxes reaches the second's tasks") {
    try {
      hc.set(Key, "v1")
      val first = HadoopConfBox.active()
      assert(onExecutors(spark, first) == Seq.fill(4)("v1"))
      hc.set(Key, "v2")
      val second = HadoopConfBox.active()
      assert(onExecutors(spark, second) == Seq.fill(4)("v2"))
      // each factory keeps the conf it was created with
      assert(onExecutors(spark, first) == Seq.fill(4)("v1"))
    } finally hc.unset(Key)
  }

  test("a key set between two tradelog writes and reads reaches the " +
      "executor side of the second") {
    val dir = tempDir("graft-confbox").resolve("log").toString
    write(spark, dir, 1, "overwrite")
    val probeKeys = Seq("fs.file.impl" -> classOf[ConfTagFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    try {
      probeKeys.foreach { case (k, v) => hc.set(k, v) }
      for ((tag, day) <- Seq("v1" -> 2, "v2" -> 3)) {
        hc.set(Key, tag)
        ConfTagFileSystem.seen.clear()
        write(spark, dir, day, "append")
        assert(eventIds(spark, dir) == (1 to day).flatMap(rows).map(_.getLong(0)).toSet)
        // writer and reader tasks alike
        assert(ConfTagFileSystem.seen.size >= 4)
        assert(ConfTagFileSystem.seen.asScala.toSet == Set(tag))
      }
    } finally (Key +: probeKeys.map(_._1)).foreach(hc.unset)
  }

  test("an unchanged conf reuses its broadcast; a changed entry gets a new one") {
    val a = HadoopConfBox.active()
    assert(id(HadoopConfBox.active()) == id(a))
    try {
      hc.set(Key, "x")
      val b = HadoopConfBox.active()
      assert(id(b) != id(a))
      assert(id(HadoopConfBox.active()) == id(b))
      // same size, one value changed
      hc.set(Key, "y")
      val c = HadoopConfBox.active()
      assert(id(c) != id(b))
      assert(onExecutors(spark, c) == Seq.fill(4)("y"))
    } finally hc.unset(Key)
  }

  test("a box and a reader factory serialize to under 2 KB") {
    val box = HadoopConfBox.active()
    val boxBytes = serializedSize(box)
    val factoryBytes = serializedSize(
      new TradeLogReaderFactory(Array(0, 1, 2), Array(LongType), box))
    info(s"box $boxBytes B, reader factory $factoryBytes B")
    assert(boxBytes < 2048 && factoryBytes < 2048)
  }

  test("with no active session the box carries the plain local conf") {
    try {
      hc.set(Key, "session-only")
      var box: HadoopConfBox = null
      val t = new Thread(() => {
        SparkSession.clearActiveSession()
        box = HadoopConfBox.active()
      })
      t.start(); t.join()
      assert(box.shipped.isEmpty)
      assert(box.conf.get(Key) == null)
      assert(box.conf.get("fs.defaultFS") == new Configuration().get("fs.defaultFS"))
    } finally hc.unset(Key)
  }

  test("after a session stops, a new session's box ships its own conf") {
    // one SparkContext per JVM: the stop and restart run in a child JVM
    val log = tempDir("graft-confbox-restart").resolve("child.log")
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      jvm ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.source.ConfBoxRestartProbe")
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val code = p.waitFor()
    val out = Files.readAllLines(log).asScala
    val verdicts = out.filter(_.startsWith("confbox:"))
    assert(code == 0 && verdicts == Seq("confbox: ok"),
      s"exit $code\n${out.takeRight(40).mkString("\n")}")
  }
}

/** The child JVM of [[HadoopConfBoxSpec]]'s restart test: a box made after
  * `stop()` ships nothing, and the next session's box is a new broadcast of
  * its own context, even though both confs hold the same entries. Prints
  * `confbox: ok` or `confbox: <what failed>`. */
object ConfBoxRestartProbe {
  import HadoopConfBoxSpec._

  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("confbox-restart")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.hadoopConfiguration.set(Key, "same")
    s
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createTempDirectory("graft-confbox-child")
    val log = dir.resolve("log").toString
    val fails = Seq.newBuilder[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) fails += what
    try {
      val first = session()
      val before = HadoopConfBox.active()
      check(onExecutors(first, before) == Seq.fill(4)("same"),
        "the first session's tasks")
      first.stop()
      check(HadoopConfBox.active().shipped.isEmpty,
        "a box after stop() carries a broadcast")
      val second = session()
      try {
        val after = HadoopConfBox.active()
        check(after.shipped.get ne before.shipped.get,
          "the stopped context's broadcast was reused")
        check(onExecutors(second, after) == Seq.fill(4)("same"),
          "the second session's tasks")
        write(second, log, 1, "overwrite")
        check(eventIds(second, log) == rows(1).map(_.getLong(0)).toSet,
          "a tradelog write and read in the second session")
      } finally second.stop()
    } catch { case e: Throwable => fails += e.toString }
    finally SparkTestBase.deleteRecursively(dir)
    val failed = fails.result()
    println(if (failed.isEmpty) "confbox: ok" else s"confbox: ${failed.mkString("; ")}")
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}
