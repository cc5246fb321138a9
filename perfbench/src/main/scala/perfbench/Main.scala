package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one closed-loop operation reports: its kind, the items it moved,
  * its latency samples (empty: the operation's wall time is the sample)
  * and named per-operation figures for the layer report. */
final case class OpResult(kind: String, items: Long,
    latencies: Seq[Double] = Nil, extra: Map[String, Double] = Map.empty)

/** A workload drives the library through its public functions. */
trait Workload {
  /** What `items` counts, e.g. "trade". */
  def item: String
  /** Operations per tracing block in a traced run: blocks alternate
    * traced and untraced, so the overhead is measured in the same run. */
  def block: Int
  /** Build the workload's state on the session and warm it up. */
  def setUp(spark: SparkSession): Unit
  /** One operation, or None once the generated input is used up. */
  def op(i: Int): Option[OpResult]
  /** After the timed phase: stop, write outputs for the checks, and return
    * failures found in the JVM plus figures for the run record. */
  def finish(traced: Boolean): (Seq[String], Map[String, Any])
}

/** Runs one workload: `--workload W --dir RUN --seconds N --trace 0|1
  * --seed S`. Writes RUN/record.json; the Python runner turns
  * it into metrics and checks the outputs. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = args("dir")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val seed = args("seed").toLong
    val nproc = Runtime.getRuntime.availableProcessors()
    val osBean = ManagementFactory.getOperatingSystemMXBean
    val load0 = osBean.getSystemLoadAverage

    val wl: Workload = args("workload") match {
      case "ohlc_stream" => new OhlcStream(run, args)
      case "tradelog_io" => new TradelogIo(run, args)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up, from JVM start to the end of the warm-up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(run, nproc)
    wl.setUp(spark)
    val setupS = (Clock.now() - jvmStart) / 1000

    // the timed phase: closed loop, one client thread
    val listener = new BusListener
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val failures = ArrayBuffer.empty[String]
    val cpu0 = processCpuS()
    val t0 = Clock.now()
    val deadline = t0 + seconds * 1000
    var i = 0
    var more = true
    while (more && Clock.now() < deadline) {
      val tracedOp = traced && (i / wl.block) % 2 == 0
      if (tracedOp != Trace.on) {
        if (tracedOp) spark.sparkContext.addSparkListener(listener)
        else { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
        Trace.on = tracedOp
      }
      Trace.op = i
      val start = Clock.now()
      val res =
        try Trace.span("op")(wl.op(i))
        catch { case e: Exception =>
          failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          Some(OpResult("failed", 0))
        }
      val end = Clock.now()
      res match {
        case None => more = false
        case Some(r) =>
          ops += Map("i" -> i, "kind" -> r.kind, "start" -> start, "end" -> end,
            "items" -> r.items, "latencies" -> r.latencies, "traced" -> tracedOp,
            "extra" -> r.extra)
          i += 1
      }
    }
    val elapsed = (Clock.now() - t0) / 1000
    if (Trace.on) { listener.drain(); spark.sparkContext.removeSparkListener(listener) }
    Trace.on = false
    val cpuS = processCpuS() - cpu0
    val heapLiveMb = liveHeapMb()
    val (jvmFailures, figures) = wl.finish(traced)
    failures ++= jvmFailures

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args("workload"), "item" -> wl.item, "seed" -> seed,
      "seconds" -> seconds, "elapsed_s" -> elapsed, "setup_s" -> setupS,
      "ops" -> ops, "failures" -> failures, "heap_live_mb" -> heapLiveMb,
      "figures" -> figures,
      "meta" -> Map(
        "nproc" -> nproc, "spark_version" -> spark.version,
        "load1_start" -> load0, "load1_end" -> osBean.getSystemLoadAverage,
        "process_cpu_s" -> cpuS, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
          .filter(a => a.toString.startsWith("-X"))))
    if (traced) {
      record("spans") = Trace.all
      record("jobs") = listener.jobList
      record("tasks") = listener.tasks.toArray.toSeq
      record("phases") = listener.phases.toArray.toSeq
    }
    spark.stop()
    Files.writeString(Paths.get(run, "record.json"), Json.write(record))
  }

  /** The run's session: local[nproc], shuffle partitions = nproc, and
    * every directory the library and Spark write to (build-once artifacts,
    * stream staging, scratch) inside the run. */
  def session(run: String, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.artifacts.dir", s"$run/spark/artifacts")
      .config("spark.graft.stream.stageDir", s"$run/spark/stage")
      .config("spark.local.dir", s"$run/spark/local")
      .config("spark.sql.warehouse.dir", s"$run/spark/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$run/spark/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Heap in use after forced full collections. */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
