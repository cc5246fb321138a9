package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval of the run: its name, the operation it belongs to
  * (-1 outside the timed loop) and the span it nests in. */
final case class Span(name: String, op: Int, parent: String,
    start: Double, end: Double)

/** Spans of the traced run. They stay in memory and are written with the
  * run record at the end; `span` costs nothing while tracing is off. */
object Trace {
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  var op = -1

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = Clock.now()
      try f
      finally {
        stack = stack.tail
        spans.synchronized(spans += Span(name, op, parent, t0, Clock.now()))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** The one listener on the SparkContext bus. It sees every job, task and
  * SQL execution, including those of child sessions, and keeps them as
  * plain records for the per-layer report. */
final class BusListener extends SparkListener {
  import BusListener.{Job, Phase}

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Map[String, Double]]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  private val started = new AtomicLong()
  private val ended = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, e.stageInfos.map(_.numTasks).sum))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    ended.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Map(
      "end" -> e.taskInfo.finishTime.toDouble,
      "run_ms" -> m.executorRunTime.toDouble,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "gc_ms" -> m.jvmGCTime.toDouble,
      "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      "input_bytes" -> m.inputMetrics.bytesRead.toDouble))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
    case end: SparkListenerSQLExecutionEnd =>
      BusListener.qe(end).foreach { qe =>
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
      }
      ended.incrementAndGet()
    case _ =>
  }

  def jobList: Seq[Job] = jobs.values().asScala.toList.sortBy(_.id)

  /** Waits until every job and SQL execution seen to start has been seen
    * to end, so the records are complete before the listener detaches. */
  def drain(timeoutMs: Long = 2000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
  }
}

object BusListener {
  final case class Job(id: Int, start: Double, var end: Double, tasks: Int)
  final case class Phase(name: String, start: Double, end: Double)

  // The event carries the execution's QueryExecution; Spark marks the
  // accessor package-private, so it is reached through its public bytecode.
  private val qeMethod = classOf[SparkListenerSQLExecutionEnd].getMethod("qe")
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(qeMethod.invoke(e).asInstanceOf[QueryExecution])
}

/** A minimal JSON writer for the run record. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case p: Product => write(p.productElementNames.zip(p.productIterator).toMap)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
