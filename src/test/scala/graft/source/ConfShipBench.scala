package graft.source

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The per-task conf carrier [[HadoopConfBox]] replaced, kept as the
  * baseline of [[ConfShipBench]]: every task that deserializes it rebuilds
  * the whole conf from its serialized entries. */
final class PerTaskConfBox(@transient private var c: Configuration)
    extends java.io.Serializable {
  def conf: Configuration = c
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    c.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    c = new Configuration(false)
    c.readFields(in)
  }
}

/** Times the two ways of shipping the driver's Hadoop conf to tasks in one
  * JVM: the broadcast [[HadoopConfBox]] and the per-task
  * [[PerTaskConfBox]]. Each rep makes a box on the driver (timed: for the
  * broadcast box this is [[HadoopConfBox.active]], a reused broadcast after
  * the first rep) and runs `parallelize(0 until 200, 200).map(_ =>
  * box.conf.size)`; a listener sums the tasks' `executorDeserializeTime`
  * and `executorDeserializeCpuTime`. One warm-up each, then the reps
  * alternate sides; prints the median and quartiles of each figure.
  *
  * {{{ sbt "Test/runMain graft.source.ConfShipBench [reps]" }}}
  */
object ConfShipBench {
  val Tasks = 200

  private final class Deserialize extends SparkListener {
    val tasks, ms, cpuNs = new AtomicLong()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        ms.addAndGet(m.executorDeserializeTime)
        cpuNs.addAndGet(m.executorDeserializeCpuTime)
        tasks.incrementAndGet()
      }
    def reset(): Unit = Seq(tasks, ms, cpuNs).foreach(_.set(0))
  }

  /** (box on the driver ms, job wall ms, summed deserialize ms, summed
    * deserialize CPU ms) of one job. */
  private def once(s: SparkSession, l: Deserialize,
      carrier: () => Int => Int): Seq[Double] = {
    l.reset()
    val t0 = System.nanoTime()
    val task = carrier()
    val t1 = System.nanoTime()
    val sizes = s.sparkContext.parallelize(0 until Tasks, Tasks).map(task).collect()
    val t2 = System.nanoTime()
    assert(sizes.length == Tasks && sizes.forall(_ > 0))
    // task-end events reach the listener asynchronously
    val deadline = System.nanoTime() + 30000000000L
    while (l.tasks.get < Tasks && System.nanoTime() < deadline) Thread.sleep(5)
    assert(l.tasks.get == Tasks, s"${l.tasks.get} of $Tasks task ends seen")
    Seq((t1 - t0) / 1e6, (t2 - t1) / 1e6, l.ms.get.toDouble, l.cpuNs.get / 1e6)
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(9)
    val s = SparkSession.builder().master("local[2]").appName("conf-ship-bench")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      val l = new Deserialize
      s.sparkContext.addSparkListener(l)
      val sides = Seq[(String, () => Int => Int)](
        "broadcast" -> { () => val b = HadoopConfBox.active(); _ => b.conf.size },
        "per-task" -> { () =>
          val b = new PerTaskConfBox(TradeLogFormat.driverConf()); _ => b.conf.size })
      println(s"conf: ${TradeLogFormat.driverConf().size} entries, $Tasks tasks")
      sides.foreach { case (_, c) => once(s, l, c) }
      val runs = (1 to reps).flatMap(_ => sides.map { case (n, c) => n -> once(s, l, c) })
        .groupBy(_._1)
      val figures = Seq("box on driver ms", "job wall ms", "deserialize ms",
        "deserialize cpu ms")
      sides.foreach { case (n, _) =>
        figures.zipWithIndex.foreach { case (f, i) =>
          val t = runs(n).map(_._2(i)).sorted
          def q(p: Double) = t(((t.length - 1) * p).round.toInt)
          println(f"$n%-10s $f%-19s median ${q(0.5)}%9.3f  (q1 ${q(0.25)}%.3f, " +
            f"q3 ${q(0.75)}%.3f, n=${t.length})")
        }
      }
    } finally s.stop()
  }
}
