package graft.source

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Times tradelog slice and point reads whose literals change on every
  * read, in one JVM, through the two scan builders: the advisory one
  * ([[AdvisoryTradeLogProvider]], every pushed filter stays a Spark
  * `Filter`) and the exact one (`graft-tradelog`, the scan tests the
  * handled predicates per row). The log is 10 commits of 5,000 rows over
  * 200 users, a millisecond apart, the shape of perfbench's `tradelog_io`;
  * the reads are its two: `count` and a rounded `sum(value)` over a 2,000
  * row `ts` slice, and the `event_id`s of one `user_id`.
  *
  * Each rep moves the slice and picks the next user, runs it on both
  * sides (alternating which goes first) and checks they agree. One
  * warm-up of each read per side; prints, per read and side, the median
  * and quartiles of the wall time of one read and of the Janino classes
  * it compiled (`CodegenMetrics`).
  *
  * {{{ sbt "Test/runMain graft.source.SliceReadBench [reps]" }}}
  */
object SliceReadBench {
  val Commits = 10
  val RowsPerCommit = 5000
  val Users = 200
  val T0Us = 1704067200000000L

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(15)
    val s = SparkSession.builder().master("local[2]").appName("slice-read-bench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val tmp = Files.createTempDirectory("graft-slice-bench")
    try {
      val dir = tmp.resolve("log").toString
      (0 until Commits).foreach { c =>
        s.range(c.toLong * RowsPerCommit, (c + 1).toLong * RowsPerCommit, 1, 2)
          .select(col("id").as("event_id"),
            timestamp_micros(lit(T0Us) + col("id") * 1000L).as("ts"),
            (col("id") * 7919L % Users).as("user_id"),
            lit("click").as("event_type"), (col("id") % 1000 / 10.0).as("value"),
            lit("""{"page":"/p"}""").as("props"))
          .write.format("graft-tradelog").mode(if (c == 0) "overwrite" else "append")
          .save(dir)
      }
      val total = Commits * RowsPerCommit
      def slice(fmt: String, k: Int): DataFrame = {
        val lo = T0Us + ((k * 4099L) % (total - 2000)) * 1000L
        s.read.format(fmt).load(dir)
          .filter(col("ts") >= timestamp_micros(lit(lo)) &&
            col("ts") < timestamp_micros(lit(lo + 2000L * 1000L)))
          .agg(count(lit(1)), coalesce(sum(round(col("value") * 100)
            .cast("long")), lit(0L)))
      }
      def point(fmt: String, k: Int): DataFrame =
        s.read.format(fmt).load(dir).filter(col("user_id") === (k % Users).toLong)
          .select(col("event_id"))
      val sides = Seq("advisory" -> classOf[AdvisoryTradeLogProvider].getName,
        "exact" -> "graft-tradelog")
      val reads = Seq[(String, (String, Int) => DataFrame)](
        "slice" -> slice, "point" -> point)
      /** (wall ms, classes compiled, rows as a sorted string) of one read. */
      def once(d: DataFrame): (Double, Long, String) = {
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val got = d.collect()
        val ms = (System.nanoTime() - t0) / 1e6
        (ms, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
          got.map(_.toString).sorted.mkString(","))
      }
      println(s"$total rows in $Commits commits, " +
        s"${TradeLogFormat.readManifest(dir).size} blocks")
      reads.foreach { case (_, r) => sides.foreach { case (_, f) => once(r(f, 0)) } }
      val runs = for {
        k <- 1 to reps
        (read, r) <- reads
        ordered = if (k % 2 == 0) sides else sides.reverse
        results = ordered.map { case (side, f) => side -> once(r(f, k)) }
      } yield {
        assert(results.map(_._2._3).distinct.size == 1,
          s"$read rep $k: the two sides disagree")
        results.map { case (side, (ms, n, _)) => (read, side, ms, n) }
      }
      val byCase = runs.flatten.groupBy(t => (t._1, t._2))
      for ((read, _) <- reads; (side, _) <- sides) {
        val rs = byCase((read, side))
        def qs(xs: Seq[Double]): (Double, Double, Double) = {
          val t = xs.sorted
          def q(p: Double) = t(((t.length - 1) * p).round.toInt)
          (q(0.25), q(0.5), q(0.75))
        }
        val (m1, m, m3) = qs(rs.map(_._3))
        val (c1, c, c3) = qs(rs.map(_._4.toDouble))
        println(f"$read%-5s $side%-8s median $m%7.1f ms (q1 $m1%.1f, q3 $m3%.1f)  " +
          f"compiles median $c%.0f (q1 $c1%.0f, q3 $c3%.0f)  n=${rs.size}")
      }
    } finally {
      s.stop()
      SparkTestBase.deleteRecursively(tmp)
    }
  }
}
