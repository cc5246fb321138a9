package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE bench-session recipe shared by every timing tool (DmlScale,
  * JobProfile, RepeatTimer, ScaleSweep, ScaleUp): identical session
  * config — so their numbers stay comparable across tools — plus the median-timing and noop-sink
  * helpers. Config mirrors Bench: local[SPARK_GRAFT_CPUS], matching
  * shuffle partitions, UTC, nanos-as-long for events.ts, and the
  * periodic-GC reclamation backstop (the ContextCleaner frees broadcast/
  * shuffle/checkpoint blocks only after a driver GC). */
object BenchSession {

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE: sweep-side override for partition-pressure
    // experiments (production sizes this by data volume; the bench grid
    // pins it to cpus so numbers stay comparable run-to-run)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One untimed warm-up, then `reps` timed runs; middle-element median. */
  def medianSec(reps: Int)(f: => Unit): Double = {
    f
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(reps / 2)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
