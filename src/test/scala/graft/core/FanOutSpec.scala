package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** QueryDef.fanOut — the guarded, SIZE-ADAPTIVE fan ahead of md5/HOF-heavy
  * map stages (r21: width derives from scan bytes via
  * spark.graft.fanout.targetBytes, never a bare repartition(cores); the
  * r20 all-cores fan over-split sub-MB scans into 32 queueing micro-tasks
  * — driver scaling block: every fanned chain ran faster at 8 cores than
  * 32). Contracts pinned here: (1) width follows input size and caps at
  * the core count; (2) a large-enough targetBytes means NO added exchange
  * for a small scan; (3) the non-file fallback counts the frame's RDD
  * partitions ONCE, so a multi-leaf non-file plan (e.g. a broadcast join
  * of RDD-backed frames) still fans instead of overcounting itself out of
  * the guard (r20 verdict #7); (4) contents are never changed. */
class FanOutSpec extends SparkTestBase {
  import spark.implicits._

  private def withTarget[A](bytes: Long)(f: => A): A = {
    val key = "spark.graft.fanout.targetBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def tmpParquet(): String = {
    val dir = tempDir("fanout_spec_")
      .resolve("t.parquet").toString
    (1 to 2000).toDF("x").withColumn("s", md5(col("x").cast("string")))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("width is size-derived and capped at the core count") {
    val path = tmpParquet()
    val df = spark.read.parquet(path)
    assert(df.rdd.getNumPartitions === 1)
    // tiny target -> one task per byte-chunk, capped at cores (4 here)
    val fanned = withTarget(1024L)(QueryDef.fanOut(df))
    assert(fanned.rdd.getNumPartitions === 4)
    assert(fanned.agg(sum(col("x"))).head.getLong(0) === 2001000L)
  }

  test("a large targetBytes means no exchange for a small scan") {
    val path = tmpParquet()
    val df = spark.read.parquet(path)
    val fanned = withTarget(1L << 30)(QueryDef.fanOut(df))
    // width computes to 1, which is not > the scan's 1 split: untouched
    assert(fanned.rdd.getNumPartitions === 1)
    assert(!fanned.queryExecution.sparkPlan.toString
      .contains("RoundRobinPartitioning"))
  }

  test("multi-leaf non-file plan still fans (fallback counted once)") {
    // broadcast join of a 1-partition RDD-backed frame against a local
    // relation: TWO non-file leaves. The r20 fallback summed the whole
    // frame's RDD partition count per leaf (1+1=2 here), which at 4 cores
    // disabled the fan; counting the frame once (1) keeps it eligible.
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to 100).map(Tuple1(_)), 1))
      .toDF("x")
    val dim = Seq((1, "a"), (2, "b")).toDF("x", "t")
    val joined = big.join(broadcast(dim), Seq("x"), "left")
    assert(joined.rdd.getNumPartitions === 1)
    val fanned = QueryDef.fanOut(joined)
    assert(fanned.rdd.getNumPartitions > 1)
    assert(fanned.count() === 100)
  }
}
