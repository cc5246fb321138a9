package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** sample_bottom_k: the object-buffered sketch aggregate. Its contract — the
  * k smallest (priority, value) pairs, as a pure function of the data — is
  * checked against a brute-force expectation, across partitionings (merge
  * path), and for the seeded-sampling property the catalog query relies on. */
class SampleKSpec extends SparkTestBase {
  import spark.implicits._

  test("sample_bottom_k equals brute-force bottom-k, invariant to partitioning") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 2000).map(i => (s"g${i % 3}", rnd.nextLong(1L << 40), i.toLong))
    val df = rows.toDF("g", "pri", "v")
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sorted.take(7).map(_._2)
    }
    for (parts <- Seq(1, 4, 16)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(expr("sample_bottom_k(pri, v, 7)").as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(got == expected, s"parts=$parts: $got")
    }
  }

  test("sample_bottom_k: k >= group size returns the whole group; ObjectHashAggregate plans") {
    val df = Seq(("a", 5L, 1L), ("a", 3L, 2L), ("b", 1L, 9L)).toDF("g", "pri", "v")
    val got = df.groupBy($"g").agg(expr("sample_bottom_k(pri, v, 10)").as("s"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got == Map("a" -> Seq(2L, 1L), "b" -> Seq(9L)))
    val plan = df.groupBy($"g").agg(expr("sample_bottom_k(pri, v, 3)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"sketch aggregate must plan object-hash, got:\n$plan")
  }

  test("sample_bottom_k: hash-priority sampling is seeded and reproducible") {
    val df = (0 until 500).map(_.toLong).toDF("v")
    def sample(seed: Int) = df
      .withColumn("pri",
        conv(substring(md5(concat_ws("#", lit(seed), col("v")).cast("binary")), 1, 8), 16, 10)
          .cast("long"))
      .agg(expr("sample_bottom_k(pri, v, 10)").as("s"))
      .collect().head.getSeq[Long](0).toSeq
    assert(sample(1) == sample(1), "same seed must reproduce the same sample")
    assert(sample(1) != sample(2), "different seeds must draw different samples")
  }
}
