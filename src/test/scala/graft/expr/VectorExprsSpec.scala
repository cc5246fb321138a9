package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** vec_argmax_cos: the fused centroid-assignment expression. Its contract —
  * bit-identical winner to the array_max-over-transform HOF formulation it
  * replaced in Similarity.assignNearest — is checked head-to-head on random
  * vectors, plus the tie and empty-list edges. */
class VectorExprsSpec extends SparkTestBase {
  import spark.implicits._

  private def randVec(rnd: scala.util.Random, dim: Int): Seq[Double] =
    Seq.fill(dim)(rnd.nextDouble() * 2 - 1)

  test("vec_argmax_cos matches the interpreted HOF argmax bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val cents = (0L until 6L).map(c => (c, randVec(rnd, dim)))
    val rows = (0L until 500L).map(i => (i, randVec(rnd, dim)))
    val cs = cents.toDF("cid", "ce")
      .agg(collect_list(struct($"cid", $"ce",
        sqrt(call_function("vec_dot", $"ce", $"ce")).as("snrm"))).as("cs"))
    val joined = rows.toDF("vec_id", "e").crossJoin(broadcast(cs))
    val native = joined
      .select($"vec_id", call_function("vec_argmax_cos", $"cs", $"e").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = joined
      .withColumn("snrm_e", sqrt(call_function("vec_dot", $"e", $"e")))
      .withColumn("best", expr(
        """array_max(transform(cs, c -> struct(
          |  vec_dot(c.ce, e) / (c.snrm * snrm_e) AS s,
          |  -c.cid AS negcid, c.cid AS cid)))""".stripMargin))
      .select($"vec_id", $"best.cid".as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hof)
    assert(native.values.toSet.size > 1, "degenerate fixture: one bucket won everything")
  }

  test("vec_argmax_cos: equal scores pick the lowest cid; empty list is null") {
    // cids 5 and 2 carry the SAME vector → identical cosine; 2 must win
    val cents = Seq((5L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (9L, Seq(0.0, 1.0)))
    val cs = cents.toDF("cid", "ce")
      .agg(collect_list(struct($"cid", $"ce",
        sqrt(call_function("vec_dot", $"ce", $"ce")).as("snrm"))).as("cs"))
    val got = Seq((1L, Seq(0.9, 0.1))).toDF("vec_id", "e").crossJoin(broadcast(cs))
      .select(call_function("vec_argmax_cos", $"cs", $"e"))
      .collect().head.getLong(0)
    assert(got == 2L)
    val empty = Seq((1L, Seq(1.0), Seq.empty[(Long, Seq[Double], Double)]))
      .toDF("vec_id", "e", "cs")
      .select(call_function("vec_argmax_cos",
        $"cs".cast("array<struct<cid:bigint,ce:array<double>,snrm:double>>"), $"e"))
      .collect().head
    assert(empty.isNullAt(0))
  }
}
