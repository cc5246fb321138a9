package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** collect_up_to: the saturating collect_list that bounds per-group
  * aggregation state. Contract under test: (1) below the cap it is exactly
  * sort_array(collect_list(...)) whatever the partitioning (merge path
  * included); (2) at/over the cap the SIZE saturates at exactly k — the
  * overflow sentinel the dedup df-filter keys on; (3) the buffer object
  * itself physically refuses to grow past k (the 100 TB hot-shingle
  * guarantee, checked on the raw buffer, the update path, and the merge
  * path). */
class CollectUpToSpec extends SparkTestBase {
  import spark.implicits._

  test("collect_up_to below cap == sorted collect_list, invariant to partitioning") {
    val rnd = new scala.util.Random(19)
    val rows = (0 until 3000).map(i => (s"g${i % 40}", rnd.nextLong(1L << 40)))
    val df = rows.toDF("g", "v")
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted
    }
    for (parts <- Seq(1, 4, 16)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(expr("collect_up_to(v, 100)").as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("collect_up_to saturates at exactly k for over-cap groups, any partitioning") {
    // one hot group (500 members) next to kept-size groups — the dedup shape
    val rows = (0 until 500).map(i => ("hot", i.toLong)) ++
      Seq(("a", 1L), ("a", 2L), ("b", 7L))
    val df = rows.toDF("g", "v")
    for (parts <- Seq(1, 7, 32)) {
      val got = df.repartition(parts).groupBy($"g")
        .agg(expr("collect_up_to(v, 11)").as("s"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(got("hot").size == 11,
        s"parts=$parts: saturated group must report exactly k elements")
      assert(got("a") == Seq(1L, 2L) && got("b") == Seq(7L),
        s"parts=$parts: under-cap groups must be complete and sorted")
    }
  }

  test("buffer state is physically bounded at k on update AND merge paths") {
    val buf = new CollectUpToBuf(5)
    (0 until 10000).foreach(i => buf.add(i.toLong))
    assert(buf.items.size == 5, "update path must stop accumulating at k")
    val other = new CollectUpToBuf(5)
    (0 until 10000).foreach(i => other.add(i.toLong))
    other.items.foreach(buf.add) // the merge() body
    assert(buf.items.size == 5, "merge path must stop accumulating at k")
    // serialized partial size is bounded too — what crosses the exchange
    val agg = CollectUpTo(org.apache.spark.sql.catalyst.expressions.Literal(1L), 5)
    assert(agg.serialize(buf).length == 8 + 8 * 5)
  }

  test("plans as ObjectHashAggregate with partial aggregation (capped buffers map-side)") {
    val df = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    val plan = df.groupBy($"g").agg(expr("collect_up_to(v, 3)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"got:\n$plan")
    // the SPECIFIC mode marker (AggregateExpression renders Partial mode as
    // `partial_<prettyName>(`): a generic "partial" substring would match
    // almost any aggregate plan and never catch a final-only regression
    assert(plan.contains("partial_collect_up_to("),
      s"map-side partial_collect_up_to expected:\n$plan")
  }
}
