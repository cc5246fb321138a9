package graft.ohlc

import graft.SparkTestBase

/** The typed Dataset[Trade] aggregation path must agree with the untyped
  * candles() pipeline — same tie rule, same totals. */
class OhlcAggregatorSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = 1704067200L
  private def trade(base: String, sec: Long, p: Double, q: Double) =
    Trade(base, new java.sql.Timestamp(sec * 1000), p, q)

  test("typed one-pass OHLCV matches the untyped pipeline incl. tie rule") {
    val trades = Seq(
      trade("a", t0, 5.0, 1.0), trade("a", t0, 3.0, 1.0), trade("a", t0, 9.0, 1.0),
      trade("a", t0 + 30, 7.0, 2.0), trade("b", t0 + 10, 2.0, 4.0),
      trade("a", t0 + 65, 1.5, 1.0) // second window
    )
    val typed = trades.toDS()
      .groupByKey(t => (t.timestamp.getTime / 60000 * 60, t.base))
      .agg(OhlcAggregator.toColumn.name("c"))
      .collect()
      .map { case ((ws, base), c) => (base, ws) -> c }.toMap

    val untyped = OhlcPipeline.candles(trades.toDF()).collect()
      .map(r => (r.getAs[String]("base"),
        r.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond) ->
        ((r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume")))).toMap

    assert(typed.keySet == untyped.keySet)
    typed.foreach { case (k, c) => assert(c == untyped(k), s"mismatch at $k") }
    // spot-check the tie rule directly
    assert(typed(("a", t0))._1 == 3.0 && typed(("a", t0))._4 == 7.0)
  }

  test("declarative and object-buffered ordered aggregates agree (incl. ties, nulls, partitions)") {
    // seeded generator: heavy ts ties (7 distinct ts), duplicate prices,
    // and interleaved null prices that both variants must skip
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      // NaN prices included: both twins must follow Catalyst's double total
      // order (NaN == NaN, NaN above everything) — Java primitive </> would
      // silently never replace on a NaN tie
      val p: java.lang.Double =
        if (i % 17 == 0) null
        else if (i % 23 == 0) Double.NaN
        else rnd.nextInt(13) + 0.5
      (s"s${i % 3}", t0 * 1000000L + (rnd.nextInt(7) * 1000000L), p)
    }
    val df = rows.toDF("base", "ts_us", "price")
    for (parts <- Seq(1, 4, 16)) {
      val r = df.repartition(parts).groupBy($"base").agg(
        org.apache.spark.sql.functions.expr("first_by_ordered(ts_us, price)").as("o_decl"),
        org.apache.spark.sql.functions.expr("first_by_ordered_obj(ts_us, price)").as("o_obj"),
        org.apache.spark.sql.functions.expr("last_by_ordered(ts_us, price)").as("c_decl"),
        org.apache.spark.sql.functions.expr("last_by_ordered_obj(ts_us, price)").as("c_obj"))
        .collect()
      // Scala's == unboxes to primitive comparison where NaN != NaN; the
      // twins agreeing on NaN must count as equal
      def eqv(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
        case _ => a == b
      }
      r.foreach { row =>
        assert(eqv(row.get(1), row.get(2)), s"open mismatch parts=$parts: $row")
        assert(eqv(row.get(3), row.get(4)), s"close mismatch parts=$parts: $row")
      }
      assert(r.length == 3)
    }
    // focused NaN tie: at one shared ts, Catalyst's total order puts NaN
    // above 5.0 — first (lexicographic min) is 5.0, last is NaN, on BOTH paths
    val nanTie = Seq(("n", 1L, Double.NaN), ("n", 1L, 5.0)).toDF("base", "ts_us", "price")
      .groupBy($"base").agg(
        org.apache.spark.sql.functions.expr("first_by_ordered(ts_us, price)"),
        org.apache.spark.sql.functions.expr("first_by_ordered_obj(ts_us, price)"),
        org.apache.spark.sql.functions.expr("last_by_ordered(ts_us, price)"),
        org.apache.spark.sql.functions.expr("last_by_ordered_obj(ts_us, price)"))
      .collect().head
    assert(nanTie.getDouble(1) == 5.0 && nanTie.getDouble(2) == 5.0, s"NaN tie first: $nanTie")
    assert(nanTie.getDouble(3).isNaN && nanTie.getDouble(4).isNaN, s"NaN tie last: $nanTie")

    // HashAggregate (codegen) for the declarative default, ObjectHashAggregate
    // only when the object-buffered twin is requested
    val declPlan = df.groupBy($"base")
      .agg(org.apache.spark.sql.functions.expr("first_by_ordered(ts_us, price)"))
      .queryExecution.executedPlan.toString
    assert(declPlan.contains("HashAggregate") && !declPlan.contains("ObjectHashAggregate"))
    val objPlan = df.groupBy($"base")
      .agg(org.apache.spark.sql.functions.expr("first_by_ordered_obj(ts_us, price)"))
      .queryExecution.executedPlan.toString
    assert(objPlan.contains("ObjectHashAggregate"))
  }

  test("merge is associative/commutative across partition orders") {
    val trades = (0 until 100).map(i =>
      trade("a", t0 + (i % 7), (i % 13) + 0.5, 1.0))
    val expected = {
      val sorted = trades.sortBy(t => (t.timestamp.getTime, t.price))
      (sorted.head.price, trades.map(_.price).max, trades.map(_.price).min,
        sorted.last.price, 100.0)
    }
    for (parts <- Seq(1, 3, 8)) {
      val got = trades.toDS().repartition(parts)
        .groupByKey(_.base).agg(OhlcAggregator.toColumn.name("c"))
        .collect().head._2
      assert(got == expected, s"parts=$parts")
    }
  }
}
