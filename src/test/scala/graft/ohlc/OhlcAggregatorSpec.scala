package graft.ohlc

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions.expr

import graft.SparkTestBase

/** The OHLC aggregations outside `OhlcPipeline.candles` — the typed fold
  * the state engines run and the `first_by_ordered`/`last_by_ordered`
  * aggregate — must agree with the untyped pipeline: same tie rule, same
  * NaN order, same totals. */
class OhlcAggregatorSpec extends SparkTestBase {
  import spark.implicits._

  private val t0 = 1704067200L
  private def trade(base: String, sec: Long, p: Double, q: Double) =
    Trade(base, new java.sql.Timestamp(sec * 1000), p, q)

  private def fold(trades: Seq[Trade]): OhlcBuf =
    trades.foldLeft(OhlcFold.zero)(OhlcFold.reduce)

  /** Candles of `OhlcPipeline.candles` keyed by (base, window start ms). */
  private def pipelineCandles(trades: Seq[Trade])
      : Map[(String, Long), (Double, Double, Double, Double, Double)] =
    OhlcPipeline.candles(trades.toDF()).collect()
      .map(r => (r.getAs[String]("base"), r.getAs[java.sql.Timestamp]("start_ts").getTime) ->
        ((r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Double]("volume")))).toMap

  // Scala's == on unboxed doubles has NaN != NaN; agreeing on NaN counts
  private def eqv(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Product, y: Product) => x.productArity == y.productArity &&
      x.productIterator.zip(y.productIterator).forall { case (u, v) => eqv(u, v) }
    case _ => a == b
  }

  test("typed one-pass OHLCV matches the untyped pipeline incl. tie rule") {
    val trades = Seq(
      trade("a", t0, 5.0, 1.0), trade("a", t0, 3.0, 1.0), trade("a", t0, 9.0, 1.0),
      trade("a", t0 + 30, 7.0, 2.0), trade("b", t0 + 10, 2.0, 4.0),
      trade("a", t0 + 65, 1.5, 1.0) // second window
    )
    val typed = trades.groupBy(t => (t.base, t.timestamp.getTime / 60000 * 60000))
      .map { case (k, ts) => k -> OhlcFold.finish(fold(ts)) }
    val untyped = pipelineCandles(trades)

    assert(typed.keySet == untyped.keySet)
    typed.foreach { case (k, c) => assert(c == untyped(k), s"mismatch at $k") }
    // spot-check the tie rule directly
    assert(typed(("a", t0 * 1000))._1 == 3.0 && typed(("a", t0 * 1000))._4 == 7.0)
  }

  test("OhlcFold: NaN prices on tied timestamps fold like the pipeline in any row order") {
    // whole-millisecond timestamps with heavy ties; NaN (what
    // try_cast('NaN' as double) yields in parseTrades) sits on the tied ms.
    // Integral quantities keep the volume sum exact in any order.
    val rnd = new scala.util.Random(11)
    val ms0 = t0 * 1000
    val prices = Seq(Double.NaN, 5.0, 3.0, 7.5)
    def tr(base: String, ms: Long, p: Double) =
      Trade(base, new java.sql.Timestamp(ms), p, (rnd.nextInt(4) + 1).toDouble)

    // every permutation of one candle's rows: NaN against 5.0 on one tied
    // ms, NaN against NaN and 3.0 on the next
    val group = Seq(tr("a", ms0 + 7, Double.NaN), tr("a", ms0 + 7, 5.0),
      tr("a", ms0 + 8, 3.0), tr("a", ms0 + 8, Double.NaN), tr("a", ms0 + 8, Double.NaN),
      tr("a", ms0 + 9, 6.0), tr("a", ms0 + 7, 4.0))
    val expected = pipelineCandles(group)(("a", ms0))
    group.permutations.foreach { p =>
      val got = OhlcFold.finish(fold(p))
      assert(eqv(got, expected), s"order ${p.map(_.price)}: $got != $expected")
    }

    // a seeded corpus over several candles, split at random and merged in
    // random order
    val corpus = (0 until 300).map { _ =>
      tr(s"s${rnd.nextInt(3)}", ms0 + rnd.nextInt(4) * 30000L + rnd.nextInt(3),
        prices(rnd.nextInt(prices.size)))
    }
    val want = pipelineCandles(corpus)
    for (round <- 0 until 20) {
      val got = corpus.groupBy(t => (t.base, t.timestamp.getTime / 60000 * 60000)).map {
        case (k, rows) =>
          val parts = rnd.shuffle(rows).grouped(rnd.nextInt(rows.size) + 1).map(fold).toSeq
          k -> OhlcFold.finish(rnd.shuffle(parts).foldLeft(OhlcFold.zero)(OhlcFold.merge))
      }
      assert(got.keySet == want.keySet)
      got.foreach { case (k, c) => assert(eqv(c, want(k)), s"round $round at $k: $c != ${want(k)}") }
    }
  }

  test("first_by_ordered/last_by_ordered match a Scala model (incl. ties, NaN, nulls, partitions)") {
    // seeded generator: heavy ts ties (7 distinct ts), duplicate prices,
    // interleaved null prices the aggregate must skip, and NaN prices that
    // must follow Catalyst's double order (NaN == NaN, NaN above everything)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map { i =>
      val p: java.lang.Double =
        if (i % 17 == 0) null
        else if (i % 23 == 0) Double.NaN
        else rnd.nextInt(13) + 0.5
      (s"s${i % 3}", t0 * 1000000L + (rnd.nextInt(7) * 1000000L), p)
    }
    // the model: skip nulls, lexicographic min/max of (ts, price)
    val byKey = new Ordering[(Long, Double)] {
      def compare(x: (Long, Double), y: (Long, Double)): Int =
        if (x._1 != y._1) java.lang.Long.compare(x._1, y._1) else compareDoubles(x._2, y._2)
    }
    val model = rows.filter(_._3 != null).groupBy(_._1).map { case (base, rs) =>
      val keys = rs.map(r => (r._2, r._3.doubleValue))
      base -> (keys.min(byKey)._2, keys.max(byKey)._2)
    }
    val df = rows.toDF("base", "ts_us", "price")
    for (parts <- Seq(1, 4, 16)) {
      val r = df.repartition(parts).groupBy($"base").agg(
        expr("first_by_ordered(ts_us, price)"), expr("last_by_ordered(ts_us, price)"))
        .collect()
      assert(r.length == 3)
      r.foreach { row =>
        val (o, c) = model(row.getString(0))
        assert(eqv(row.get(1), o), s"open mismatch parts=$parts: $row, model $o")
        assert(eqv(row.get(2), c), s"close mismatch parts=$parts: $row, model $c")
      }
    }
    // focused NaN tie: at one shared ts, Catalyst's total order puts NaN
    // above 5.0 — first (lexicographic min) is 5.0, last is NaN
    val nanTie = Seq(("n", 1L, Double.NaN), ("n", 1L, 5.0)).toDF("base", "ts_us", "price")
      .groupBy($"base").agg(
        expr("first_by_ordered(ts_us, price)"), expr("last_by_ordered(ts_us, price)"))
      .collect().head
    assert(nanTie.getDouble(1) == 5.0, s"NaN tie first: $nanTie")
    assert(nanTie.getDouble(2).isNaN, s"NaN tie last: $nanTie")

    // a DeclarativeAggregate: HashAggregate (codegen), never ObjectHashAggregate
    val plan = df.groupBy($"base")
      .agg(expr("first_by_ordered(ts_us, price)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"))
  }

  test("first_by_ordered/last_by_ordered: analysis accepts integral or TIMESTAMP ordering, DOUBLE values") {
    val df = Seq((1, 1L, new java.sql.Timestamp(1000L), 2.5, "x"))
      .toDF("i", "l", "ts", "price", "s")
    def analyze(e: String) = df.agg(expr(e)).queryExecution.assertAnalyzed()
    for (fn <- Seq("first_by_ordered", "last_by_ordered")) {
      Seq("i", "l", "ts").foreach(o => analyze(s"$fn($o, price)"))
      val badValue = intercept[AnalysisException](analyze(s"$fn(ts, 'x')"))
      assert(badValue.getMessage.contains(s"$fn value argument must be DOUBLE"), badValue.getMessage)
      val badOrder = intercept[AnalysisException](analyze(s"$fn(1.5D, price)"))
      assert(badOrder.getMessage.contains(s"$fn ordering argument must be integral or TIMESTAMP"),
        badOrder.getMessage)
    }
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
      val folded = trades.zipWithIndex.groupBy(_._2 % parts).values
        .map(p => fold(p.map(_._1))).toSeq
      for (order <- Seq(folded, folded.reverse, new scala.util.Random(parts).shuffle(folded))) {
        val got = OhlcFold.finish(order.foldLeft(OhlcFold.zero)(OhlcFold.merge))
        assert(got == expected, s"parts=$parts")
      }
      // merge(a, b) == merge(b, a) and zero is the identity on both sides
      folded.combinations(2).foreach { case Seq(a, b) =>
        assert(OhlcFold.merge(a, b) == OhlcFold.merge(b, a))
        assert(OhlcFold.merge(OhlcFold.zero, a) == a && OhlcFold.merge(a, OhlcFold.zero) == a)
      }
    }
  }
}
