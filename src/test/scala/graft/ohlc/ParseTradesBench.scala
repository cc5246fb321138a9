package graft.ohlc

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Times [[OhlcPipeline.parseTrades]] against the reference formulation
  * ([[ReferenceParse]]) in one JVM, on one cached single-partition batch
  * shaped like the perfbench generator's (gen.py): 20k trades with ~0.5%
  * truncated lines (a null `value`, as the outer JSON source gives them),
  * ~0.5% non-numeric timestamps and prices, ~1% multi-hyphen and ~1%
  * foreign topics. Each side writes to the `noop` sink; one warm-up each,
  * then the reps alternate sides. Prints the median and quartiles in ns
  * per row, with the batch written unparsed ("scan only") as the floor
  * both sides share.
  *
  * {{{ sbt "Test/runMain graft.ohlc.ParseTradesBench [reps]" }}}
  */
object ParseTradesBench {
  val Rows = 20000

  def batch(s: SparkSession): DataFrame = {
    import s.implicits._
    val rnd = new scala.util.Random(71)
    val rows = (0 until Rows).map { i =>
      val base = f"b${rnd.nextInt(1000)}%04d"
      val ts = 1704067200L + rnd.nextInt(60)
      val v = rnd.nextDouble()
      val w = rnd.nextDouble()
      val price = 100.0 + rnd.nextInt(90000) / 100.0
      val qty = rnd.nextInt(50000) / 10000.0 + 0.0001
      val tsS = if (v >= 0.005 && v < 0.01) "n/a" else ts.toString
      val priceS = if (v >= 0.01 && v < 0.015) "abc" else f"$price%.2f"
      val topic =
        if (w < 0.01) s"parsed-trades-$base-x-usdt"
        else if (w < 0.02) s"trades-$base"
        else s"parsed-trades-$base-usdt"
      val payload =
        s"""{"type": "0", "market": "bench", "from_symbol": "${base.toUpperCase}", """ +
          s""""to_symbol": "USDT", "flags": "1", "trade_id": "${rnd.nextInt(1 << 30)}", """ +
          s""""timestamp": "$tsS", "quantity": "${f"$qty%.4f"}", "price": "$priceS", """ +
          s""""total_value": "${f"${qty * price}%.4f"}", "received_ts": "$tsS", "ccseq": "0", """ +
          s""""timestamp_ns": "0", "received_ts_ns": "0"}"""
      (topic, if (v < 0.005) null else payload)
    }
    rows.toDF("topic", "value").repartition(1).cache()
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(9)
    val s = SparkSession.builder().master("local[2]").appName("parse-trades-bench")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try {
      val raw = batch(s)
      raw.count()
      val sides = Seq[(String, DataFrame => DataFrame)](
        "parseTrades" -> (OhlcPipeline.parseTrades(_)),
        "reference" -> (ReferenceParse.parseTrades(_)),
        "scan only" -> ((df: DataFrame) => df))
      assert(OhlcPipeline.parseTrades(raw).exceptAll(ReferenceParse.parseTrades(raw)).isEmpty &&
        ReferenceParse.parseTrades(raw).exceptAll(OhlcPipeline.parseTrades(raw)).isEmpty,
        "parseTrades and the reference formulation disagree")
      def once(parse: DataFrame => DataFrame): Double = {
        val t0 = System.nanoTime()
        parse(raw).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble / Rows
      }
      sides.foreach { case (_, p) => once(p) }
      val times = (1 to reps).flatMap(_ => sides.map { case (n, p) => n -> once(p) })
        .groupBy(_._1).map { case (n, ts) => n -> ts.map(_._2).sorted }
      sides.foreach { case (n, _) =>
        val t = times(n)
        def q(f: Double) = t(((t.length - 1) * f).round.toInt)
        println(f"$n%-12s median ${q(0.5)}%8.0f ns/row  (q1 ${q(0.25)}%.0f, q3 ${q(0.75)}%.0f, n=${t.length})")
      }
    } finally s.stop()
  }
}
