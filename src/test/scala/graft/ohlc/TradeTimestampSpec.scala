package graft.ohlc

import graft.SparkTestBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The epoch-seconds → TIMESTAMP step of [[OhlcPipeline.parseTrades]]
  * (main.py:124) pinned in a fixed zone, a fractional fixed offset and a
  * DST zone: probed values, then parseTrades against the reference's own
  * round trip ([[ReferenceParse]]) on seeded seconds over the whole LONG
  * range, the year 0001/9999 edges and New York's 2023 DST transitions. */
class TradeTimestampSpec extends SparkTestBase {

  private val zones = Seq("UTC", "+05:30", "America/New_York")
  private val y1 = -62135596800L     // 0001-01-01T00:00:00Z
  private val y10000 = 253402300800L // 10000-01-01T00:00:00Z

  private def session(zone: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    s
  }

  private def payload(ts: String): String =
    s"""{"from_symbol":"A","to_symbol":"USDT","timestamp":"$ts","quantity":"1","price":"1"}"""

  /** topic → the parsed timestamp in epoch µs; dropped rows are absent. */
  private def parsed(s: SparkSession, parse: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                     ts: Seq[String]): Map[String, Long] = {
    import s.implicits._
    val raw = ts.zipWithIndex.map { case (t, i) => (s"t$i", payload(t)) }.toDF("topic", "value")
    parse(raw).select(col("topic"), unix_micros(col("timestamp")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def seconds(zone: String, ts: String*): Seq[Option[Long]] = {
    val got = parsed(session(zone), OhlcPipeline.parseTrades(_), ts)
    ts.indices.map(i => got.get(s"t$i").map { us => assert(us % 1000000L == 0); us / 1000000L })
  }

  test("probed values: identity in range, wrap out of range, try_cast strings, DST overlap") {
    assert(seconds("UTC", "1704067200", s"${y1 - 1}", s"$y10000", "999999999999") ==
      Seq(Some(1704067200L), Some(y1 - 1), Some(y10000), Some(999999999999L)))
    // out of range the round trip wraps; it must be kept there
    assert(seconds("UTC", "-9999999999999", "9223372036854775807") ==
      Seq(Some(8446744073710L), Some(-1L)))
    assert(seconds("UTC", "1e3", "17.9", " 17 ") == Seq(None, None, Some(17L)))
    // the second 01:30 of the 2023-11-05 fall-back maps to the first
    assert(seconds("America/New_York", "1699165800") == Seq(Some(1699162200L)))
  }

  test("parseTrades equals the reference round trip on seeded seconds in three zones") {
    def near(c: Long, r: Long): Gen[Long] = Gen.choose(c - r, c + r)
    val gen: Gen[String] = Gen.frequency(
      3 -> Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
      3 -> Gen.choose(y1 - 3 * 86400L, y10000 + 3 * 86400L).map(_.toString),
      2 -> Gen.oneOf(near(y1, 20 * 3600L), near(y10000, 20 * 3600L)).map(_.toString),
      // 2023-03-12 02:00 EST spring-forward gap and 2023-11-05 01:00 EST overlap
      2 -> Gen.oneOf(near(1678604400L, 3 * 3600L), near(1699164000L, 3 * 3600L)).map(_.toString),
      2 -> near(1704067200L, 366 * 86400L).map(_.toString),
      1 -> Gen.oneOf("", "abc", "1e3", "17.9", " 17 ", "-0", "+5", "0x10",
        "9223372036854775808", "-9223372036854775808"))
    var seed = Seed(71L)
    val ts = (1 to 600).map { _ =>
      val v = gen.apply(Gen.Parameters.default, seed).getOrElse(fail("generator returned no sample"))
      seed = seed.next
      v
    }
    zones.foreach { zone =>
      val s = session(zone)
      val got = parsed(s, OhlcPipeline.parseTrades(_), ts)
      val want = parsed(s, ReferenceParse.parseTrades(_), ts)
      assert(got.size > ts.size / 2, s"$zone: too few rows parsed")
      ts.indices.foreach { i =>
        assert(got.get(s"t$i") == want.get(s"t$i"), s"$zone: ${ts(i)}")
      }
    }
  }
}
