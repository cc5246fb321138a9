package graft.expr

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** A fallback that fails the row: a query with it completes only if every
  * row took the fast path. */
case class RaisingFallback(dataType: DataType) extends LeafExpression with CodegenFallback {
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any =
    throw new IllegalStateException("flat_json_strings evaluated its fallback")
}

/** flat_json_strings against Spark's `from_json` over parseTrades' five
  * payload fields: seeded ScalaCheck shapes on and off the fast path, each
  * row equal to `from_json` (a null struct distinct from an all-null one),
  * at 1 and 4 partitions; the values probed on Spark 4.1.2 pinned; and the
  * reference and generator payloads proven to take the fast path. */
class FlatJsonStringsSpec extends SparkTestBase {
  import spark.implicits._

  private val fields = Seq("from_symbol", "to_symbol", "timestamp", "quantity", "price")
  private val schema: StructType = StructType(fields.map(graft.ohlc.TradeSchema.schema(_)))

  private def fast(v: Column): Column =
    call_function("flat_json_strings", v, from_json(v, schema))

  private def frame(values: Seq[String], partitions: Int): DataFrame =
    values.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "value").repartition(partitions)

  /** The reference payload (main.py:48-67): 14 string fields, no spaces. */
  private def referencePayload(sym: String, ts: Long, price: String, qty: String): String =
    s"""{"type":"2","market":"CCCAGG","from_symbol":"$sym","to_symbol":"USDT","flags":"1",""" +
      s""""trade_id":"${ts * 7}","timestamp":"$ts","quantity":"$qty","price":"$price",""" +
      s""""total_value":"12.5","received_ts":"$ts","ccseq":"9","timestamp_ns":"${ts}000000000",""" +
      s""""received_ts_ns":"${ts}000000000"}"""

  /** The perfbench generator's payload (gen.py `_trade_line`): a space after
    * every colon and comma, "n/a" and "abc" for its bad values. */
  private def genPayload(sym: String, ts: String, price: String, qty: String): String =
    s"""{"type": "0", "market": "bench", "from_symbol": "$sym", "to_symbol": "USDT", """ +
      s""""flags": "1", "trade_id": "123", "timestamp": "$ts", "quantity": "$qty", """ +
      s""""price": "$price", "total_value": "1.0", "received_ts": "$ts", "ccseq": "0", """ +
      s""""timestamp_ns": "0", "received_ts_ns": "0"}"""

  private val plainChar: Gen[Char] =
    Gen.choose(0x20.toChar, 0x7e.toChar).suchThat(c => c != '"' && c != '\\')
  private val plain: Gen[String] = Gen.listOf(plainChar).map(_.mkString).map(_.take(12))

  private val keyGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(fields),
    2 -> Gen.oneOf("type", "market", "trade_id", "flags", "x", "", "pri ce", "price "),
    2 -> Gen.oneOf("Price", "PRICE", "Timestamp", "FROM_SYMBOL", "to_Symbol"),
    1 -> plain)

  /** A JSON value token: mostly plain strings, the rest what must fall back. */
  private val valueGen: Gen[String] = Gen.frequency(
    10 -> plain.map(s => "\"" + s + "\""),
    1 -> Gen.oneOf("\"a\\\"b\"", "\"a\\\\b\"", "\"\\n\"", "\"\\u0041\"", "\"\\u00e9x\"",
      "\"\\/\"", "\"\\ud83d\\ude00\"", "\"bad\\q\""),
    1 -> Gen.oneOf("1.5", "-0", "1e3", "007", "null", "true", "false", "NaN"),
    1 -> Gen.oneOf("{\"x\":\"1\"}", "[\"1\"]", "[]", "{}", "{\"a\":{\"b\":[1,2]}}"),
    1 -> Gen.oneOf("'1'", "'a\"b'", "\"1\t\"", "\"a\u0001b\"", "\"\u007f\"", "\"é\"",
      "\"日本\"", "\"a\u00a0\""))

  private val wsGen: Gen[String] = Gen.frequency(
    8 -> Gen.const(""), 4 -> Gen.const(" "),
    2 -> Gen.oneOf("\t", "\n", "\r\n", "  \t "),
    1 -> Gen.oneOf("\u000b", "\f", "\u00a0", "/**/"))

  private val jsonWs: Gen[String] = Gen.frequency(
    8 -> Gen.const(""), 4 -> Gen.const(" "), 2 -> Gen.oneOf("\t", "\n", "\r\n", "  \t "))

  /** A flat object; a clean one (half) has only plain strings and JSON
    * whitespace, a dirty one any value, whitespace, ending and quote. */
  private val objectGen: Gen[String] = for {
    clean <- Gen.oneOf(true, false)
    ws = if (clean) jsonWs else wsGen
    n <- Gen.choose(0, 8)
    pairs <- Gen.listOfN(n, for {
      w1 <- ws; k <- keyGen; w2 <- ws; w3 <- ws
      v <- if (clean) plain.map(s => "\"" + s + "\"") else valueGen
      w4 <- ws
    } yield s"""$w1"$k"$w2:$w3$v$w4""")
    lead <- ws
    trail <- if (clean) ws
      else Gen.frequency(8 -> wsGen, 1 -> Gen.oneOf(",", " x", "}", "{}", "\u0000", " \n "))
    comma <- Gen.frequency(12 -> Gen.const(""), 1 -> Gen.const(if (clean) "" else ","))
    quote <- Gen.frequency(12 -> Gen.const('"'), 1 -> Gen.const(if (clean) '"' else '\''))
  } yield {
    val s = lead + "{" + pairs.mkString(",") + comma + "}" + trail
    if (quote == '"') s else s.replace('"', '\'')
  }

  private val payloadGen: Gen[String] = for {
    sym <- Gen.oneOf("BTC", "ETH", "b0042", "A-B")
    ts <- Gen.choose(1704067200L, 1704153600L)
    price <- Gen.oneOf("100.5", "0.01", "abc", "")
    qty <- Gen.oneOf("1.0000", "2.5", "n/a")
    ref <- Gen.oneOf(true, false)
  } yield if (ref) referencePayload(sym, ts, price, qty) else genPayload(sym, ts.toString, price, qty)

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = Seed(seed)
    (1 to n).map { _ =>
      val v = g.apply(Gen.Parameters.default, s).getOrElse(fail("generator returned no sample"))
      s = s.next
      v
    }
  }

  /** Whether `v` decodes without evaluating the fallback. */
  private def fastPath(v: String): Boolean =
    util.Try(FlatJsonStrings(Literal(v), RaisingFallback(schema)).eval(null)).isSuccess

  private lazy val objects: Seq[String] = sample(objectGen, 1500, 42L)

  /** Every shape the spec feeds: generated objects, payloads with
    * duplicates and edits, every truncation of both payloads, non-object
    * roots, blanks and null. */
  private lazy val inputs: Seq[String] = {
    val ref = referencePayload("BTC", 1704067200L, "100.5", "2.0")
    val gen = genPayload("ETH", "1704067201", "200.25", "0.5000")
    val edits = sample(payloadGen, 60, 11L).flatMap { p =>
      Seq(p,
        p.dropRight(1) + ",\"price\":\"9\"}",           // duplicate projected key
        p.dropRight(1) + ",\"type\":\"9\"}",            // duplicate skipped key
        p.dropRight(1) + ",\"extra\":[1,{\"a\":null}]}", // extra non-string value
        p.replace("\"price\"", "\"Price\""),
        p + "  \n", p + " x", " \t" + p, p.replace(":", " : "))
    }
    val truncations = (0 to ref.length).map(ref.take) ++ (0 to gen.length).map(gen.take)
    val roots = Seq("", " ", "  ", "\n", "null", "\"x\"", "1", "true", "[]", "[{\"price\":\"1\"}]",
      "{", "}", "{}", " { } ", "{\"price\"}", "{\"price\":}", "{\"price\" \"1\"}", "{,}",
      "{\"" + "k" * 60000 + "\":\"1\",\"price\":\"2\"}",
      "{\"" + "k" * 40000 + "\":\"1\",\"price\":\"2\"}")
    objects ++ edits ++ truncations ++ roots :+ (null: String)
  }

  Seq(1, 4).foreach { p =>
    test(s"every row equals from_json over the five fields ($p partitions)") {
      val rows = frame(inputs, p)
        .select(col("id"), fast(col("value")).as("fast"), from_json(col("value"), schema).as("json"))
        .collect()
      assert(rows.length == inputs.length)
      rows.foreach { r =>
        val v = inputs(r.getInt(0))
        assert(r.get(1) == r.get(2), s"mismatch on ${Option(v).map(_.take(80))}")
      }
    }
  }

  test("the generated shapes exercise both paths") {
    val hits = objects.count(fastPath)
    assert(hits > objects.length / 4 && hits < objects.length * 3 / 4, s"$hits of ${objects.length}")
  }

  test("the fast shape's edges: what decodes and what takes the fallback") {
    Seq("{}", " \t\r\n{ \"price\" :\t\"1\" ,\"x\":\"\"}\n", """{"type":"1","type":"2"}""",
      """{"Price":"1"}""", "{\"k\":\"" + "v" * 30000 + "\"}")
      .foreach(v => assert(fastPath(v), v.take(40)))
    Seq("""{"price":"a\"b"}""", "{\"price\":\"\\u0041\"}", "{\"price\":\"é\"}",
      "{\"price\":\"1\t\"}", """{'price':'1'}""", """{"price":1}""", """{"x":null}""",
      """{"price":"1",}""", """{"price":"1"} x""", """[{"price":"1"}]""", "\"x\"", "", " ",
      """{"price":"1","price":"2"}""", "\u000b{}", "{\"k\":\"" + "v" * 40000 + "\"}")
      .foreach(v => assert(!fastPath(v), v.take(40)))
  }

  test("values probed on Spark 4.1.2 with the five-field schema") {
    def decoded(v: String): Row = frame(Seq(v), 1).select(fast(col("value")).as("d"))
      .collect().head.getAs[Row](0)
    val allNull = Row(null, null, null, null, null)
    assert(decoded("""{"price":"1"} x""").getAs[String]("price") == "1")
    assert(decoded("""{"price":"1","price":"2"}""").getAs[String]("price") == "2")
    assert(decoded("""{"price":1.5}""").getAs[String]("price") == "1.5")
    assert(decoded("""{"price":{"x":"1"}}""").getAs[String]("price") == """{"x":"1"}""")
    assert(decoded("""{"Price":"1"}""") == allNull)
    assert(decoded("""{'price':'1'}""").getAs[String]("price") == "1")
    Seq("{\"price\":\"1\t\"}", """{"price":"1",}""", """[{"price":"1"}]""", "null", "\"x\"")
      .foreach(v => assert(decoded(v) == allNull, v))
    Seq("", "  ").foreach(v => assert(decoded(v) == null, s"[$v]"))
    assert(decoded("""{"price": "1", "to_symbol": "USDT"}""") == Row(null, "USDT", null, null, "1"))
  }

  test("reference and generator payloads take the fast path at 1 and 4 partitions") {
    val payloads = sample(payloadGen, 400, 7L)
    val s = spark.newSession()
    s.sessionState.functionRegistry.registerFunction(FunctionIdentifier("flat_json_strings_raising"),
      new ExpressionInfo(classOf[FlatJsonStrings].getName, "flat_json_strings_raising"),
      (c: Seq[Expression]) => FlatJsonStrings(c.head, RaisingFallback(schema)))
    import s.implicits._
    Seq(1, 4).foreach { p =>
      val got = payloads.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "value")
        .repartition(p)
        .select(col("id"), call_function("flat_json_strings_raising", col("value")),
          from_json(col("value"), schema))
        .collect()
      assert(got.length == payloads.length)
      got.foreach(r => assert(r.get(1) == r.get(2), payloads(r.getInt(0))))
    }
  }

  test("decoded values are copies, not views of the input buffer") {
    val buf = """{"price":"12.5"}""".getBytes("UTF-8")
    val row = FlatJsonStrings(Literal(UTF8String.fromBytes(buf), StringType), RaisingFallback(schema))
      .eval(null).asInstanceOf[InternalRow]
    java.util.Arrays.fill(buf, 'x'.toByte)
    assert(row.getUTF8String(4).toString == "12.5")
  }
}
