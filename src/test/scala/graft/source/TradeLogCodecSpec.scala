package graft.source

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Objects

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import TradeLogFormat.{BaseCols, BlockMeta}

/** The production block codec ([[BlockEncoder]], [[BlockCursor]],
  * [[TradeLogPartitionReader]]) against the stream codec it replaced
  * ([[LegacyBlockCodec]]): the same rows must encode to the same bytes
  * and the same bytes must decode to the same values, for every null
  * mask, string shape (malformed UTF-8 included), evolution tail, column
  * projection, delete vector and block width. Generators run from fixed
  * seeds, as in `OhlcPropertiesSpec` (the scalatest↔scalacheck bridge is
  * not in the offline cache). */
class TradeLogCodecSpec extends SparkTestBase {

  private val baseTypes: Array[DataType] = TradeLogFormat.schema.fields.map(_.dataType)

  // ---- generators -----------------------------------------------------

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** String bytes: empty, ASCII, 2/3/4-byte UTF-8 and malformed sequences
    * (lone continuation bytes, encoded surrogates, truncated and overlong
    * sequences, bytes that never occur in UTF-8). */
  private val genStrBytes: Gen[Array[Byte]] = {
    val pieces: Gen[Array[Byte]] = Gen.oneOf(
      Gen.alphaNumStr.map(utf8),
      Gen.oneOf("é", "ü", "β", "汉字", "€", "🙂", "𝄞", "\t|,\\\"'\n").map(utf8),
      Gen.oneOf(
        Array(0x80.toByte), Array(0xbf.toByte, 0x80.toByte), // lone continuations
        Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), // encoded high surrogate
        Array(0xed.toByte, 0xbf.toByte, 0xbf.toByte), // encoded low surrogate
        Array(0xe2.toByte, 0x82.toByte), // truncated 3-byte
        Array(0xf0.toByte, 0x9f.toByte, 0x99.toByte), // truncated 4-byte
        Array(0xc3.toByte), // truncated 2-byte
        Array(0xc0.toByte, 0xaf.toByte), // overlong '/'
        Array(0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF
        Array(0xf8.toByte), Array(0xff.toByte)))
    Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      6 -> Gen.listOfN(4, pieces).flatMap(ps => Gen.choose(1, 4).map(n =>
        ps.take(n).reduce(_ ++ _))))
  }

  private val genDouble: Gen[Double] = Gen.oneOf(
    Gen.const(0.0), Gen.const(-0.0), Gen.const(Double.NaN),
    Gen.const(Double.MaxValue), Gen.const(Double.MinPositiveValue),
    Gen.const(Double.NegativeInfinity), Gen.choose(-1e12, 1e12))

  private val genLong: Gen[Long] = Gen.oneOf(
    Gen.const(0L), Gen.const(Long.MinValue), Gen.const(Long.MaxValue),
    Gen.choose(-4102444800000000L, 4102444800000000L))

  private def genValue(dt: DataType): Gen[Any] = dt match {
    case LongType | TimestampType => genLong
    case DoubleType => genDouble
    case _ => genStrBytes.map(UTF8String.fromBytes)
  }

  /** A row of base columns with null mask `mask` (bit i = column i null)
    * and an evolution tail of `xtypes`, each tail value null one time in
    * three. */
  private def genRow(mask: Int, xtypes: Array[DataType]): Gen[InternalRow] = for {
    base <- Gen.sequence[List[Any], Any](baseTypes.indices.map(i =>
      if ((mask & (1 << i)) != 0) Gen.const(null) else genValue(baseTypes(i))))
    tail <- Gen.sequence[List[Any], Any](xtypes.toSeq.map(dt =>
      Gen.frequency(1 -> Gen.const(null), 2 -> genValue(dt))))
  } yield new GenericInternalRow((base ++ tail).toArray)

  private def genRows(xtypes: Array[DataType]): Gen[List[InternalRow]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n,
      Gen.choose(0, 63).flatMap(genRow(_, xtypes))))

  /** Tails of 0, 1 and 10 extras of each type, and a mixed one. */
  private val tails: Seq[Array[DataType]] = Seq(Array.empty[DataType]) ++
    Seq(LongType, DoubleType, StringType, TimestampType).flatMap(dt =>
      Seq(Array[DataType](dt), Array.fill[DataType](10)(dt))) ++
    Seq(Array[DataType](LongType, DoubleType, StringType, TimestampType,
      LongType, StringType, DoubleType, LongType, TimestampType, StringType))

  private def sample[T](g: Gen[T], seed: Seed): T =
    g.apply(Gen.Parameters.default.withSize(20), seed)
      .getOrElse(fail("generator returned no sample"))

  // ---- models ---------------------------------------------------------

  private def encode(rows: Seq[InternalRow], xtypes: Array[DataType]): Array[Byte] = {
    val enc = new BlockEncoder(xtypes)
    rows.foreach(enc.add)
    enc.payload
  }

  private def block(payload: Array[Byte], nRows: Int, nCols: Int,
      dv: Array[Long] = null, file: String = "spec.gtl"): BlockMeta =
    BlockMeta(file, 0L, payload.length, nRows, 0L, 0L, nCols = nCols,
      nDel = TradeLogFormat.dvCount(dv),
      dvHex = if (dv == null) "" else TradeLogFormat.dvHexOf(dv))

  /** The legacy walk's live rows as (ordinal, values in `wanted` order). */
  private def legacyDecode(payload: Array[Byte], nRows: Int,
      wanted: Array[Int], nCols: Int, xtypes: Array[DataType],
      dv: Array[Long]): Seq[(Int, Seq[Any])] = {
    val out = Seq.newBuilder[(Int, Seq[Any])]
    var r = 0
    LegacyBlockCodec.decodeBlock(payload, nRows, wanted, nCols, xtypes) { v =>
      if (!TradeLogFormat.dvDeleted(dv, r)) out += (r -> v.toSeq)
      r += 1
    }
    out.result()
  }

  private def cursorDecode(payload: Array[Byte], b: BlockMeta,
      wanted: Array[Int], xtypes: Array[DataType]): Seq[(Int, Seq[Any])] = {
    val cursor = new BlockCursor(wanted, xtypes)
    val types = wanted.map(TradeLogCodec.slotType(_, xtypes))
    cursor.reset(b, payload, TradeLogFormat.dvWords(b.dvHex))
    val out = Seq.newBuilder[(Int, Seq[Any])]
    while (cursor.next())
      out += (cursor.rowIndex -> types.indices.map(i => cursor.row.get(i, types(i))))
    out.result()
  }

  /** Value equality that tells NaN, -0.0 and string bytes apart. */
  private def same(a: Seq[(Int, Seq[Any])], b: Seq[(Int, Seq[Any])]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((ra, va), (rb, vb)) =>
      ra == rb && va.size == vb.size &&
        va.zip(vb).forall { case (x, y) => Objects.equals(x, y) }
    }

  private def genDv(nRows: Int): Gen[Array[Long]] = Gen.frequency(
    1 -> Gen.const(null),
    2 -> Gen.listOfN(nRows, Gen.frequency(3 -> false, 1 -> true)).map { bits =>
      val w = new Array[Long]((nRows + 63) / 64)
      bits.zipWithIndex.foreach { case (d, i) => if (d) w(i >> 6) |= 1L << (i & 63) }
      w
    })

  // ---- specs ----------------------------------------------------------

  test("the encoder writes the legacy bytes: every null mask, malformed UTF-8, 0/1/10 extras of each type") {
    var seed = Seed(1101L)
    for (xtypes <- tails; _ <- 1 to 12) {
      val rows = sample(genRows(xtypes), seed); seed = seed.next
      val got = encode(rows, xtypes)
      val want = LegacyBlockCodec.encode(rows, xtypes)
      assert(java.util.Arrays.equals(got, want),
        s"encoded bytes differ for tail ${xtypes.mkString(",")}")
    }
    // every one of the 64 base null masks, in one block per tail
    for (xtypes <- tails) {
      val rows = (0 until 64).map(m => sample(genRow(m, xtypes), seed.reseed(m.toLong)))
      assert(java.util.Arrays.equals(encode(rows, xtypes),
        LegacyBlockCodec.encode(rows, xtypes)))
    }
  }

  test("each malformed UTF-8 shape encodes as the String round trip did") {
    val shapes = Seq(Array(0x80), Array(0xed, 0xa0, 0x80), Array(0xed, 0xbf, 0xbf),
      Array(0xe2, 0x82), Array(0xf0, 0x9f, 0x99), Array(0xc0, 0xaf),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xff), Array(0x61, 0xc3),
      Array(0xf0, 0x9f, 0x99, 0x82)).map(_.map(_.toByte))
    for (bytes <- shapes) {
      val s = UTF8String.fromBytes(bytes)
      val row = new GenericInternalRow(Array[Any](1L, 2L, 3L, s, 4.0, s, s))
      val xt = Array[DataType](StringType)
      assert(java.util.Arrays.equals(encode(Seq(row), xt),
        LegacyBlockCodec.encode(Seq(row), xt)), bytes.map(b => f"$b%02x").mkString(" "))
    }
  }

  test("the cursor decodes what the legacy walk decodes: every base projection, DV masks") {
    var seed = Seed(2202L)
    val xtypes = Array.empty[DataType]
    for (subset <- 0 until 64; _ <- 1 to 3) {
      val wanted = (0 until BaseCols).filter(i => (subset & (1 << i)) != 0).toArray
      val rows = sample(genRows(xtypes), seed); seed = seed.next
      val dv = sample(genDv(rows.size), seed); seed = seed.next
      val payload = LegacyBlockCodec.encode(rows, xtypes)
      val b = block(payload, rows.size, BaseCols, dv)
      assert(same(cursorDecode(payload, b, wanted, xtypes),
        legacyDecode(payload, rows.size, wanted, BaseCols, xtypes, dv)),
        s"wanted ${wanted.mkString(",")}")
    }
  }

  test("the cursor decodes what the legacy walk decodes: widened tables, narrower blocks, any projection") {
    var seed = Seed(3303L)
    for (xtypes <- tails.filter(_.nonEmpty); _ <- 1 to 25) {
      val width = BaseCols + xtypes.length
      // a block narrower than the table encodes a prefix of its tail
      val encoded = sample(Gen.choose(0, xtypes.length), seed); seed = seed.next
      val blockX = xtypes.take(encoded)
      val rows = sample(genRows(blockX), seed); seed = seed.next
      val wanted = sample(Gen.someOf(0 until width), seed).sorted.toArray
      seed = seed.next
      val dv = sample(genDv(rows.size), seed); seed = seed.next
      val payload = LegacyBlockCodec.encode(rows, blockX)
      val nCols = BaseCols + encoded
      val b = block(payload, rows.size, nCols, dv)
      assert(same(cursorDecode(payload, b, wanted, xtypes),
        legacyDecode(payload, rows.size, wanted, nCols, xtypes, dv)),
        s"tail ${xtypes.mkString(",")}, block cols $nCols, wanted ${wanted.mkString(",")}")
    }
  }

  test("a manifest-only block yields its live row count of all-null rows through the same row") {
    val xtypes = Array[DataType](LongType, StringType)
    val cursor = new BlockCursor(Array(6, 7), xtypes)
    // a decoded row first, so the null fill has to clear the reused slots
    val rows = Seq(new GenericInternalRow(Array[Any](1L, 2L, 3L, null, 4.0, null,
      9L, UTF8String.fromString("x"))))
    val payload = encode(rows, xtypes)
    cursor.reset(block(payload, 1, 8), payload, null)
    assert(cursor.next() && cursor.row.getLong(0) == 9L)
    val dv = Array(0x5L) // rows 0 and 2 deleted
    cursor.reset(block(Array.emptyByteArray, 5, BaseCols, dv), null, dv)
    var live = List.empty[Int]
    while (cursor.next()) {
      assert(cursor.row.isNullAt(0) && cursor.row.isNullAt(1))
      live ::= cursor.rowIndex
    }
    assert(live.reverse == List(1, 3, 4))
  }

  test("the partition reader fills _file/_boff/_brow/_change_type around decoded slots of legacy-written files") {
    val dir = tempDir("graft-codec").toString
    val (fs, root) = TradeLogFormat.fs(dir)
    var seed = Seed(4404L)
    val xtypes = Array[DataType](StringType, LongType)
    // two files of three blocks each, written as the legacy writer framed them
    val blocks = Seq("part-a.gtl", "part-b.gtl").flatMap { file =>
      val out = fs.create(new org.apache.hadoop.fs.Path(root, file), true)
      var off = 0L
      val bs = (0 until 3).map { i =>
        val rows = sample(genRows(xtypes.take(i)), seed); seed = seed.next
        val dv = sample(genDv(rows.size), seed); seed = seed.next
        val payload = LegacyBlockCodec.encode(rows, xtypes.take(i))
        out.writeInt(rows.size); out.writeInt(payload.length); out.write(payload)
        val b = block(payload, rows.size, BaseCols + i, dv, file).copy(offset = off)
        off += 8L + payload.length
        (b, payload)
      }
      out.close()
      bs
    }
    val meta = Array(TradeLogScan.FileCol, TradeLogScan.BoffCol,
      TradeLogScan.BrowCol, TradeLogScan.ChangeCol)
    var s2 = Seed(4405L)
    for (k <- 1 to 20) {
      val data = sample(Gen.someOf(0 until BaseCols + xtypes.length), s2)
      s2 = s2.next
      // data and metadata slots in a random order
      val outCols = new scala.util.Random(k).shuffle(data.toSeq ++ meta).toArray
      val wanted = outCols.filter(_ >= 0)
      val types = outCols.map(TradeLogCodec.slotType(_, xtypes))
      val reader = new TradeLogPartitionReader(dir, blocks.map(_._1), outCols,
        xtypes, HadoopConfBox.active(), "delete")
      val got = Seq.newBuilder[Seq[Any]]
      while (reader.next()) got += types.indices.map(i => reader.get().get(i, types(i)))
      reader.close()
      val want = blocks.flatMap { case (b, payload) =>
        val dv = TradeLogFormat.dvWords(b.dvHex)
        val decoded =
          if (wanted.forall(_ >= b.nCols))
            (0 until b.nRows).filterNot(TradeLogFormat.dvDeleted(dv, _))
              .map(_ -> Seq.fill[Any](wanted.length)(null))
          else legacyDecode(payload, b.nRows, wanted, b.nCols, xtypes, dv)
        decoded.map { case (r, vs) =>
          val it = vs.iterator
          outCols.toSeq.map {
            case TradeLogScan.FileCol => UTF8String.fromString(b.file)
            case TradeLogScan.BoffCol => b.offset
            case TradeLogScan.BrowCol => r
            case TradeLogScan.ChangeCol => UTF8String.fromString("delete")
            case _ => it.next()
          }
        }
      }
      val g = got.result()
      assert(g.size == want.size)
      g.zip(want).foreach { case (a, e) =>
        assert(a.zip(e).forall { case (x, y) => Objects.equals(x, y) },
          s"outCols ${outCols.mkString(",")}: $a != $e")
      }
    }
  }

  test("a truncated payload raises, naming the file and block") {
    val xtypes = Array[DataType](StringType, DoubleType)
    val rows = sample(genRows(xtypes), Seed(5505L)).take(4)
    val payload = encode(rows, xtypes)
    for (cut <- 0 until payload.length) {
      val part = java.util.Arrays.copyOf(payload, cut)
      val b = block(part, rows.size, BaseCols + 2, file = "cut.gtl").copy(offset = 77L)
      val cursor = new BlockCursor((0 until 8).toArray, xtypes)
      cursor.reset(b, part, null)
      val e = intercept[IllegalStateException] { while (cursor.next()) () }
      assert(e.getMessage.contains("cut.gtl@77"), e.getMessage)
      intercept[java.io.EOFException] {
        LegacyBlockCodec.decodeBlock(part, rows.size, (0 until 8).toArray,
          BaseCols + 2, xtypes)(_ => ())
      }
    }
    // a data file that ends inside a block the manifest lists
    val dir = tempDir("graft-codec-cut").toString
    val (fs, root) = TradeLogFormat.fs(dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, "short.gtl"), true)
    out.writeInt(rows.size); out.writeInt(payload.length)
    out.write(payload, 0, payload.length - 1)
    out.close()
    val reader = new TradeLogPartitionReader(dir,
      Seq(block(payload, rows.size, BaseCols + 2, file = "short.gtl")),
      Array(0), xtypes, HadoopConfBox.active())
    val e = intercept[IllegalStateException] { while (reader.next()) () }
    reader.close()
    assert(e.getMessage.contains("short.gtl@0"), e.getMessage)
  }
}
