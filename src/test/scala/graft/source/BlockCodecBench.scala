package graft.source

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import TradeLogFormat.{BaseCols, BlockMeta}

/** Times the tradelog block codec against the stream codec it replaced
  * ([[LegacyBlockCodec]]) in one JVM, with no Spark job and no file I/O:
  * 20,480 `events`-shaped rows in blocks of [[TradeLogFormat.DefaultBlockRows]].
  *
  *   - decode, for the point-read projection (`event_id`, `user_id`) and
  *     the slice projection (`ts`, `value`): the legacy walk with the
  *     reader's old wrapping (a `GenericInternalRow` per row, buffered per
  *     block) against [[BlockCursor]]'s reused row;
  *   - encode: [[LegacyBlockCodec.encode]] (the writer's old boxing and
  *     `String` round trip through a `DataOutputStream`) against
  *     [[BlockEncoder]].
  *
  * Every rep consumes each row's values into a checksum that both sides
  * must agree on. Three warm-up passes of every case, then the reps alternate sides;
  * prints the median and quartiles in ns/row.
  *
  * {{{ sbt "Test/runMain graft.source.BlockCodecBench [reps]" }}}
  */
object BlockCodecBench {
  val Rows = 20480
  private val noTail = Array.empty[DataType]

  private def rows(): IndexedSeq[InternalRow] = {
    val rnd = new scala.util.Random(11L)
    val types = Array("click", "view", "purchase", "signup")
    (0 until Rows).map { i =>
      new GenericInternalRow(Array[Any](i.toLong,
        1704067200000000L + i * 1000L + rnd.nextInt(1000),
        rnd.nextInt(200).toLong,
        UTF8String.fromString(types(rnd.nextInt(types.length))),
        rnd.nextDouble() * 1000,
        UTF8String.fromString(s"""{"page":"/p/${rnd.nextInt(500)}","ref":"r${rnd.nextInt(9)}"}""")))
    }
  }

  private def legacyDecode(blocks: Seq[(BlockMeta, Array[Byte])],
      wanted: Array[Int]): Long = {
    var sum = 0L
    blocks.foreach { case (b, payload) =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      LegacyBlockCodec.decodeBlock(payload, b.nRows, wanted, b.nCols, noTail)(
        v => buf += new GenericInternalRow(v))
      buf.foreach(r => sum += r.getLong(0) ^ java.lang.Double.doubleToRawLongBits(
        if (wanted(1) == 4) r.getDouble(1) else r.getLong(1).toDouble))
    }
    sum
  }

  private def cursorDecode(blocks: Seq[(BlockMeta, Array[Byte])],
      wanted: Array[Int]): Long = {
    var sum = 0L
    val cursor = new BlockCursor(wanted, noTail)
    val r = cursor.row
    blocks.foreach { case (b, payload) =>
      cursor.reset(b, payload, null)
      while (cursor.next()) sum += r.getLong(0) ^ java.lang.Double.doubleToRawLongBits(
        if (wanted(1) == 4) r.getDouble(1) else r.getLong(1).toDouble)
    }
    sum
  }

  private def legacyEncode(blocks: Seq[IndexedSeq[InternalRow]]): Long =
    blocks.map(bs => LegacyBlockCodec.encode(bs, noTail).length.toLong).sum

  private def cursorEncode(blocks: Seq[IndexedSeq[InternalRow]]): Long = {
    val enc = new BlockEncoder(noTail)
    val sink = new java.io.OutputStream {
      var n = 0L
      override def write(b: Int): Unit = n += 1
      override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
    }
    blocks.foreach { bs => bs.foreach(enc.add); enc.writeFramed(sink); enc.reset() }
    sink.n - 8L * blocks.size
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(9)
    val all = rows()
    val grouped = all.grouped(TradeLogFormat.DefaultBlockRows).toSeq
    val blocks = grouped.map { bs =>
      val payload = LegacyBlockCodec.encode(bs, noTail)
      BlockMeta("bench.gtl", 0L, payload.length, bs.size, 0L, 0L, nCols = BaseCols) -> payload
    }
    val point = Array(0, 2)
    val slice = Array(1, 4)
    val cases = Seq[(String, Seq[(String, () => Long)])](
      "decode event_id,user_id" -> Seq(
        "legacy" -> (() => legacyDecode(blocks, point)),
        "cursor" -> (() => cursorDecode(blocks, point))),
      "decode ts,value" -> Seq(
        "legacy" -> (() => legacyDecode(blocks, slice)),
        "cursor" -> (() => cursorDecode(blocks, slice))),
      "encode" -> Seq(
        "legacy" -> (() => legacyEncode(grouped)),
        "cursor" -> (() => cursorEncode(grouped))))
    println(s"$Rows rows, ${blocks.size} blocks, ${blocks.map(_._2.length).sum} payload bytes")
    cases.foreach { case (name, sides) => // warm-up of every case first
      val checks = (1 to 3).flatMap(_ => sides.map(_._2())).distinct
      assert(checks.size == 1, s"$name: the two sides disagree: $checks")
    }
    cases.foreach { case (name, sides) =>
      val times = (1 to reps).flatMap(_ => sides.map { case (side, f) =>
        val t0 = System.nanoTime()
        f()
        side -> (System.nanoTime() - t0).toDouble / Rows
      }).groupBy(_._1)
      sides.foreach { case (side, _) =>
        val t = times(side).map(_._2).sorted
        def q(p: Double) = t(((t.length - 1) * p).round.toInt)
        println(f"$name%-24s $side%-7s median ${q(0.5)}%8.1f ns/row  " +
          f"(q1 ${q(0.25)}%.1f, q3 ${q(0.75)}%.1f, n=${t.length})")
      }
    }
  }
}
