package graft.source

import java.io.OutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import TradeLogFormat.{BaseCols, BlockMeta}

/** The block codec of the `graft-tradelog` format (row layout in
  * [[TradeLogFormat]]): [[BlockEncoder]] frames rows into a block,
  * [[BlockCursor]] decodes one back a row at a time. Both work on a byte
  * array by offset, big-endian, with no stream object in between. */
private[source] object TradeLogCodec {
  // extra-column kinds, resolved once per reader/writer from the tail types
  final val KLong = 0
  final val KDouble = 1
  final val KString = 2

  def kindOf(dt: DataType): Int = dt match {
    case LongType | TimestampType => KLong
    case DoubleType => KDouble
    case StringType => KString
    case other => throw new IllegalArgumentException(
      s"unsupported xcol type $other")
  }

  /** Output type of a [[TradeLogScan.outCols]] slot: the table column's
    * type, or the metadata column's. */
  def slotType(ord: Int, xtypes: Array[DataType]): DataType = ord match {
    case TradeLogScan.FileCol | TradeLogScan.ChangeCol => StringType
    case TradeLogScan.BoffCol => LongType
    case TradeLogScan.BrowCol => IntegerType
    case o if o < BaseCols => TradeLogFormat.schema.fields(o).dataType
    case o => xtypes(o - BaseCols)
  }
}

/** The `ts`/`user_id` conjunction a plain read evaluates row by row (see
  * [[TradeLogScanBuilder]]): `ts` within `[tsLo, tsHi]` (inclusive, µs)
  * and `user_id` in `users` (sorted; null = any value). A comparison with
  * null is never true, so a null `ts` passes only when `tsNotNull` is
  * unset, which the builder sets for every handled `ts` predicate; the
  * same holds for `user_id` and `userNotNull`. */
final class RowFilter(val tsLo: Long, val tsHi: Long, val tsNotNull: Boolean,
    val users: Array[Long], val userNotNull: Boolean) extends Serializable {
  require(tsNotNull || (tsLo == Long.MinValue && tsHi == Long.MaxValue),
    "a ts bound implies ts is not null")
  require(userNotNull || users == null, "a user_id set implies not null")

  /** The row with base null mask `mask`, `ts` and `user_id` passes. */
  def test(mask: Int, ts: Long, user: Long): Boolean =
    (if ((mask & 2) != 0) !tsNotNull else ts >= tsLo && ts <= tsHi) &&
      (if ((mask & 4) != 0) !userNotNull
       else users == null || java.util.Arrays.binarySearch(users, user) >= 0)
}

/** Encodes rows of [[TradeLogFormat.schema]] plus the evolution tail
  * `xtypes` into one framed block, `[int32 nRows][int32 payloadLen]
  * [payload]`, in a growable array: values go in by offset, with no
  * boxing and no intermediate `String`. A base string column writes its
  * `UTF8String` bytes as they are when they are valid UTF-8, and the
  * bytes of its decoded `String` otherwise (malformed sequences become
  * U+FFFD), which is what the format has always stored; a tail string
  * writes its bytes as they are. */
private[source] final class BlockEncoder(xtypes: Array[DataType]) {
  import TradeLogCodec._

  private val kinds = xtypes.map(kindOf)
  private val maskBytes = (kinds.length + 7) / 8
  private var buf = new Array[Byte](1 << 16)
  private var bb = ByteBuffer.wrap(buf)
  private var len = 8 // the frame header is filled in by writeFramed
  private var n = 0

  /** Rows in the current block. */
  def rows: Int = n
  def payloadLen: Int = len - 8

  private def ensure(more: Int): Unit = if (len + more > buf.length) {
    buf = java.util.Arrays.copyOf(buf,
      math.max(buf.length.toLong * 2, len.toLong + more).min(Int.MaxValue - 8).toInt)
    bb = ByteBuffer.wrap(buf)
  }

  private def putBytes(s: UTF8String, lenBytes: Int): Unit = {
    val m = s.numBytes
    ensure(lenBytes + m)
    if (lenBytes == 2) bb.putShort(len, m.toShort) else bb.putInt(len, m)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len + lenBytes)
    len += lenBytes + m
  }

  /** A base string column's stored bytes (see the class doc). */
  private def stored(s: UTF8String): UTF8String =
    if (s.isValid) s
    else UTF8String.fromBytes(s.toString.getBytes(StandardCharsets.UTF_8))

  def add(row: InternalRow): Unit = {
    ensure(33)
    val e0 = row.isNullAt(0); val t0 = row.isNullAt(1)
    val u0 = row.isNullAt(2); val et0 = row.isNullAt(3)
    val v0 = row.isNullAt(4); val p0 = row.isNullAt(5)
    buf(len) = ((if (e0) 1 else 0) | (if (t0) 2 else 0) | (if (u0) 4 else 0) |
      (if (et0) 8 else 0) | (if (v0) 16 else 0) | (if (p0) 32 else 0)).toByte
    bb.putLong(len + 1, if (e0) 0L else row.getLong(0))
    bb.putLong(len + 9, if (t0) 0L else row.getLong(1))
    bb.putLong(len + 17, if (u0) 0L else row.getLong(2))
    bb.putDouble(len + 25, if (v0) 0.0 else row.getDouble(4))
    len += 33
    if (!et0) {
      val s = stored(row.getUTF8String(3))
      require(s.numBytes <= Short.MaxValue, "event_type too long")
      putBytes(s, 2)
    }
    if (!p0) putBytes(stored(row.getUTF8String(5)), 4)
    if (kinds.nonEmpty) addExtras(row)
    n += 1
  }

  /** The evolution tail: ceil(e/8) null-mask bytes (bit i set = extra i
    * null), then each extra — long/timestamp i64 and double f64 always
    * (zero when null), a string `[i32 len][utf8]` only when non-null. */
  private def addExtras(row: InternalRow): Unit = {
    ensure(maskBytes + 8 * kinds.length)
    var i = 0
    while (i < maskBytes) { buf(len + i) = 0; i += 1 }
    val maskAt = len
    len += maskBytes
    i = 0
    while (i < kinds.length) {
      val ord = BaseCols + i
      val isNull = row.isNullAt(ord)
      if (isNull) buf(maskAt + (i >> 3)) = (buf(maskAt + (i >> 3)) | (1 << (i & 7))).toByte
      kinds(i) match {
        case KLong =>
          ensure(8); bb.putLong(len, if (isNull) 0L else row.getLong(ord)); len += 8
        case KDouble =>
          ensure(8); bb.putDouble(len, if (isNull) 0.0 else row.getDouble(ord)); len += 8
        case _ =>
          if (!isNull) putBytes(row.getUTF8String(ord), 4)
      }
      i += 1
    }
  }

  /** The current block's payload (a copy). */
  def payload: Array[Byte] = java.util.Arrays.copyOfRange(buf, 8, len)

  /** Write the framed block to `out` in one call. */
  def writeFramed(out: OutputStream): Unit = {
    bb.putInt(0, n)
    bb.putInt(4, len - 8)
    out.write(buf, 0, len)
  }

  /** Start the next block, keeping the array. */
  def reset(): Unit = { len = 8; n = 0 }
}

/** Decodes one block payload a row at a time into ONE reused row — the
  * Spark `PartitionReader` contract: [[row]] is valid until the next
  * [[next]]. `outCols` is the output slot layout ([[TradeLogScan.outCols]]):
  * a table ordinal is decoded into its slot, a metadata sentinel's slot is
  * left to the caller. Values are read big-endian by offset; an unwanted
  * fixed-width column is skipped by arithmetic and an unwanted string by
  * its length prefix. Strings are `UTF8String`s over the payload array
  * itself, so each block needs its own array. Rows masked by the block's
  * delete vector are walked over, never materialized, and so are rows
  * that fail `filter`, which reads the null mask, `ts` and `user_id` in
  * place whether or not they are wanted. Schema evolution: `xtypes` is
  * the table's extra-column tail; a wanted ordinal the block does not
  * encode is null in every row of it. */
private[source] final class BlockCursor(outCols: Array[Int],
    xtypes: Array[DataType], filter: Option[RowFilter] = None) {
  import TradeLogCodec._

  val row = new SpecificInternalRow(outCols.map(slotType(_, xtypes)).toSeq)

  private val width = BaseCols + xtypes.length
  private val kinds = xtypes.map(kindOf)
  // table ordinal -> output slot, -1 when not wanted
  private val slot: Array[Int] = {
    val s = Array.fill(width)(-1)
    outCols.zipWithIndex.foreach { case (o, i) => if (o >= 0) s(o) = i }
    s
  }
  private val s0 = slot(0); private val s1 = slot(1); private val s2 = slot(2)
  private val s3 = slot(3); private val s4 = slot(4); private val s5 = slot(5)

  private val rowFilter = filter.orNull

  private var payload: Array[Byte] = null
  private var bb: ByteBuffer = null
  private var pos = 0
  private var extras = 0
  private var nRows = 0
  private var r = 0
  private var dv: Array[Long] = null
  private var block: BlockMeta = null
  private var current = -1

  /** Position on `b`, whose payload is `bytes` (null when no wanted
    * column is encoded by the block and there is no filter: rows then
    * come from the manifest's row count alone) and whose delete vector is
    * `deletes` ([[TradeLogFormat.dvWords]]). */
  def reset(b: BlockMeta, bytes: Array[Byte], deletes: Array[Long]): Unit = {
    require(bytes != null || rowFilter == null,
      "a filtered block cursor needs the block's payload")
    // a block WIDER than the reader's resolved schema means the log was
    // widened after this plan resolved (a concurrent evolution): the tail
    // cannot even be skipped without its types, so fail with the remedy
    // instead of an index error deep in the byte walk
    require(bytes == null || b.nCols <= width,
      s"graft-tradelog block encodes ${b.nCols} columns but this reader " +
        s"resolved $width — the log was widened after the plan was created; " +
        "re-create the DataFrame to pick up the evolved schema")
    block = b; payload = bytes; dv = deletes
    bb = if (bytes == null) null else ByteBuffer.wrap(bytes)
    pos = 0; r = 0; current = -1
    nRows = b.nRows
    extras = math.max(0, b.nCols - BaseCols)
    var o = 0
    while (o < width) {
      if (slot(o) >= 0 && (bytes == null || o >= b.nCols)) row.setNullAt(slot(o))
      o += 1
    }
  }

  /** The block ordinal of the row last returned by [[next]]. */
  def rowIndex: Int = current

  /** Advance to the next live row of the block; false when it is done. */
  def next(): Boolean = {
    while (r < nRows) {
      var live = !TradeLogFormat.dvDeleted(dv, r)
      if (live && rowFilter != null) {
        need(33)
        live = rowFilter.test(payload(pos), bb.getLong(pos + 9), bb.getLong(pos + 17))
      }
      if (payload != null) walk(live)
      current = r
      r += 1
      if (live) return true
    }
    false
  }

  private def truncated(): Nothing = throw new IllegalStateException(
    s"graft-tradelog block ${block.file}@${block.offset}: payload of " +
      s"${payload.length} bytes is truncated at byte $pos (row $r of $nRows)")

  private def need(n: Int): Unit =
    if (n < 0 || pos.toLong + n > payload.length) truncated()

  private def str(s: Int, n: Int, out: Boolean): Unit = {
    need(n)
    if (out && s >= 0) row.update(s, UTF8String.fromBytes(payload, pos, n))
    pos += n
  }

  /** Step over one row, writing its wanted values to [[row]] when `out`. */
  private def walk(out: Boolean): Unit = {
    need(33)
    val mask = payload(pos)
    if (out) {
      if (s0 >= 0) {
        if ((mask & 1) != 0) row.setNullAt(s0) else row.setLong(s0, bb.getLong(pos + 1))
      }
      if (s1 >= 0) {
        if ((mask & 2) != 0) row.setNullAt(s1) else row.setLong(s1, bb.getLong(pos + 9))
      }
      if (s2 >= 0) {
        if ((mask & 4) != 0) row.setNullAt(s2) else row.setLong(s2, bb.getLong(pos + 17))
      }
      if (s4 >= 0) {
        if ((mask & 16) != 0) row.setNullAt(s4) else row.setDouble(s4, bb.getDouble(pos + 25))
      }
    }
    pos += 33
    if ((mask & 8) == 0) {
      need(2); val n = bb.getShort(pos) & 0xffff; pos += 2
      str(s3, n, out)
    } else if (out && s3 >= 0) row.setNullAt(s3)
    if ((mask & 32) == 0) {
      need(4); val n = bb.getInt(pos); pos += 4
      str(s5, n, out)
    } else if (out && s5 >= 0) row.setNullAt(s5)
    if (extras > 0) {
      val maskAt = pos
      need((extras + 7) / 8)
      pos += (extras + 7) / 8
      var i = 0
      while (i < extras) {
        val isNull = (payload(maskAt + (i >> 3)) & (1 << (i & 7))) != 0
        val s = if (out) slot(BaseCols + i) else -1
        kinds(i) match {
          case KLong =>
            need(8)
            if (s >= 0) { if (isNull) row.setNullAt(s) else row.setLong(s, bb.getLong(pos)) }
            pos += 8
          case KDouble =>
            need(8)
            if (s >= 0) { if (isNull) row.setNullAt(s) else row.setDouble(s, bb.getDouble(pos)) }
            pos += 8
          case _ =>
            if (!isNull) {
              need(4); val n = bb.getInt(pos); pos += 4
              str(s, n, out)
            } else if (s >= 0) row.setNullAt(s)
        }
        i += 1
      }
    }
  }
}
