package graft.source

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

import TradeLogFormat.BaseCols

/** The tradelog row codec as it stood before [[BlockEncoder]] and
  * [[BlockCursor]]: a `DataOutputStream`/`DataInputStream` walk that boxes
  * every value. Kept as the model the codec spec and benchmark compare
  * the production codec against; the bytes it writes are the format. */
object LegacyBlockCodec {

  /** Encode `rows` as the tradelog writer did: base strings through
    * `UTF8String.toString`, tail strings as their raw bytes. */
  def encode(rows: Seq[InternalRow], xtypes: Array[DataType]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    rows.foreach { row =>
      encodeRow(out,
        if (row.isNullAt(0)) null else java.lang.Long.valueOf(row.getLong(0)),
        if (row.isNullAt(1)) null else java.lang.Long.valueOf(row.getLong(1)),
        if (row.isNullAt(2)) null else java.lang.Long.valueOf(row.getLong(2)),
        if (row.isNullAt(3)) null else row.getUTF8String(3).toString,
        if (row.isNullAt(4)) null else java.lang.Double.valueOf(row.getDouble(4)),
        if (row.isNullAt(5)) null else row.getUTF8String(5).toString)
      if (xtypes.nonEmpty) {
        val xs = new Array[Any](xtypes.length)
        var i = 0
        while (i < xtypes.length) {
          val ord = BaseCols + i
          if (!row.isNullAt(ord)) xs(i) = xtypes(i) match {
            case LongType | TimestampType => java.lang.Long.valueOf(row.getLong(ord))
            case DoubleType => java.lang.Double.valueOf(row.getDouble(ord))
            case _ => row.getUTF8String(ord).getBytes
          }
          i += 1
        }
        encodeExtras(out, xtypes, xs)
      }
    }
    out.flush()
    buf.toByteArray
  }


  /** Encode one row (values in [[schema]] field order; null allowed) into
    * `out`. Returns the row's ts micros, or Long.MinValue when ts null. */
  def encodeRow(out: DataOutputStream, eventId: java.lang.Long,
      tsUs: java.lang.Long, userId: java.lang.Long, eventType: String,
      value: java.lang.Double, props: String): Long = {
    var mask = 0
    if (eventId == null) mask |= 1
    if (tsUs == null) mask |= 2
    if (userId == null) mask |= 4
    if (eventType == null) mask |= 8
    if (value == null) mask |= 16
    if (props == null) mask |= 32
    out.writeByte(mask)
    out.writeLong(if (eventId == null) 0L else eventId)
    out.writeLong(if (tsUs == null) 0L else tsUs)
    out.writeLong(if (userId == null) 0L else userId)
    out.writeDouble(if (value == null) 0.0 else value)
    if (eventType != null) {
      val b = eventType.getBytes(StandardCharsets.UTF_8)
      require(b.length <= Short.MaxValue, "event_type too long")
      out.writeShort(b.length); out.write(b)
    }
    if (props != null) {
      val b = props.getBytes(StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
    }
    if (tsUs == null) Long.MinValue else tsUs
  }

  /** Encode the evolution TAIL for one row of a widened schema (appended
    * directly after [[encodeRow]]'s base bytes): ceil(e/8) null-mask
    * bytes (bit i set = extra col i null), then each extra column —
    * long/timestamp as i64 (0 when null), double as f64 (0.0 when null),
    * string as [i32 len][utf8] present only when non-null. `values` in
    * xcols order: boxed primitives / UTF-8 byte arrays / null. */
  def encodeExtras(out: DataOutputStream, types: Array[DataType],
      values: Array[Any]): Unit = {
    val e = types.length
    if (e == 0) return
    var b = 0
    while (b * 8 < e) {
      var m = 0
      var i = 0
      while (i < 8 && b * 8 + i < e) {
        if (values(b * 8 + i) == null) m |= (1 << i)
        i += 1
      }
      out.writeByte(m)
      b += 1
    }
    var i = 0
    while (i < e) {
      val v = values(i)
      types(i) match {
        case LongType | TimestampType =>
          out.writeLong(if (v == null) 0L else v.asInstanceOf[java.lang.Long])
        case DoubleType =>
          out.writeDouble(if (v == null) 0.0
            else v.asInstanceOf[java.lang.Double])
        case StringType =>
          if (v != null) {
            val bts = v.asInstanceOf[Array[Byte]]
            out.writeInt(bts.length); out.write(bts)
          }
        case other => throw new IllegalArgumentException(
          s"unsupported xcol type $other")
      }
      i += 1
    }
  }

  /** Decode a block payload, materializing only the columns whose table
    * ordinals appear in `wanted` (sorted). Calls `emit` with the
    * per-ordinal values (UTF8String for strings, boxed primitives, null
    * for nulls) laid out in `wanted` order. Schema evolution: `xtypes`
    * is the TABLE's extra-column type list and `blockNCols` how many
    * columns this block physically encodes — any wanted ordinal >=
    * blockNCols null-fills without touching a byte (slots start null),
    * and blocks narrower than the table decode only their own tail. */
  def decodeBlock(payload: Array[Byte], nRows: Int, wanted: Array[Int],
      blockNCols: Int = BaseCols, xtypes: Array[DataType] = Array.empty)(
      emit: Array[Any] => Unit): Unit = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    val width = BaseCols + xtypes.length
    // a block WIDER than the reader's resolved schema means the log was
    // widened after this plan resolved (a concurrent evolution): the tail
    // cannot even be skipped without its types, so fail with the remedy
    // instead of an index error deep in the byte walk (r16 review finding)
    require(blockNCols <= width,
      s"graft-tradelog block encodes $blockNCols columns but this reader " +
        s"resolved $width — the log was widened after the plan was created; " +
        "re-create the DataFrame to pick up the evolved schema")
    val want = new Array[Boolean](width)
    // ordinal -> output slot (decode order is the BYTE layout — value
    // before event_type — so slots map by ordinal, never arrival order)
    val slotOf = new Array[Int](width)
    wanted.zipWithIndex.foreach { case (ord, i) =>
      want(ord) = true; slotOf(ord) = i
    }
    val e = math.max(0, blockNCols - BaseCols) // extras THIS block encodes
    val masks = new Array[Int]((e + 7) / 8)
    var r = 0
    while (r < nRows) {
      val row = new Array[Any](wanted.length)
      def put(ord: Int, v: Any): Unit =
        if (want(ord)) row(slotOf(ord)) = v
      val mask = in.readUnsignedByte()
      val eid = in.readLong(); put(0, if ((mask & 1) != 0) null else eid)
      val ts = in.readLong(); put(1, if ((mask & 2) != 0) null else ts)
      val uid = in.readLong(); put(2, if ((mask & 4) != 0) null else uid)
      val v = in.readDouble(); put(4, if ((mask & 16) != 0) null else v)
      if ((mask & 8) == 0) {
        val n = in.readUnsignedShort()
        if (want(3)) {
          val b = new Array[Byte](n); in.readFully(b)
          put(3, org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
        } else in.skipBytes(n)
      } else put(3, null)
      if ((mask & 32) == 0) {
        val n = in.readInt()
        if (want(5)) {
          val b = new Array[Byte](n); in.readFully(b)
          put(5, org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
        } else in.skipBytes(n)
      } else put(5, null)
      if (e > 0) {
        var mi = 0
        while (mi < masks.length) { masks(mi) = in.readUnsignedByte(); mi += 1 }
        var i = 0
        while (i < e) {
          val isNull = (masks(i >> 3) & (1 << (i & 7))) != 0
          val ord = BaseCols + i
          xtypes(i) match {
            case LongType | TimestampType =>
              val lv = in.readLong(); put(ord, if (isNull) null else lv)
            case DoubleType =>
              val dv = in.readDouble(); put(ord, if (isNull) null else dv)
            case StringType =>
              if (!isNull) {
                val n = in.readInt()
                if (want(ord)) {
                  val b = new Array[Byte](n); in.readFully(b)
                  put(ord,
                    org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
                } else in.skipBytes(n)
              }
            case other => throw new IllegalArgumentException(
              s"unsupported xcol type $other")
          }
          i += 1
        }
      }
      emit(row)
      r += 1
    }
  }
}
