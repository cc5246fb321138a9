package graft.expr

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `flat_json_strings(value, fallback)` — decodes a flat JSON object of
  * plain strings straight from the `UTF8String` bytes into `fallback`'s
  * struct of STRING fields, with no parser object per row (Mison, VLDB
  * 2017: decode only the fields the query needs). `fallback` is
  * `from_json(value, <that struct>)`: every row outside the fast shape —
  * and a null `value` — evaluates it, so there the result is Spark's by
  * construction.
  *
  * The fast shape: JSON whitespace (space, tab, LF, CR), `{`, zero or more
  * `"key": "value"` pairs separated by commas, `}`, then only whitespace.
  * Keys and values hold only bytes 0x20–0x7E other than `"` and `\`. Any
  * escape, non-ASCII or control byte, single-quoted or non-string token,
  * trailing comma or byte, non-object root, or second occurrence of a
  * projected key misses, and so does an input longer than
  * [[FlatJsonStrings.MaxFastBytes]] (Jackson caps a key at 50,000 chars).
  * Keys match field names exactly, as Spark's parser does; unmatched keys
  * are skipped, unseen fields are null. Values are copied out of the input
  * buffer, never aliased.
  */
case class FlatJsonStrings(child: Expression, fallback: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, fallback)
  override def dataType: DataType = fallback.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "flat_json_strings"

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, fallback.dataType) match {
    case (_: StringType, s: StructType) if s.fields.forall(_.dataType.isInstanceOf[StringType]) =>
      TypeCheckResult.TypeCheckSuccess
    case (c, f) => TypeCheckResult.TypeCheckFailure(
      s"flat_json_strings requires (STRING, STRUCT of STRING fields), got " +
        s"(${c.simpleString}, ${f.simpleString})")
  }

  @transient private lazy val names: Array[Array[Byte]] =
    dataType.asInstanceOf[StructType].fieldNames.map(_.getBytes(UTF_8))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val row = if (v == null) null else decode(v.asInstanceOf[UTF8String])
    if (row != null) row else fallback.eval(input)
  }

  /** The decoded struct, or null when `s` is outside the fast shape. */
  private def decode(s: UTF8String): InternalRow = {
    val n = s.numBytes
    if (n > FlatJsonStrings.MaxFastBytes) return null
    var i = skipWs(s, 0, n)
    if (i >= n || s.getByte(i) != '{') return null
    val values = new Array[Any](names.length)
    i = skipWs(s, i + 1, n)
    if (i < n && s.getByte(i) == '}') i += 1
    else {
      var more = true
      while (more) {
        val keyEnd = stringEnd(s, i, n)
        if (keyEnd < 0) return null
        val colon = skipWs(s, keyEnd + 1, n)
        if (colon >= n || s.getByte(colon) != ':') return null
        val valStart = skipWs(s, colon + 1, n)
        val valEnd = stringEnd(s, valStart, n)
        if (valEnd < 0) return null
        val k = fieldIndex(s, i + 1, keyEnd)
        if (k >= 0) {
          if (values(k) != null) return null // Spark keeps the last duplicate
          values(k) = copyOut(s, valStart + 1, valEnd)
        }
        i = skipWs(s, valEnd + 1, n)
        if (i >= n) return null
        s.getByte(i) match {
          case ',' => i = skipWs(s, i + 1, n)
          case '}' => i += 1; more = false
          case _ => return null
        }
      }
    }
    if (skipWs(s, i, n) != n) null else new GenericInternalRow(values)
  }

  private def skipWs(s: UTF8String, from: Int, n: Int): Int = {
    var i = from
    while (i < n && { val b = s.getByte(i); b == ' ' || b == '\t' || b == '\n' || b == '\r' }) i += 1
    i
  }

  /** Index of the closing quote of the plain string opening at `from`, or
    * -1 when there is none or a byte outside 0x20–0x7E or a `\` precedes it. */
  private def stringEnd(s: UTF8String, from: Int, n: Int): Int = {
    if (from >= n || s.getByte(from) != '"') return -1
    var i = from + 1
    while (i < n) {
      val b = s.getByte(i)
      if (b == '"') return i
      if (b < 0x20 || b > 0x7e || b == '\\') return -1
      i += 1
    }
    -1
  }

  private def fieldIndex(s: UTF8String, from: Int, until: Int): Int = {
    var k = 0
    while (k < names.length) {
      val name = names(k)
      if (name.length == until - from) {
        var j = 0
        while (j < name.length && name(j) == s.getByte(from + j)) j += 1
        if (j == name.length) return k
      }
      k += 1
    }
    -1
  }

  // a byte loop: values are a few bytes long, below what a
  // Platform.copyMemory call costs to set up
  private def copyOut(s: UTF8String, from: Int, until: Int): UTF8String = {
    val out = new Array[Byte](until - from)
    var j = 0
    while (j < out.length) { out(j) = s.getByte(from + j); j += 1 }
    UTF8String.fromBytes(out)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FlatJsonStrings =
    copy(child = c(0), fallback = c(1))
}

object FlatJsonStrings {
  /** Longer inputs take the fallback: far above a trade payload (~350
    * bytes), far below the key and string lengths Jackson refuses. */
  val MaxFastBytes: Int = 32 * 1024
}
