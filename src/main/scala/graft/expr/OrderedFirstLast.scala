package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, ExpressionInfo, GreaterThan, If, IsNotNull, LessThan, Literal, Not, Or, UnixMicros}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Mutable (key, value) pair tracked by the ordered-first/last aggregates.
  * `set=false` = empty group so far (all-null input stays null). */
final class OrderedPair(var ts: Long, var price: Double, var set: Boolean)
    extends Serializable

/** Catalyst's double total order (NaN == NaN, NaN greater than every other
  * value, -0.0 == 0.0 — the `nanSafeCompareDoubles` semantics Catalyst's
  * LessThan/GreaterThan codegen uses for doubles). The imperative twins
  * tie-break through THIS, not Java primitive `<`/`>` (where any NaN
  * comparison is false), so `first_by_ordered_obj` and the declarative
  * default can never diverge when NaN prices share the winning ts.
  * java.lang.Double.compare alone would also differ: it orders
  * -0.0 < 0.0, which Catalyst does not. */
private[expr] object NanSafeOrd {
  def compare(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || x == y) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1 else -1
  }
}

/** Shared analysis-time signature check for BOTH ordered-aggregate families
  * — one source of truth, so the declarative default and the `*_obj` twin
  * (cross-checked row-for-row in tests) can never drift in what they
  * accept. */
private[expr] object OrderedByTypes {
  def check(tsExpr: Expression, priceExpr: Expression,
            prettyName: String): TypeCheckResult = tsExpr.dataType match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType =>
      priceExpr.dataType match {
        case DoubleType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName value argument must be DOUBLE, got ${other.sql}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName ordering argument must be integral or TIMESTAMP, got ${other.sql}")
  }
}

/** Single-pass ordered first/last aggregate (SURVEY.md §7.3): the price at
  * the lexicographically smallest/largest (ts, price) — the reference's OHLC
  * open/close semantics (main.py:153-158: array_sort of (t, p) structs is
  * lexicographic; ties on t resolve to lowest price for open, highest for
  * close).
  *
  * Why not `min_by(price, struct(ts, price))`: the struct ordering key makes
  * the aggregation buffer non-mutable, so Spark plans **SortAggregate** —
  * every input row gets sorted by the grouping key before aggregation. This
  * TypedImperativeAggregate keeps a 17-byte (long, double, set) buffer →
  * **ObjectHashAggregateExec**: hash-based, partial-aggregable map-side,
  * no sort of the fact stream. Identical tie semantics, hash-identical
  * output (verified against the same DuckDB oracle as the min_by path).
  *
  * `ts` is any integral or timestamp(-µs) column — widened to long via
  * Number (an int ts evaluates to java.lang.Integer) — `price` double;
  * anything else is rejected at analysis time by checkInputDataTypes.
  */
abstract class OrderedByBase extends TypedImperativeAggregate[OrderedPair] {
  // no-arg abstract base: Java deserialization of the task-serialized
  // expression requires a no-arg constructor on non-case ancestors
  def tsExpr: Expression
  def priceExpr: Expression

  /** true if (ts, p) should replace the current buffer content. */
  protected def replaces(buf: OrderedPair, ts: Long, p: Double): Boolean

  override def children: Seq[Expression] = Seq(tsExpr, priceExpr)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    OrderedByTypes.check(tsExpr, priceExpr, prettyName)

  override def createAggregationBuffer(): OrderedPair =
    new OrderedPair(0L, 0.0, false)

  override def update(buf: OrderedPair, input: InternalRow): OrderedPair = {
    val tsVal = tsExpr.eval(input)
    val pVal = priceExpr.eval(input)
    if (tsVal != null && pVal != null) {
      // integral widths accepted by checkInputDataTypes all box as Number;
      // TimestampType evaluates to a java.lang.Long of epoch-µs
      val ts = tsVal.asInstanceOf[Number].longValue
      val p = pVal.asInstanceOf[Double]
      if (!buf.set || replaces(buf, ts, p)) {
        buf.ts = ts; buf.price = p; buf.set = true
      }
    }
    buf
  }

  override def merge(buf: OrderedPair, other: OrderedPair): OrderedPair = {
    if (other.set && (!buf.set || replaces(buf, other.ts, other.price))) {
      buf.ts = other.ts; buf.price = other.price; buf.set = true
    }
    buf
  }

  override def eval(buf: OrderedPair): Any =
    if (buf.set) buf.price else null

  override def serialize(buf: OrderedPair): Array[Byte] = {
    val bb = ByteBuffer.allocate(17)
    bb.putLong(buf.ts).putDouble(buf.price).put(if (buf.set) 1.toByte else 0.toByte)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): OrderedPair = {
    val bb = ByteBuffer.wrap(bytes)
    new OrderedPair(bb.getLong, bb.getDouble, bb.get() == 1.toByte)
  }
}

/** Price at the lexicographically-smallest (ts, price): OHLC `open`. */
case class FirstByOrdered(
    tsExpr: Expression,
    priceExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends OrderedByBase {
  override protected def replaces(buf: OrderedPair, ts: Long, p: Double): Boolean =
    ts < buf.ts || (ts == buf.ts && NanSafeOrd.compare(p, buf.price) < 0)
  override def prettyName: String = "first_by_ordered"
  override def withNewMutableAggBufferOffset(offset: Int): FirstByOrdered =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): FirstByOrdered =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FirstByOrdered =
    copy(tsExpr = c(0), priceExpr = c(1))
}

/** Price at the lexicographically-largest (ts, price): OHLC `close`. */
case class LastByOrdered(
    tsExpr: Expression,
    priceExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0
) extends OrderedByBase {
  override protected def replaces(buf: OrderedPair, ts: Long, p: Double): Boolean =
    ts > buf.ts || (ts == buf.ts && NanSafeOrd.compare(p, buf.price) > 0)
  override def prettyName: String = "last_by_ordered"
  override def withNewMutableAggBufferOffset(offset: Int): LastByOrdered =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): LastByOrdered =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LastByOrdered =
    copy(tsExpr = c(0), priceExpr = c(1))
}

/** Ordered first/last as a **DeclarativeAggregate**: the same (ts, price)
  * lexicographic semantics as [[OrderedByBase]], but the buffer is three
  * mutable PRIMITIVE attributes (long, double, boolean) and every
  * update/merge is a pure Catalyst expression — so Spark plans
  * **HashAggregateExec inside whole-stage codegen** (no per-row interpreted
  * `eval`, no buffer serialization between partial and final).
  *
  * This is the registered default for `first_by_ordered`/`last_by_ordered`
  * (the OHLC hot path); the TypedImperativeAggregate twin stays registered
  * under `*_obj` as the pattern sketch-style aggregates (HLL, reservoirs —
  * genuinely object-buffered state) need, and the two are cross-checked
  * row-for-row in tests.
  */
abstract class OrderedByDeclBase extends DeclarativeAggregate {
  def tsExpr: Expression
  def priceExpr: Expression

  /** (ts, p) strictly replaces the current (curTs, curP) buffer content. */
  protected def replaces(curTs: Expression, curP: Expression,
                         ts: Expression, p: Expression): Expression

  override def children: Seq[Expression] = Seq(tsExpr, priceExpr)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    OrderedByTypes.check(tsExpr, priceExpr, prettyName)

  /** ts widened to long µs-safely: Cast(timestamp AS long) would truncate
    * to SECONDS — UnixMicros keeps the full ordering resolution. */
  private def tsLong: Expression = tsExpr.dataType match {
    case TimestampType => UnixMicros(tsExpr)
    case LongType      => tsExpr
    case _             => Cast(tsExpr, LongType)
  }

  protected lazy val bufTs: AttributeReference =
    AttributeReference("bufTs", LongType, nullable = false)()
  protected lazy val bufP: AttributeReference =
    AttributeReference("bufP", DoubleType, nullable = false)()
  protected lazy val bufSet: AttributeReference =
    AttributeReference("bufSet", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bufTs, bufP, bufSet)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0.0), Literal(false))

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = And(IsNotNull(tsExpr), IsNotNull(priceExpr))
    val take = And(valid, Or(Not(bufSet), replaces(bufTs, bufP, tsLong, priceExpr)))
    Seq(
      If(take, tsLong, bufTs),
      If(take, priceExpr, bufP),
      Or(bufSet, valid)
    )
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val takeRight = And(bufSet.right,
      Or(Not(bufSet.left), replaces(bufTs.left, bufP.left, bufTs.right, bufP.right)))
    Seq(
      If(takeRight, bufTs.right, bufTs.left),
      If(takeRight, bufP.right, bufP.left),
      Or(bufSet.left, bufSet.right)
    )
  }

  override lazy val evaluateExpression: Expression =
    If(bufSet, bufP, Literal(null, DoubleType))
}

/** Price at the lexicographically-smallest (ts, price) — codegen path. */
case class FirstByOrderedDecl(tsExpr: Expression, priceExpr: Expression)
    extends OrderedByDeclBase {
  override protected def replaces(curTs: Expression, curP: Expression,
                                  ts: Expression, p: Expression): Expression =
    Or(LessThan(ts, curTs), And(EqualTo(ts, curTs), LessThan(p, curP)))
  override def prettyName: String = "first_by_ordered"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FirstByOrderedDecl =
    copy(tsExpr = c(0), priceExpr = c(1))
}

/** Price at the lexicographically-largest (ts, price) — codegen path. */
case class LastByOrderedDecl(tsExpr: Expression, priceExpr: Expression)
    extends OrderedByDeclBase {
  override protected def replaces(curTs: Expression, curP: Expression,
                                  ts: Expression, p: Expression): Expression =
    Or(GreaterThan(ts, curTs), And(EqualTo(ts, curTs), GreaterThan(p, curP)))
  override def prettyName: String = "last_by_ordered"
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LastByOrderedDecl =
    copy(tsExpr = c(0), priceExpr = c(1))
}

/** The SQL functions: `first_by_ordered(ts, price)` /
  * `last_by_ordered(ts, price)` (ts integral or TIMESTAMP — timestamps
  * widen µs-safely inside the aggregate, no manual unix_micros needed),
  * `vec_dot(a, b)` and the rest below. [[graft.GraftExtensionsProvider]]
  * injects them into every session.
  */
object GraftFunctions {
  // each ExpressionInfo names the actual implementing class so DESCRIBE
  // FUNCTION and analysis errors point at the right source
  private def info(cls: Class[_], name: String) = new ExpressionInfo(cls.getName, name)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // default = DeclarativeAggregate (HashAggregate, whole-stage codegen)
    (FunctionIdentifier("first_by_ordered"), info(classOf[FirstByOrderedDecl], "first_by_ordered"),
      (children: Seq[Expression]) => FirstByOrderedDecl(children(0), children(1))),
    (FunctionIdentifier("last_by_ordered"), info(classOf[LastByOrderedDecl], "last_by_ordered"),
      (children: Seq[Expression]) => LastByOrderedDecl(children(0), children(1))),
    // object-buffered twin (ObjectHashAggregate) — the shape sketch-style
    // aggregates need; kept registered and cross-checked against the default
    (FunctionIdentifier("first_by_ordered_obj"), info(classOf[FirstByOrdered], "first_by_ordered_obj"),
      (children: Seq[Expression]) => FirstByOrdered(children(0), children(1))),
    (FunctionIdentifier("last_by_ordered_obj"), info(classOf[LastByOrdered], "last_by_ordered_obj"),
      (children: Seq[Expression]) => LastByOrdered(children(0), children(1))),
    (FunctionIdentifier("vec_dot"), info(classOf[DotProduct], "vec_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("vec_argmax_cos"), info(classOf[CosArgMax], "vec_argmax_cos"),
      (children: Seq[Expression]) => CosArgMax(children(0), children(1))),
    (FunctionIdentifier("vec_argmin_l2"), info(classOf[L2ArgMin], "vec_argmin_l2"),
      (children: Seq[Expression]) => L2ArgMin(children(0), children(1))),
    (FunctionIdentifier("pq_recon"), info(classOf[PqRecon], "pq_recon"),
      (children: Seq[Expression]) => PqRecon(children(0), children(1))),
    (FunctionIdentifier("byte_sum"), info(classOf[ByteSum], "byte_sum"),
      (children: Seq[Expression]) => ByteSum(children(0))),
    (FunctionIdentifier("byte_min"), info(classOf[ByteMin], "byte_min"),
      (children: Seq[Expression]) => ByteMin(children(0))),
    (FunctionIdentifier("byte_max"), info(classOf[ByteMax], "byte_max"),
      (children: Seq[Expression]) => ByteMax(children(0))),
    (FunctionIdentifier("byte_sumsq"), info(classOf[ByteSumSq], "byte_sumsq"),
      (children: Seq[Expression]) => ByteSumSq(children(0))),
    (FunctionIdentifier("pgm_shrink"), info(classOf[PgmShrink], "pgm_shrink"),
      (children: Seq[Expression]) => PgmShrink(children(0), children(1), children(2))),
    (FunctionIdentifier("byte_sum_stride"), info(classOf[ByteSumStride], "byte_sum_stride"),
      (children: Seq[Expression]) => ByteSumStride(children(0), children(1), children(2))),
    (FunctionIdentifier("byte_min_stride"), info(classOf[ByteMinStride], "byte_min_stride"),
      (children: Seq[Expression]) => ByteMinStride(children(0), children(1), children(2))),
    (FunctionIdentifier("byte_max_stride"), info(classOf[ByteMaxStride], "byte_max_stride"),
      (children: Seq[Expression]) => ByteMaxStride(children(0), children(1), children(2))),
    (FunctionIdentifier("sample_bottom_k"), info(classOf[SampleK], "sample_bottom_k"),
      (children: Seq[Expression]) => {
        val k = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"sample_bottom_k k must be an integer literal, got $other")
        }
        SampleK(children(0), children(1), k)
      }),
    (FunctionIdentifier("hll_distinct"), info(classOf[HllDistinct], "hll_distinct"),
      (children: Seq[Expression]) => HllDistinct(children(0))),
    (FunctionIdentifier("quantile_sketch"), info(classOf[QuantileSketch], "quantile_sketch"),
      (children: Seq[Expression]) => {
        val k = children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"quantile_sketch k must be an integer literal, got $other")
        }
        QuantileSketch(children(0), children(1), k)
      }),
    (FunctionIdentifier("word_shingles"), info(classOf[WordShingles], "word_shingles"),
      (children: Seq[Expression]) => {
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles n must be an integer literal, got $other")
        }
        // optional 3rd arg: distinct (default true — the near-dup shingle
        // set); false keeps multiplicity (repetition-quality counting)
        val distinct = if (children.length < 3) true else children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"word_shingles distinct must be a boolean literal, got $other")
        }
        WordShingles(children(0), n, distinct)
      }),
    (FunctionIdentifier("bpe_count"), info(classOf[BpeCount], "bpe_count"),
      (children: Seq[Expression]) => BpeCount(children(0))),
    (FunctionIdentifier("char_class_counts"), info(classOf[CharClassCounts], "char_class_counts"),
      (children: Seq[Expression]) => CharClassCounts(children(0))),
    (FunctionIdentifier("char_shingles"), info(classOf[CharShingles], "char_shingles"),
      (children: Seq[Expression]) => {
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"char_shingles n must be an integer literal, got $other")
        }
        val distinct = if (children.length < 3) true else children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
          case other => throw new IllegalArgumentException(
            s"char_shingles distinct must be a boolean literal, got $other")
        }
        CharShingles(children(0), n, distinct)
      }),
    (FunctionIdentifier("winnow_fps"), info(classOf[WinnowFps], "winnow_fps"),
      (children: Seq[Expression]) => {
        val w = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"winnow_fps w must be an integer literal, got $other")
        }
        WinnowFps(children(0), w)
      }),
    (FunctionIdentifier("collect_up_to"), info(classOf[CollectUpTo], "collect_up_to"),
      (children: Seq[Expression]) => {
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"collect_up_to k must be an integer literal, got $other")
        }
        CollectUpTo(children(0), k)
      })
  )
}

/** The opt-in `spark.sql.extensions` hook:
  * `spark-submit --conf spark.sql.extensions=graft.expr.GraftExtensions`
  * adds the min_by/max_by → ordered-first/last optimizer rewrite
  * ([[graft.plans.OrderedFirstLastRewrite]]). Opt-in, not part of the
  * provider: `q_ohlc_minby` measures stock `min_by`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    ext.injectOptimizerRule(_ => graft.plans.OrderedFirstLastRewrite)
}
