package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, ExpressionInfo, GreaterThan, If, IsNotNull, LessThan, Literal, Not, Or, UnixMicros}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Single-pass ordered first/last aggregate (SURVEY.md §7.3): the price at
  * the lexicographically smallest/largest (ts, price) — the reference's OHLC
  * open/close semantics (main.py:153-158: array_sort of (t, p) structs is
  * lexicographic; ties on t resolve to lowest price for open, highest for
  * close). Prices compare through Catalyst's `LessThan`/`GreaterThan`, so
  * NaN ties follow Catalyst's double order (NaN above every other value).
  *
  * Why not `min_by(price, struct(ts, price))`: the struct ordering key makes
  * the aggregation buffer non-mutable, so Spark plans **SortAggregate** —
  * every input row gets sorted by the grouping key before aggregation. Here
  * the buffer is three mutable PRIMITIVE attributes (long, double, boolean)
  * and every update/merge is a pure Catalyst expression, so Spark plans
  * **HashAggregateExec inside whole-stage codegen**: hash-based,
  * partial-aggregable map-side, no sort of the fact stream, no buffer
  * serialization between partial and final. Identical tie semantics,
  * hash-identical output (verified against the same DuckDB oracle as the
  * min_by path).
  *
  * `ts` is any integral or timestamp(-µs) column, `price` double; anything
  * else is rejected at analysis time by checkInputDataTypes.
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

  override def checkInputDataTypes(): TypeCheckResult = tsExpr.dataType match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType =>
      priceExpr.dataType match {
        case DoubleType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName value argument must be DOUBLE, got ${other.sql}")
      }
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName ordering argument must be integral or TIMESTAMP, got ${other.sql}")
  }

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
    (FunctionIdentifier("first_by_ordered"), info(classOf[FirstByOrderedDecl], "first_by_ordered"),
      (children: Seq[Expression]) => FirstByOrderedDecl(children(0), children(1))),
    (FunctionIdentifier("last_by_ordered"), info(classOf[LastByOrderedDecl], "last_by_ordered"),
      (children: Seq[Expression]) => LastByOrderedDecl(children(0), children(1))),
    (FunctionIdentifier("flat_json_strings"), info(classOf[FlatJsonStrings], "flat_json_strings"),
      (children: Seq[Expression]) => FlatJsonStrings(children(0), children(1))),
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
