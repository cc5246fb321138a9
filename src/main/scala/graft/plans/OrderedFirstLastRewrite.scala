package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ArraySort, ArrayTransform, CreateNamedStruct, ElementAt, Expression, GetStructField, GreaterThan, If, IntegerLiteral, IsNotNull, LambdaFunction, LessThan, Literal, NamedLambdaVariable, Size}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._
import graft.expr.{FirstByOrderedDecl, LastByOrderedDecl}

/** Optimizer rule closing the stock-API gap the README documents: users
  * write the natural `min_by(v, struct(ts, v))` / `max_by(v, struct(ts, v))`
  * (the reference's OHLC open/close semantics, `main.py:150-160` re-expressed
  * through builtins), but Spark plans `MaxMinBy` as SortAggregate — its
  * struct-typed agg buffer is not hash-mutable, so every group SORTS at
  * every partial and final stage. This rule swaps in the equivalent
  * [[graft.expr.FirstByOrderedDecl]] / [[graft.expr.LastByOrderedDecl]]
  * DeclarativeAggregate (primitive 17-byte buffer, partial-aggregating
  * HashAggregate, whole-stage codegen) whenever the shapes are provably
  * equivalent.
  *
  * Equivalence conditions (ALL required, else the expression is untouched):
  *   - the ordering is a 2-field struct whose SECOND field is semantically
  *     the value expression itself — so the lexicographic (ts, v) minimum /
  *     maximum determines v uniquely and the builtin's tie behavior cannot
  *     be observed;
  *   - ts is integral or TIMESTAMP and v is DOUBLE (the custom aggregate's
  *     domain; TIMESTAMP widens µs-safely inside the aggregate);
  *   - both ts and v are NON-NULL — either by type nullability or
  *     guaranteed by the child plan's constraints (an upstream
  *     `IsNotNull` filter). This is the load-bearing guard: on a null ts
  *     field the builtin still orders the struct (null-first) while the
  *     custom aggregate skips the row — different answers. Constraint
  *     propagation proves the filter discipline instead of trusting it;
  *   - no DISTINCT, no FILTER clause on the aggregate call.
  *
  * Registration: `spark.experimental.extraOptimizations` (session-local,
  * the conf-isolated-child pattern) or cluster-wide via
  * `--conf spark.sql.extensions=graft.expr.GraftExtensions`, which injects
  * this rule only. CatalogSpec's generic
  * no-SortAggregate guard is the regression net: `q_ohlc_rewrite` would
  * plan SortAggregate the moment this rule stops firing.
  */
object OrderedFirstLastRewrite extends Rule[LogicalPlan] {

  private def orderedTs(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType | TimestampType => true
    case _ => false
  }

  /** Non-null by type, or proven by the child's constraint set. */
  private def guaranteed(child: LogicalPlan, e: Expression): Boolean =
    !e.nullable || child.constraints.exists {
      case IsNotNull(c) => c.semanticEquals(e)
      case _            => false
    }

  /** If `ord` is struct(ts, v') with v' ≡ v and types in-domain, the ts. */
  private def tsKey(ord: Expression, v: Expression): Option[Expression] =
    ord match {
      case s: CreateNamedStruct
          if s.valExprs.length == 2 && s.valExprs(1).semanticEquals(v) &&
            orderedTs(s.valExprs.head) && v.dataType == DoubleType =>
        Some(s.valExprs.head)
      case _ => None
    }

  /** The comparator is array_sort's DEFAULT ascending one. Two accepted
    * shapes: the null-pruned form the optimizer leaves when the array
    * elements are provably non-null —
    * `(l, r) -> if (l < r) -1 else if (l > r) 1 else 0` — and the full
    * null-handling template, matched with both lambda bodies' variables
    * replaced by position markers so the bound (analyzed) comparator
    * matches the unbound `ArraySort.defaultComparator`. */
  private def isDefaultComparator(f: Expression): Boolean = f match {
    case LambdaFunction(
        If(LessThan(l1, r1), IntegerLiteral(-1),
          If(GreaterThan(l2, r2), IntegerLiteral(1), IntegerLiteral(0))),
        Seq(l, r), _) =>
      l1.fastEquals(l) && r1.fastEquals(r) &&
        l2.fastEquals(l) && r2.fastEquals(r)
    case LambdaFunction(body, Seq(l, r), _) =>
      def mark(e: Expression, lv: Expression, rv: Expression): Expression =
        e.transform {
          case v if v.fastEquals(lv) => Literal("L")
          case v if v.fastEquals(rv) => Literal("R")
        }
      ArraySort.defaultComparator match {
        case LambdaFunction(dBody, Seq(dl, dr), _) =>
          mark(body, l, r).semanticEquals(mark(dBody, dl, dr))
        case _ => false
      }
    case _ => false
  }

  /** struct('t', ts, 'p', p) with in-domain types. */
  private def candleStruct(s: CreateNamedStruct): Boolean =
    s.valExprs.length == 2 && orderedTs(s.valExprs.head) &&
      s.valExprs(1).dataType == DoubleType

  /** The reference's VERBATIM candle formulation (reference
    * `main.py:154-157`):
    * `element_at(transform(array_sort(collect_list(struct(t, p))), x -> x.p), i)`
    * with i = 1 (open) or i = size(collect_list(struct(t, p))) (close) —
    * O(rows) aggregation state per group, ObjectHashAggregate, array sort
    * per group per output. When the extraction lambda reads the SECOND
    * struct field (the price), the index selects the first/last element,
    * and null-safety is proven, the whole expression IS the ordered
    * first/last — replaced wholesale, which also deletes the
    * collect_list the `size()` index referenced. */
  private def referenceCandle(child: LogicalPlan, e: Expression): Option[Expression] =
    e match {
      case ElementAt(
          ArrayTransform(
            ArraySort(
              ae @ AggregateExpression(CollectList(s: CreateNamedStruct, _, _), _, false, None, _),
              cmp, _),
            LambdaFunction(GetStructField(lv1: NamedLambdaVariable, 1, _),
              Seq(lv2: NamedLambdaVariable), _)),
          idx, None, _)
          if lv1.exprId == lv2.exprId && isDefaultComparator(cmp) &&
            candleStruct(s) && guaranteed(child, s.valExprs.head) &&
            guaranteed(child, s.valExprs(1)) =>
        idx match {
          case IntegerLiteral(1) =>
            Some(ae.copy(aggregateFunction =
              FirstByOrderedDecl(s.valExprs.head, s.valExprs(1))))
          case Size(AggregateExpression(CollectList(s2: CreateNamedStruct, _, _), _, false, None, _), _)
              if s2.semanticEquals(s) =>
            Some(ae.copy(aggregateFunction =
              LastByOrderedDecl(s.valExprs.head, s.valExprs(1))))
          case _ => None
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      agg.transformExpressions {
        // cheap type gate, then ONE full pattern evaluation; returning the
        // node unchanged on no-match is a no-op for transform
        case e: ElementAt => referenceCandle(agg.child, e).getOrElse(e)
        case ae @ AggregateExpression(MinBy(v, ord), _, false, None, _) =>
          tsKey(ord, v)
            .filter(ts => guaranteed(agg.child, ts) && guaranteed(agg.child, v))
            .map(ts => ae.copy(aggregateFunction = FirstByOrderedDecl(ts, v)))
            .getOrElse(ae)
        case ae @ AggregateExpression(MaxBy(v, ord), _, false, None, _) =>
          tsKey(ord, v)
            .filter(ts => guaranteed(agg.child, ts) && guaranteed(agg.child, v))
            .map(ts => ae.copy(aggregateFunction = LastByOrderedDecl(ts, v)))
            .getOrElse(ae)
      }
  }
}
