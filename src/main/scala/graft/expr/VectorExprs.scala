package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Dot product of two array<double> columns as a NATIVE codegen expression.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, ...), ...)`) evaluates its lambda interpreted,
  * one boxed call per element, outside whole-stage codegen — measured as the
  * dominant cost of every similarity operator here. This compiles to a tight
  * primitive loop inside the generated code.
  *
  * Index-ordered summation — the same order the DuckDB oracle's
  * list_dot_product / the HOF formulation use, so results are bit-identical
  * to both. Constraint: array elements must be non-null (embedding vectors
  * are); null *arrays* propagate null via BinaryExpression's null handling.
  * Lengths may differ; the shorter bounds the loop (mirrors zip_with-with-
  * multiplication semantics where the null tail contributes nothing).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid-by-cosine argmax as ONE native codegen expression:
  * `vec_argmax_cos(cs, e)` where `cs` is the broadcast centroid array
  * (struct<cid: bigint, ce: array<double>, snrm: double> — `snrm` the
  * PRE-SQRTED centroid self-norm) and `e` the row's vector; returns the
  * winning cid (null for an empty/null centroid list).
  *
  * Replaces the interpreted
  * `array_max(transform(cs, c -> struct(vec_dot(c.ce, e)/(c.snrm*snrm_e),
  * -c.cid, c.cid)))` in the IVF assignment hot path — the HOF allocates a
  * scored struct per centroid per row and evaluates its lambda boxed
  * outside whole-stage codegen (the documented ±10% cost of the r8
  * zero-shuffle rework). This is the same op tree fused into a primitive
  * loop: per centroid one index-ordered dot, one multiply, one divide —
  * so scores, and therefore assignments, stay BIT-IDENTICAL to the HOF
  * formulation and the unrolled DuckDB oracle (the query norm
  * sqrt(vec_dot(e,e)) is computed inside, same tree).
  *
  * Selection rule replicated from array_max over (s, -cid): strictly
  * higher score wins; equal score → lower cid. Zero norms are guarded, not
  * assumed away (ADVICE r9): a zero-norm query vector returns NULL (cosine
  * is undefined, and the NaN scores it would produce order differently
  * under array_max's NaN-is-greatest rule than under this loop's
  * comparisons), and a zero-norm centroid is skipped rather than divided
  * by. For non-degenerate inputs every score is finite and the selection
  * is bit-identical to the HOF formulation. */
case class CosArgMax(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_argmax_cos"

  override def checkInputDataTypes(): TypeCheckResult = {
    val csOk = left.dataType match {
      case ArrayType(st: StructType, _) if st.length == 3 =>
        st(0).dataType == LongType &&
          (st(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && st(2).dataType == DoubleType
      case _ => false
    }
    val eOk = right.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (csOk && eOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_argmax_cos requires (array<struct<cid: bigint, ce: array<double>, " +
        s"snrm: double>>, array<double>), got ${left.dataType.simpleString} " +
        s"and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val e = b.asInstanceOf[ArrayData]
    val ne = e.numElements()
    var qacc = 0.0
    var i = 0
    while (i < ne) { val v = e.getDouble(i); qacc += v * v; i += 1 }
    val qnrm = math.sqrt(qacc)
    // zero-norm query → cosine undefined → null (never NaN-score a winner)
    val n = if (qnrm == 0.0) 0 else cs.numElements()
    var bestCid = 0L
    var bestS = 0.0
    var found = false
    var c = 0
    while (c < n) {
      val row = cs.getStruct(c, 3)
      val cid = row.getLong(0)
      val ce = row.getArray(1)
      val snrm = row.getDouble(2)
      if (snrm > 0.0) { // zero-norm centroid: skip, never divide by it
        val m = math.min(ce.numElements(), ne)
        var acc = 0.0
        var j = 0
        while (j < m) { acc += ce.getDouble(j) * e.getDouble(j); j += 1 }
        val s = acc / (snrm * qnrm)
        if (!found || s > bestS || (s == bestS && cid < bestCid)) {
          found = true; bestS = s; bestCid = cid
        }
      }
      c += 1
    }
    if (found) bestCid else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ne = ctx.freshName("ne")
      val qacc = ctx.freshName("qacc")
      val qnrm = ctx.freshName("qnrm")
      val n = ctx.freshName("n")
      val bestCid = ctx.freshName("bestCid")
      val bestS = ctx.freshName("bestS")
      val found = ctx.freshName("found")
      val c = ctx.freshName("c")
      val row = ctx.freshName("row")
      val cid = ctx.freshName("cid")
      val ce = ctx.freshName("ce")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $ne = $b.numElements();
         |double $qacc = 0.0;
         |for (int $i = 0; $i < $ne; $i++) {
         |  double $v = $b.getDouble($i);
         |  $qacc += $v * $v;
         |}
         |double $qnrm = java.lang.Math.sqrt($qacc);
         |// zero-norm query -> cosine undefined -> null result
         |int $n = ($qnrm == 0.0) ? 0 : $a.numElements();
         |long $bestCid = 0L;
         |double $bestS = 0.0;
         |boolean $found = false;
         |for (int $c = 0; $c < $n; $c++) {
         |  org.apache.spark.sql.catalyst.InternalRow $row = $a.getStruct($c, 3);
         |  long $cid = $row.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $ce = $row.getArray(1);
         |  double $v = $row.getDouble(2);
         |  if ($v > 0.0) { // zero-norm centroid: skip, never divide by it
         |    int $m = java.lang.Math.min($ce.numElements(), $ne);
         |    double $acc = 0.0;
         |    for (int $j = 0; $j < $m; $j++) {
         |      $acc += $ce.getDouble($j) * $b.getDouble($j);
         |    }
         |    double $s = $acc / ($v * $qnrm);
         |    if (!$found || $s > $bestS || ($s == $bestS && $cid < $bestCid)) {
         |      $found = true; $bestS = $s; $bestCid = $cid;
         |    }
         |  }
         |}
         |if (!$found) { ${ev.isNull} = true; } else { ${ev.value} = $bestCid; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosArgMax =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid-by-EUCLIDEAN-distance argmin as ONE native codegen
  * expression: `vec_argmin_l2(cs, e)` where `cs` is the broadcast codebook
  * array (struct<cid: bigint, ce: array<double>, n2: double> — `n2` the
  * PRECOMPUTED centroid self-dot `vec_dot(ce, ce)`) and `e` the row's
  * (sub)vector; returns the winning cid (null for an empty/null list).
  *
  * The product-quantization assignment rule (SimilarityPq): canonical PQ
  * quantizes each subspace by L2, not cosine — a direction-only quantizer
  * reconstructs segments at arbitrary norms, which distorts the full-vector
  * asymmetric score (measured: recall@3 0.17 cosine vs 0.30+ L2 on the
  * driver embeddings). Scored as argmin of `n2 - 2·dot(ce, e)`:
  * equal-ordered with |ce - e|² (the row's own |e|² is constant across
  * centroids) but free of subtraction loops and sqrt, so the oracle can
  * replay it EXACTLY — `c.n2 - 2 * list_inner_product(c.ce, s.e)` is the
  * identical op tree (index-ordered dot, one multiply, one subtract) and
  * stays bit-identical cross-engine, where ordering by a sqrt'd distance
  * could collapse distinct squared distances onto one rounded double and
  * flip a tiebreak.
  *
  * Selection rule: strictly lower score wins; equal score → lower cid.
  * Scores are finite for finite inputs (no norm divisions — zero vectors
  * are safe here, unlike the cosine argmax). */
case class L2ArgMin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_argmin_l2"

  override def checkInputDataTypes(): TypeCheckResult = {
    val csOk = left.dataType match {
      case ArrayType(st: StructType, _) if st.length == 3 =>
        st(0).dataType == LongType &&
          (st(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && st(2).dataType == DoubleType
      case _ => false
    }
    val eOk = right.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (csOk && eOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "vec_argmin_l2 requires (array<struct<cid: bigint, ce: array<double>, " +
        s"n2: double>>, array<double>), got ${left.dataType.simpleString} " +
        s"and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val e = b.asInstanceOf[ArrayData]
    val ne = e.numElements()
    val n = cs.numElements()
    var bestCid = 0L
    var bestS = 0.0
    var found = false
    var c = 0
    while (c < n) {
      val row = cs.getStruct(c, 3)
      val cid = row.getLong(0)
      val ce = row.getArray(1)
      val m = math.min(ce.numElements(), ne)
      var acc = 0.0
      var j = 0
      while (j < m) { acc += ce.getDouble(j) * e.getDouble(j); j += 1 }
      val s = row.getDouble(2) - 2.0 * acc
      if (!found || s < bestS || (s == bestS && cid < bestCid)) {
        found = true; bestS = s; bestCid = cid
      }
      c += 1
    }
    if (found) bestCid else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ne = ctx.freshName("ne")
      val n = ctx.freshName("n")
      val bestCid = ctx.freshName("bestCid")
      val bestS = ctx.freshName("bestS")
      val found = ctx.freshName("found")
      val c = ctx.freshName("c")
      val row = ctx.freshName("row")
      val cid = ctx.freshName("cid")
      val ce = ctx.freshName("ce")
      val m = ctx.freshName("m")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      s"""
         |int $ne = $b.numElements();
         |int $n = $a.numElements();
         |long $bestCid = 0L;
         |double $bestS = 0.0;
         |boolean $found = false;
         |for (int $c = 0; $c < $n; $c++) {
         |  org.apache.spark.sql.catalyst.InternalRow $row = $a.getStruct($c, 3);
         |  long $cid = $row.getLong(0);
         |  org.apache.spark.sql.catalyst.util.ArrayData $ce = $row.getArray(1);
         |  int $m = java.lang.Math.min($ce.numElements(), $ne);
         |  double $acc = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $acc += $ce.getDouble($j) * $b.getDouble($j);
         |  }
         |  double $s = $row.getDouble(2) - 2.0 * $acc;
         |  if (!$found || $s < $bestS || ($s == $bestS && $cid < $bestCid)) {
         |    $found = true; $bestS = $s; $bestCid = $cid;
         |  }
         |}
         |if (!$found) { ${ev.isNull} = true; } else { ${ev.value} = $bestCid; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2ArgMin =
    copy(left = newLeft, right = newRight)
}

/** PQ code reconstruction as ONE interpreted-but-native expression:
  * `pq_recon(cm, codes)` where `cm` is the broadcast codebook map
  * (map<int, array<struct<cid: bigint, ce: array<double>, n2: double>>>)
  * and `codes` the row's per-subspace code array [c_1..c_m]; returns the
  * concatenation of each subspace's assigned centroid — byte-identical
  * to the filter-HOF formulation it replaces
  * (`concat_j(element_at(filter(cm[j], s -> s.cid = c_j), 1).ce)`), which
  * allocated boxed lambda frames per codebook entry per row and measured
  * 21 CPU-seconds over a 2000-row corpus (r20 JobProfile of q_sim_ivfpq).
  *
  * DELIBERATELY CodegenFallback, exactly like the HOF it replaces: the
  * reconstruction projection must stay OUT of whole-stage codegen so the
  * broadcast join above it cannot defer the expression into its inner
  * loop and recompute it once per (row, query) pair — the documented
  * withRecon barrier rationale. This keeps the barrier and deletes the
  * interpretation overhead: one flat double-copy loop per row.
  *
  * A code with no matching codebook entry throws (the HOF's ANSI
  * element_at error, made explicit): encode and reconstruction share the
  * same codebooks, so a miss is a corrupted-index bug, never data. */
case class PqRecon(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  import org.apache.spark.sql.types.{IntegerType, MapType}

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_recon"

  override def checkInputDataTypes(): TypeCheckResult = {
    val cmOk = left.dataType match {
      case MapType(IntegerType, ArrayType(st: StructType, _), _) if st.length == 3 =>
        st(0).dataType == LongType &&
          (st(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          })
      case _ => false
    }
    val codesOk = right.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (cmOk && codesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_recon requires (map<int, array<struct<cid: bigint, ce: " +
        "array<double>, n2: double>>>, array<bigint>), got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(cmAny: Any, codesAny: Any): Any = {
    val cm = cmAny.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val codes = codesAny.asInstanceOf[ArrayData]
    val keys = cm.keyArray()
    val values = cm.valueArray()
    val nSub = codes.numElements()
    val parts = new Array[ArrayData](nSub)
    var total = 0
    var j = 0
    while (j < nSub) {
      val code = codes.getLong(j)
      // subspace key is j+1 (1-based); the map is tiny (<= m entries)
      var entries: ArrayData = null
      var k = 0
      val nKeys = keys.numElements()
      while (entries == null && k < nKeys) {
        if (keys.getInt(k) == j + 1) entries = values.getArray(k)
        k += 1
      }
      if (entries == null)
        throw new IllegalStateException(s"pq_recon: no codebook for subspace ${j + 1}")
      var ce: ArrayData = null
      var c = 0
      val nEnt = entries.numElements()
      while (ce == null && c < nEnt) {
        val row = entries.getStruct(c, 3)
        if (row.getLong(0) == code) ce = row.getArray(1)
        c += 1
      }
      if (ce == null)
        throw new IllegalStateException(
          s"pq_recon: code $code not in subspace ${j + 1}'s codebook")
      parts(j) = ce
      total += ce.numElements()
      j += 1
    }
    val out = new Array[Double](total)
    var pos = 0
    j = 0
    while (j < nSub) {
      val ce = parts(j)
      val n = ce.numElements()
      var i = 0
      while (i < n) { out(pos) = ce.getDouble(i); pos += 1; i += 1 }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqRecon =
    copy(left = newLeft, right = newRight)
}
