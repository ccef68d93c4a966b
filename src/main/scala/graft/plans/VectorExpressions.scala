package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** SURVEY.md §2.H — native Catalyst expressions for the vector hot path.
  *
  * The library places these kernels in its plans directly, through the
  * `GraftColumns` bridge: `VectorFunctions.dot` (and so `norm`, `cosine`
  * and `signBucket`) emits DotProduct, `Ann.l2sq` emits L2Squared and the
  * int8 tier emits LongDotProduct. Every session therefore runs them, a
  * plain one included. Each kernel computes the same sequential fold as
  * the declarative aggregate∘zip_with form (element 0 first, acc + v) in
  * one tight loop with full whole-stage codegen — no lambda allocation
  * per element, no intermediate array — so the results are bit-identical
  * to that form; ExtensionsSpec keeps the fold as the reference.
  *
  * This trait is what every vector kernel shares: NULL on NULL input,
  * NULL on ragged input, and the NULL-element guard. Each kernel keeps
  * its own type check.
  */
trait ArrayPairKernel extends BinaryExpression {
  override def nullIntolerant: Boolean = true

  /** Mismatched-length inputs yield NULL — exactly what the declarative
    * aggregate∘zip_with fold does (zip_with null-pads the shorter array,
    * the multiply nulls out, the sum goes null). */
  override def nullable: Boolean = true

  /** A NULL array ELEMENT nulls the declarative fold too (zip_with's
    * Multiply nulls out, then Add(acc, null) stays null to the end), so
    * the kernels return NULL — ArrayData.getDouble/getLong on a null slot
    * would silently read 0/garbage. The check is emitted ONLY when a
    * side's type admits null elements (containsNull), so provably
    * non-null arrays keep the branch-free loop. */
  protected def mayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  /** Interpreted-path guard: the common length, or -1 when the result
    * is NULL (ragged input, or a null slot in either array). */
  protected def guardedLength(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    if (y.numElements() != n) return -1
    if (mayHaveNullElems) {
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return -1
        i += 1
      }
    }
    n
  }

  /** Codegen PREPASS fragment ("" when the types prove no null elements):
    * scans the null bitmaps BEFORE the arithmetic loop and falls through
    * with isNull set. Kept out of the compute loop deliberately — an
    * early-exit branch inside the multiply-add loop defeats JIT
    * auto-vectorization (measured r20: ~25-30 % on the cosine-bound
    * entries); the split keeps the hot loop branch-free. */
  protected def nullPrepassCode(a: String, b: String, n: String, isNull: String,
      ctx: CodegenContext): String =
    if (!mayHaveNullElems) ""
    else {
      val j = ctx.freshName("j")
      s"""
         |for (int $j = 0; $j < $n; $j++) {
         |  if ($a.isNullAt($j) || $b.isNullAt($j)) { $isNull = true; break; }
         |}
       """.stripMargin
    }
}

/** The floating-point kernels: each side may be array<float> or
  * array<double> (embeddings are float; IVF centroids from avg() are
  * double), each element widened to double exactly as the reference
  * fold's cast does. */
trait VectorBinaryExpression extends ArrayPairKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (lt, rt) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<float|double>, array<float|double>), got ($lt, $rt)")
    }

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def getElem(e: Expression, arr: ArrayData, i: Int): Double =
    elemType(e) match {
      case FloatType => arr.getFloat(i).toDouble
      case _         => arr.getDouble(i)
    }

  protected def getElemCode(e: Expression, arr: String, i: String): String =
    elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
}

case class DotProduct(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = guardedLength(x, y)
    if (n < 0) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += getElem(left, x, i) * getElem(right, y, i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${nullPrepassCode(a, b, n, ev.isNull, ctx)}
         |  double $dot = 0.0;
         |  if (!${ev.isNull}) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      $dot += ${getElemCode(left, a, i)} * ${getElemCode(right, b, i)};
         |    }
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Full cosine similarity in one pass (dot and both norms in a single
  * loop) — the SQL-function form (`graft_cosine`) for end users. Division
  * and sqrt ordering matches dot/(sqrt(na)*sqrt(nb)) exactly. */
case class CosineSimilarity(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = guardedLength(x, y)
    if (n < 0) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = getElem(left, x, i)
      val yv = getElem(right, y, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    // zero-norm vector: no direction, cosine undefined → NULL, matching
    // the declarative dot/nullif(na*nb, 0) form (raw 0.0/0.0 would be NaN)
    if (denom == 0.0) null else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${nullPrepassCode(a, b, n, ev.isNull, ctx)}
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  if (!${ev.isNull}) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $xv = ${getElemCode(left, a, i)};
         |      double $yv = ${getElemCode(right, b, i)};
         |      $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |    }
         |  }
         |  double ${dot}_den = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if (${ev.isNull} || ${dot}_den == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / ${dot}_den;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance in one codegen'd loop — the PQ assignment hot
  * path (Ann.l2sq; r19, guide §4: the interpreted aggregate∘zip_with
  * (x−y)·(x−y) fold allocates a zipped array + two lambda frames per
  * element, per candidate code). Fold order equals the reference fold's
  * (element 0 first, acc + v). It matches that fold only on
  * array<double> inputs, because a float-element lambda subtracts in
  * FLOAT before widening and this kernel subtracts in double; its one
  * caller, Ann.l2sq, always passes `subvectors`' double-cast slices and
  * double codebooks. */
case class L2Squared(left: Expression, right: Expression)
  extends VectorBinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = guardedLength(x, y)
    if (n < 0) return null
    var d = 0.0
    var i = 0
    while (i < n) {
      val diff = getElem(left, x, i) - getElem(right, y, i)
      d += diff * diff
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${nullPrepassCode(a, b, n, ev.isNull, ctx)}
         |  double $d = 0.0;
         |  if (!${ev.isNull}) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      double $diff = ${getElemCode(left, a, i)} - ${getElemCode(right, b, i)};
         |      $d += $diff * $diff;
         |    }
         |    ${ev.value} = $d;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Squared =
    copy(left = newLeft, right = newRight)
}

/** Integer dot product over two array<bigint> columns in one codegen'd
  * loop — the int8 tier's code dot (Ann.ivfInt8TopK). Arithmetic is
  * always exact (multiplyExact/addExact): an overflow raises an error in
  * every ANSI mode rather than wrapping. The int8 codes are |x| ≤ 127
  * over 64 dims, so that caller cannot overflow. */
case class LongDotProduct(left: Expression, right: Expression)
  extends ArrayPairKernel {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (lt, rt) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects (array<bigint>, array<bigint>), got ($lt, $rt)")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = guardedLength(x, y)
    if (n < 0) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(x.getLong(i), y.getLong(i)))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${nullPrepassCode(a, b, n, ev.isNull, ctx)}
         |  long $acc = 0L;
         |  if (!${ev.isNull}) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc = java.lang.Math.addExact($acc,
         |        java.lang.Math.multiplyExact($a.getLong($i), $b.getLong($i)));
         |    }
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}
