package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Exact integer dot product of two ARRAY<BIGINT> columns, as a native
  * codegen'd Catalyst expression.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), 0L, _+_)`) evaluates
  * through interpreted higher-order lambdas — per-element closure dispatch and
  * boxing. Pair-join workloads (similarity search / near-dup, SURVEY.md §2.8
  * north star) evaluate this millions of times, so it earns the custom
  * `Expression`: `doGenCode` emits a tight primitive loop over the two
  * `ArrayData`, which then inlines into whole-stage codegen alongside the
  * join — no virtual calls, no allocation per row.
  *
  * Overflow contract: |v_i| ≤ ~10⁶ quantized units and dims ≤ ~10⁴ keeps
  * Σ a_i·b_i ≪ 2⁶³ — callers quantize at ×10⁴ (VectorFunctions.quantize).
  */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def checkInputDataTypes(): TypeCheckResult = {
    val l = InputTypes.longArray(left)
    if (l.isFailure) l else InputTypes.longArray(right, "second")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
