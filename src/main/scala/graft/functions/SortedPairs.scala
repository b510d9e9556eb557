package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ordered pairs (a(i), a(j)), i < j, of one long array as a single
  * preallocated array<struct<pa, pb>> — the group-pair generator behind
  * the co-occurrence / shared-fingerprint joins (r26 basket lift, d26
  * winnowing, d10 chunk overlap, d11-style capped groups).
  *
  * Replaces the composable form
  * `flatten(transform(a, (x, i) => transform(slice(a, i + 2, size(a)),
  * y => struct(x, y))))`, which per k-element array allocates k slice
  * copies (O(k²) element copies), k inner arrays, and a flatten copy on
  * top of the k(k−1)/2 pair structs — ~4× the object churn of the pair
  * count. This kernel fills one exact-size array in a nested loop (same
  * pair multiset, same (i asc, j asc) order) and runs inside
  * whole-stage codegen via the static [[SortedPairs.compute]].
  *
  * Input arrays are group-bounded by construction at every call site
  * (df-capped CollectCapped groups, per-order baskets); the exact-size
  * allocation is the same k(k−1)/2 structs the flatten form materialized.
  * The input must be `array<bigint>` without null elements — the kernel
  * reads raw longs — and anything else fails at analysis time.
  */
case class SortedPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pa", LongType, nullable = false),
    StructField("pb", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "sorted_pairs"

  override def checkInputDataTypes(): TypeCheckResult =
    InputTypes.require(child, "\"ARRAY<BIGINT>\" without null elements")(
      _ == ArrayType(LongType, containsNull = false))

  override def nullSafeEval(input: Any): Any =
    SortedPairs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SortedPairs.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedPairs {

  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val total = n.toLong * (n - 1) / 2
    require(total <= Int.MaxValue,
      s"sorted_pairs: $n elements would generate $total pairs — group is " +
        "unbounded, cap it before pairing")
    val out = new Array[Any](total.toInt)
    var idx = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(idx) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SortedPairs(ColumnBridge.expression(arr)))
  }
}
