package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All banded sign-LSH bucket values of a quantized vector, as ONE native
  * expression (the [[MinHashSig]] pattern applied to hyperplane hashing).
  *
  * Semantics (identical to the compositional form it replaces, and to the
  * SQL oracle rendering in `VectorFunctions.lshBandValSql`): band t's value
  * has bit h set iff hyperplane(t·p + h) · v >= 0, hyperplanes drawn from
  * the deterministic md5 family of `VectorFunctions.hyperplane`.
  *
  * Why native: the compositional form is bands × planesPerBand separate
  * `when(dotLong(v, w_literal) >= 0, bit)` expression trees — at
  * planesFor(100 TB) ≈ 4×34 that is ~136 inlined codegen loops per row,
  * each with its own null/bounds checks, bloating the generated method
  * toward JIT limits. This expression computes every band in one call with
  * the weight matrix held as a reference object: compact generated code,
  * one `ArrayData` traversal per plane in tight JVM loops, still inside
  * whole-stage codegen.
  */
case class LshBandSig(child: Expression, bands: Int, planesPerBand: Int,
                      dims: Int) extends UnaryExpression {

  /** bands·planesPerBand rows of the deterministic hyperplane family —
    * built once per expression instance, shipped to executors with it.
    */
  private lazy val weights: Array[Array[Long]] =
    Array.tabulate(bands * planesPerBand)(VectorFunctions.hyperplane(_, dims))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_sig"

  override def checkInputDataTypes(): TypeCheckResult = InputTypes.longArray(child)

  override def nullSafeEval(input: Any): Any =
    LshBandSig.compute(input.asInstanceOf[ArrayData], weights, bands,
      planesPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("lshWeights", weights, "long[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.LshBandSig.compute($v, $w, $bands, $planesPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandSig {

  /** Called from generated code — must stay public and static-shaped. */
  def compute(v: ArrayData, w: Array[Array[Long]], bands: Int,
              planesPerBand: Int): ArrayData = {
    val out = new Array[Long](bands)
    var t = 0
    while (t < bands) {
      var bv = 0L
      var h = 0
      while (h < planesPerBand) {
        val wh = w(t * planesPerBand + h)
        val n = math.min(v.numElements(), wh.length)
        var dot = 0L
        var i = 0
        while (i < n) { dot += v.getLong(i) * wh(i); i += 1 }
        if (dot >= 0) bv |= 1L << h
        h += 1
      }
      out(t) = bv
      t += 1
    }
    new GenericArrayData(out)
  }

  def apply(vQuantized: org.apache.spark.sql.Column, bands: Int,
            planesPerBand: Int, dims: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      LshBandSig(ColumnBridge.expression(vQuantized), bands, planesPerBand, dims))
  }
}
