package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Analysis-time input contracts for the native kernels: the child's type is
  * accepted, or the call fails with a named
  * DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE error instead of wrong rows.
  */
private[functions] object InputTypes {

  def require(child: Expression, required: String, paramIndex: String = "first")(
      accepts: DataType => Boolean): TypeCheckResult =
    if (accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.DataTypeMismatch(
      errorSubClass = "UNEXPECTED_INPUT_TYPE",
      messageParameters = Map(
        "paramIndex" -> paramIndex,
        "requiredType" -> required,
        "inputSql" -> s"\"${child.sql}\"",
        "inputType" -> s"\"${child.dataType.sql}\"${nullElements(child.dataType)}"))

  /** `array<bigint>` with or without null elements — what a kernel reading
    * its input through `ArrayData.getLong` needs.
    */
  def longArray(child: Expression, paramIndex: String = "first"): TypeCheckResult =
    require(child, "\"ARRAY<BIGINT>\"", paramIndex) {
      case ArrayType(LongType, _) => true
      case _ => false
    }

  /** An array type's SQL name does not say whether its elements may be null. */
  private def nullElements(t: DataType): String = t match {
    case ArrayType(_, true) => " with null elements"
    case _ => ""
  }
}
