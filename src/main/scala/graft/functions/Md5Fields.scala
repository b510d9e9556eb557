package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** uuid4-shaped rendering of a string's md5, one native pass — byte-identical
  * to the composable
  * `concat(substring(md5(s),1,8), '-', substring(md5(s),9,4), '-4',
  * substring(md5(s),14,3), '-', substring(md5(s),17,4), '-', substring(md5(s),21,12))`
  * form, which any SQL oracle keeps using: the 8-4-4-4-12 split of the hex
  * digest with hex digit 13 (the version nibble) forced to '4'.
  *
  * Why native: the composed form renders a 32-char hex string, cuts five
  * substrings out of it and concatenates them again, per row; this kernel
  * hashes with the generated class's own `MessageDigest` and writes the 36
  * output bytes straight from the 16 digest bytes. Stays inside whole-stage
  * codegen.
  */
case class Md5Uuid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "md5_uuid"

  override def checkInputDataTypes(): TypeCheckResult = Md5Fields.requireString(child)

  override def nullSafeEval(input: Any): Any =
    Md5Uuid.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = Md5Fields.digestState(ctx)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Uuid.compute($md, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Uuid {

  def compute(s: UTF8String): UTF8String = compute(Md5Fields.threadDigest, s)

  /** Called from generated code — must stay public and static-shaped. */
  def compute(md: MessageDigest, s: UTF8String): UTF8String = {
    val d = Md5Fields.digest(md, s)
    val out = new Array[Byte](36)
    var o = 0
    var i = 0 // hex digit index into the 32-digit digest rendering
    while (i < 32) {
      if (i == 8 || i == 12 || i == 16 || i == 20) { out(o) = '-'.toByte; o += 1 }
      val b = d(i >> 1)
      val nibble = if ((i & 1) == 0) (b >> 4) & 0xf else b & 0xf
      out(o) = if (i == 12) '4'.toByte else Md5Fields.Hex(nibble)
      o += 1
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def apply(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5Uuid(ColumnBridge.expression(s)))
  }
}

/** Deterministic bucket of a string in `[0, n)`: the first 4 md5 digest
  * bytes as an unsigned big-endian int, mod `n` — identical to the composable
  * `pmod(CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT), n)` form the
  * SQL oracle keeps using, without the hex rendering, the base conversion's
  * string round trip or the cast.
  */
case class Md5Index(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"Md5Index needs a positive bucket count, got $n")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_index"

  override def checkInputDataTypes(): TypeCheckResult = Md5Fields.requireString(child)

  override def nullSafeEval(input: Any): Any =
    Md5Index.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = Md5Fields.digestState(ctx)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.Md5Index.compute($md, $s, $n);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Index {

  def compute(s: UTF8String, n: Int): Long = compute(Md5Fields.threadDigest, s, n)

  /** Called from generated code — must stay public and static-shaped. */
  def compute(md: MessageDigest, s: UTF8String, n: Int): Long = {
    val d = Md5Fields.digest(md, s)
    val word = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    word % n
  }

  def apply(s: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(Md5Index(ColumnBridge.expression(s), n))
  }
}

private[functions] object Md5Fields {

  val Hex: Array[Byte] = "0123456789abcdef".getBytes("US-ASCII")

  // the interpreted path's digest; generated code holds its own
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => newDigest())

  def threadDigest: MessageDigest = md5.get()

  /** Called from generated code: unlike `MessageDigest.getInstance` it
    * throws no checked exception, which Janino would reject.
    */
  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** A `MessageDigest` field of the generated class for one kernel: a
    * generated instance runs on one thread, and the per-row `ThreadLocal`
    * lookup it replaces cost 3.4% of a pipeline run's CPU samples.
    */
  def digestState(ctx: CodegenContext): String =
    ctx.addMutableState(classOf[MessageDigest].getName, "md5Digest",
      v => s"$v = graft.functions.Md5Fields.newDigest();")

  /** md5 of the string's UTF-8 bytes, read in place when array-backed. */
  def digest(md: MessageDigest, s: UTF8String): Array[Byte] = {
    md.update(s.getByteBuffer)
    md.digest()
  }

  /** A string child, else a named analysis error (see [[InputTypes]]). */
  def requireString(child: Expression): TypeCheckResult =
    InputTypes.require(child, "\"STRING\"")(_.isInstanceOf[StringType])
}
