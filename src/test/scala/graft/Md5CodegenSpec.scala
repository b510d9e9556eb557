package graft

import org.apache.spark.sql.functions._

import graft.functions.{Md5Index, Md5Uuid}

/** The md5 kernels compile into generated code. Spark otherwise falls back
  * to the interpreted path without a word when the generated Java does not
  * compile, so Md5FieldsSpec's default-mode run agrees on values either way;
  * here both fallbacks are off and a compile error fails the query.
  */
class Md5CodegenSpec extends SparkSpecBase {
  import spark.implicits._

  test("Md5Uuid / Md5Index run in generated code with the fallbacks off") {
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    val rows = try {
      // repartition: a local relation would be folded at planning time
      Seq("eid:42:0", "uid:42:0", "").toDF("s").repartition(2)
        .select(col("s"), Md5Uuid(col("s")), Md5Index(col("s"), 16))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    for ((s, (uuid, idx)) <- rows) {
      assert(uuid == Md5Uuid.compute(org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString)
      assert(idx == Md5Index.compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), 16))
    }
    assert(rows.size == 3)
  }
}
