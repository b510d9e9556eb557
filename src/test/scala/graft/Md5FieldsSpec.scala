package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Md5Index, Md5Uuid}
import graft.operators.EventGenerator

/** Differential spec for the one-pass md5 field kernels: each must equal,
  * value for value, the composed built-in form it replaces in the generator
  * (and that the DuckDB oracle SQL still spells out), on both the codegen
  * and the interpreted path.
  */
class Md5FieldsSpec extends SparkSpecBase {
  import spark.implicits._

  private def builtinUuid(s: Column): Column = {
    val h = md5(s)
    concat(
      substring(h, 1, 8), lit("-"),
      substring(h, 9, 4), lit("-4"),
      substring(h, 14, 3), lit("-"),
      substring(h, 17, 4), lit("-"),
      substring(h, 21, 12))
  }

  private def builtinIdx(s: Column, n: Int): Column =
    pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), lit(n.toLong))

  private val ids: Seq[Long] = Seq(0L, 1L, -1L, -42L, Long.MinValue, Long.MaxValue) ++ {
    val r = new scala.util.Random(20261017L)
    Seq.fill(500)(r.nextLong())
  }
  private val seeds = Seq(0L, 11L, 42L, -3L)
  private val tagNames = Seq("eid", "uid", "fn", "ln", "dom", "")
  private val buckets = Seq(1, 4, 7, 16, Int.MaxValue)

  /** (input, kernel, builtin) rows for every seed/tag/id, with a null. */
  private def compared: DataFrame = {
    val inputs = (for (seed <- seeds; tag <- tagNames; id <- ids)
      yield Option(s"$tag:$seed:$id")) :+ None
    // repartition: a bare local relation would be folded at planning time,
    // never reaching generated code
    val df = inputs.toDF("s").repartition(4)
    val s = col("s")
    df.select((Seq(s, Md5Uuid(s).as("uuid_k"), builtinUuid(s).as("uuid_b")) ++
      buckets.flatMap(n => Seq(Md5Index(s, n).as(s"idx_k$n"),
        builtinIdx(s, n).as(s"idx_b$n")))): _*)
  }

  private def assertAgree(rows: Array[org.apache.spark.sql.Row]): Unit = {
    assert(rows.length == seeds.size * tagNames.size * ids.size + 1)
    for (r <- rows) {
      val in = r.getAs[String]("s")
      assert(r.getAs[String]("uuid_k") == r.getAs[String]("uuid_b"), s"uuid of $in")
      for (n <- buckets)
        assert(r.getAs[Any](s"idx_k$n") == r.getAs[Any](s"idx_b$n"), s"idx($n) of $in")
    }
    val nulls = rows.filter(_.isNullAt(0))
    assert(nulls.length == 1 && nulls.head.toSeq.forall(_ == null),
      "null input must give null from both forms")
  }

  test("Md5Uuid / Md5Index equal their composed built-in forms (codegen)") {
    val rows = compared.collect()
    assertAgree(rows)
    assert(rows.exists(r => !r.isNullAt(0) && r.getString(1).length == 36 &&
      r.getString(1).charAt(14) == '4'))
  }

  test("Md5Uuid / Md5Index equal their composed built-in forms (interpreted)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assertAgree(compared.collect())
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Md5Uuid / Md5Index reject non-string input at analysis time") {
    val df = spark.range(3).select(col("id"), col("id").cast("string").cast("binary").as("b"))
    for (bad <- Seq(Md5Uuid(col("id")), Md5Index(col("id"), 16), Md5Uuid(col("b")))) {
      val e = intercept[AnalysisException](df.select(bad))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
    intercept[IllegalArgumentException](Md5Index(col("id").cast("string"), 0))
  }

  test("generate(200000, 11) equals the built-in-form generator row for row") {
    val n = 200000L
    val kernel = EventGenerator.generate(spark, n, 11L)
    val builtin = BuiltinGenerator.generate(spark, n, 11L)
    assert(kernel.schema == builtin.schema)
    assert(kernel.exceptAll(builtin).isEmpty, "kernel rows missing from the built-in form")
    assert(builtin.exceptAll(kernel).isEmpty, "built-in rows missing from the kernel form")
  }

  /** The generator exactly as it read before the kernels: every md5 field
    * spelled with built-ins.
    */
  private object BuiltinGenerator {
    private def input(id: Column, seed: Long, tag: String): Column =
      concat(lit(s"$tag:$seed:"), id.cast("string"))

    private def pick(vals: Seq[String], id: Column, seed: Long, tag: String): Column =
      element_at(array(vals.map(lit): _*),
        (builtinIdx(input(id, seed, tag), vals.size) + 1).cast("int"))

    def generate(spark: SparkSession, numRecords: Long, seed: Long): DataFrame = {
      val id = col("id")
      val first = pick(EventGenerator.FirstNames, id, seed, "fn")
      val last = pick(EventGenerator.LastNames, id, seed, "ln")
      spark.range(0, numRecords, 1, spark.sparkContext.defaultParallelism).select(
        builtinUuid(input(id, seed, "eid")).as("event_id"),
        builtinUuid(input(id, seed, "uid")).as("user_id"),
        concat(first, lit(" "), last).as("name"),
        concat(first, lit("."), last, lit(id), lit("@"),
          pick(EventGenerator.Domains, id, seed, "dom")).as("email"),
        date_format(timestamp_seconds(lit(1700000000L) + id),
          "yyyy-MM-dd HH:mm:ss").as("created_at"),
        id.as("row_id"))
    }
  }
}
