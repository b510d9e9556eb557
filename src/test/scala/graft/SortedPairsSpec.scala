package graft

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.SortedPairs

/** Differential spec for the pair kernel: on seeded random `array<bigint>`
  * groups it must equal, value and order, the built-in
  * flatten/transform/slice form it replaced, and it must refuse at analysis
  * time any input it would read wrongly.
  */
class SortedPairsSpec extends SparkSpecBase {
  import spark.implicits._

  private def builtin(a: Column): Column =
    flatten(transform(a, (x, i) => transform(slice(a, (i + lit(2)).cast("int"), size(a)),
      y => struct(x.as("pa"), y.as("pb")))))

  test("SortedPairs equals the built-in pair formula on seeded groups, null in null out") {
    // sizes 0–3 and 63–65 at the edges, random up to 40 between, values from
    // a small range so duplicates occur, and one null group
    val r = new scala.util.Random(20261019L)
    val groups = (Seq(0, 1, 2, 3, 63, 64, 65) ++ Seq.fill(200)(r.nextInt(41)))
      .map(n => Option(Seq.fill(n)(r.nextInt(20).toLong - 5))) :+ None
    // repartition: a bare local relation would be folded at planning time,
    // never reaching generated code
    val rows = groups.toDF("ds").repartition(4)
      .select(col("ds"), SortedPairs(col("ds")), builtin(col("ds"))).collect()
    assert(rows.length == groups.size)
    rows.foreach(row => assert(row.get(1) == row.get(2), s"pairs of ${row.get(0)}"))
    assert(rows.count(_.isNullAt(1)) == 1, "only the null group gives null")
  }

  test("SortedPairs rejects int arrays and nullable elements at analysis time") {
    val nullable = spark.range(1).select(array(col("id"), lit(null).cast("bigint")).as("ds"))
    for (df <- Seq(Seq(Seq(1, 2, 3)).toDF("ds"), nullable, spark.range(1).toDF("ds"))) {
      val e = intercept[AnalysisException](df.select(SortedPairs(col("ds"))))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
    val e = intercept[AnalysisException](nullable.select(SortedPairs(col("ds"))))
    assert(e.getMessage.contains("with null elements"), e.getMessage)
  }

  test("SortedPairs refuses a group whose pair count overflows one array") {
    // 65537 elements → 2,147,516,416 pairs > Int.MaxValue; 65536 would fit
    val e = intercept[IllegalArgumentException](
      SortedPairs.compute(ArrayData.toArrayData(Array.tabulate(65537)(_.toLong))))
    assert(e.getMessage.contains("65537 elements would generate 2147516416 pairs"), e.getMessage)
  }
}
