package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Keep-first equivalence: `Dedup.keepFirst`, `tumbling` and
  * `keepFirstSalted` return exactly the rows of a reference keep-first —
  * `min_by` over a (ts, tiebreak) struct, kept here only as the reference —
  * on null orderings, ts ties, a hot key and multi-column keys.
  */
class KeepFirstSpec extends SparkSpecBase {
  import spark.implicits._

  /** Reference keep-first: the least (ts, tiebreak) struct per key; struct
    * ordering puts null fields first.
    */
  private def minByFirst(df: DataFrame, key: Seq[String], ts: Column,
                         tiebreak: Column): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(key.map(col): _*)
      .agg(min_by(payload, struct(ts, tiebreak)).as("__first"))
      .select(df.columns.map(c => col(s"__first.$c")): _*)
  }

  private def minByTumbling(df: DataFrame, key: Seq[String], ts: Column,
                            windowMillis: Long, tiebreak: Column): DataFrame = {
    val withBucket = df.withColumn("__bucket",
      floor(unix_millis(ts) / lit(windowMillis)))
    minByFirst(withBucket, key :+ "__bucket", ts, tiebreak).drop("__bucket")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$what: columns")
    assert(got.count() == want.count(), s"$what: row count")
    assert(got.exceptAll(want).isEmpty, s"$what: rows the reference does not keep")
    assert(want.exceptAll(got).isEmpty, s"$what: reference rows dropped")
  }

  /** All three keep-first forms against the reference, over `key`. */
  private def assertAllAgree(df: DataFrame, key: Seq[String], ts: Column,
                             tiebreak: Column, windowMillis: Long): Unit = {
    val want = minByFirst(df, key, ts, tiebreak)
    assertSameRows(Dedup.keepFirst(df, key, ts, tiebreak), want, "keepFirst")
    assertSameRows(Dedup.keepFirstSalted(df, key, ts, tiebreak, 8), want,
      "keepFirstSalted")
    assertSameRows(Dedup.tumbling(df, key, ts, windowMillis, tiebreak),
      minByTumbling(df, key, ts, windowMillis, tiebreak), "tumbling")
  }

  test("null ts and null tiebreak sort first, as in the reference") {
    val df = Seq[(String, Option[Long], Option[Int], String)](
      ("a", None, Some(5), "a1"), ("a", None, None, "a2"), ("a", Some(10L), None, "a3"),
      ("b", Some(10L), Some(2), "b1"), ("b", Some(5L), Some(9), "b2"),
      ("c", Some(10L), Some(2), "c1"), ("c", Some(10L), None, "c2"),
      ("d", None, Some(3), "d1"), ("d", None, Some(1), "d2"),
      (null, Some(1L), Some(1), "n1"), (null, Some(0L), Some(2), "n2"))
      .toDF("k", "secs", "tb", "payload")
      .withColumn("ts", timestamp_seconds(col("secs")))
    assertAllAgree(df, Seq("k"), col("ts"), col("tb"), 7000L)
    val kept = Dedup.keepFirst(df, Seq("k"), col("ts"), col("tb"))
      .select("payload").as[String].collect().toSet
    assert(kept == Set("a2", "b2", "c2", "d2", "n2"))
  }

  test("ts ties are broken by the tiebreak") {
    val df = spark.range(0, 2000, 1, 4).select(
      pmod(col("id"), lit(50)).as("k"),
      timestamp_seconds(pmod(col("id"), lit(3))).as("ts"),
      pmod(col("id") * lit(7919L), lit(2003L)).as("tb"),
      col("id").as("payload"))
    assertAllAgree(df, Seq("k"), col("ts"), col("tb"), 2000L)
  }

  test("a hot key holding 50% of the rows") {
    val df = spark.range(0, 20000, 1, 4).select(
      when(pmod(col("id"), lit(2)) === 0, lit("HOT"))
        .otherwise(col("id").cast("string")).as("k"),
      timestamp_seconds(pmod(col("id") * lit(2654435761L), lit(86400L))).as("ts"),
      col("id").as("tb"),
      md5(col("id").cast("string")).as("payload"))
    assertAllAgree(df, Seq("k"), col("ts"), col("tb"), 3600000L)
    assert(Dedup.keepFirst(df, Seq("k"), col("ts"), col("tb"))
      .filter(col("k") === "HOT").count() == 1)
  }

  test("multi-column keys") {
    val df = spark.range(0, 5000, 1, 4).select(
      pmod(col("id"), lit(7)).as("k1"),
      pmod(col("id"), lit(5)).cast("string").as("k2"),
      timestamp_seconds(pmod(col("id") * lit(31L), lit(97L))).as("ts"),
      col("id").as("tb"),
      (col("id") * 2).as("payload"))
    assertAllAgree(df, Seq("k1", "k2"), col("ts"), col("tb"), 30000L)
    assert(Dedup.keepFirst(df, Seq("k1", "k2"), col("ts"), col("tb")).count() == 35)
  }
}
