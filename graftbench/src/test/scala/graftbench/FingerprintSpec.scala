package graftbench

import org.apache.spark.sql.functions._

class FingerprintSpec extends SparkSpec {

  private def rows = spark.range(0, 200000).select(
    col("id"), (col("id") * 7).cast("string").as("s"), (col("id") / 3.0).as("d"))

  test("summing raw row hashes overflows under ANSI; the fingerprint does not") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val raw = intercept[Exception] {
      rows.select(sum(xxhash64(col("id"), col("s"), col("d")))).collect()
    }
    assert(Iterator.iterate[Throwable](raw)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("overflow")))
    val hashes = rows.select(xxhash64(col("id"), col("s"), col("d"))).collect().map(_.getLong(0))
    val d = Fingerprint.of(rows)
    assert(d.rows == 200000L)
    assert(d.hash == hashes.sum) // Long addition wraps, as the fingerprint does
  }

  test("the fingerprint ignores row order and partitioning") {
    val d = Fingerprint.of(rows)
    assert(Fingerprint.of(rows.orderBy(col("id").desc)) == d)
    assert(Fingerprint.of(rows.repartition(7, col("s"))) == d)
  }

  test("the fingerprint counts duplicate rows") {
    val d = Fingerprint.of(rows)
    val once = rows.limit(1)
    val withDup = Fingerprint.of(rows.unionAll(once))
    assert(withDup.rows == d.rows + 1 && withDup.hash != d.hash)
    // a pair of identical rows does not cancel, as it would under xor
    val twice = Fingerprint.of(once.unionAll(once))
    assert(twice.hash == 2 * Fingerprint.of(once).hash && twice.hash != 0L)
    // and a changed value in one column changes it
    assert(Fingerprint.of(rows.withColumn("d", col("d") + 1e-9)) != d)
  }

  test("an empty result has a zero fingerprint") {
    assert(Fingerprint.of(rows.where(lit(false))) == Fingerprint.Digest(0L, 0L))
  }

  test("the halves recombine with wrapping arithmetic") {
    assert(Fingerprint.combine(1L, 1L) == (1L << 32) + 1L)
    assert(Fingerprint.combine(0L, 1L << 32) == 0L)
  }
}
