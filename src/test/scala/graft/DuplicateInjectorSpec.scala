package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Nondeterministic
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._

import graft.operators.{DuplicateInjector, EventGenerator}

/** Injection equivalence: the one-scan expansion in `DuplicateInjector`
  * emits exactly the multiset of the self-union `df.unionAll(df.where(p))`,
  * kept here only as the reference, for every k, a null row id, and several
  * input partition counts.
  */
class DuplicateInjectorSpec extends SparkSpecBase {
  import spark.implicits._

  private def unionReference(df: DataFrame, reemit: Column): DataFrame =
    df.unionAll(df.where(reemit))

  /** Multiset equality (exceptAll both ways) plus the per-row copy counts. */
  private def assertSameMultiset(got: DataFrame, want: DataFrame, rowId: String,
                                 what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, s"$what: columns")
    assert(got.exceptAll(want).isEmpty, s"$what: rows the reference does not emit")
    assert(want.exceptAll(got).isEmpty, s"$what: reference rows missing")
    def copies(df: DataFrame): Map[Any, Long] =
      df.groupBy(col(rowId)).count().collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(copies(got) == copies(want), s"$what: per-row copy counts")
  }

  test("injectEveryK equals the self-union for k ∈ {1, 2, 3, 10} over 1, 3 and 4 partitions") {
    for (parts <- Seq(1, 3, 4); k <- Seq(1, 2, 3, 10)) {
      val gen = EventGenerator.generate(spark, 997L, seed = 5L, numPartitions = parts)
      val got = DuplicateInjector.injectEveryK(gen, col("row_id"), k)
      assertSameMultiset(got, unionReference(gen, pmod(col("row_id"), lit(k)) === 0),
        "row_id", s"k=$k parts=$parts")
      assert(got.count() == 997L + (997L + k - 1) / k, s"k=$k parts=$parts: n + ceil(n/k)")
    }
  }

  test("a null row id is emitted once, as the self-union's filter drops it") {
    val df = Seq[(Option[Long], String)](
      (Some(0L), "a"), (None, "b"), (Some(1L), "c"), (Some(2L), "d"), (None, "e"))
      .toDF("rid", "tag").repartition(2)
    for (k <- Seq(1, 2, 3, 10)) {
      val got = DuplicateInjector.injectEveryK(df, col("rid"), k)
      assertSameMultiset(got, unionReference(df, pmod(col("rid"), lit(k)) === 0),
        "tag", s"k=$k")
      assert(got.where(col("rid").isNull).count() == 2, s"k=$k: null ids once each")
    }
  }

  test("injectFirst equals the self-union on rowId < n, including n = 0 and n > rows") {
    for (parts <- Seq(1, 4); n <- Seq(0L, 1L, 90L, 500L, 600L)) {
      val gen = EventGenerator.generate(spark, 500L, seed = 9L, numPartitions = parts)
      val got = DuplicateInjector.injectFirst(gen, col("row_id"), n)
      assertSameMultiset(got, unionReference(gen, col("row_id") < n), "row_id",
        s"n=$n parts=$parts")
      assert(got.count() == 500L + math.min(n, 500L), s"n=$n parts=$parts")
    }
  }

  test("injectSampled: seeded, each row at most twice, the draw projected below the Generate") {
    val gen = EventGenerator.generate(spark, 5000L, seed = 2L)
    val a = DuplicateInjector.injectSampled(gen, 0.2, seed = 7L)
    val b = DuplicateInjector.injectSampled(gen, 0.2, seed = 7L)
    assert(a.columns.toSeq == gen.columns.toSeq, "no helper column leaks")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "same seed ⇒ same multiset")
    assert(a.distinct().exceptAll(gen).isEmpty && gen.exceptAll(a.distinct()).isEmpty,
      "every input row is emitted, and nothing else")
    val maxCopies = a.groupBy(col("row_id")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxCopies <= 2, "without replacement: at most one re-emission per row")
    val generates = a.queryExecution.executedPlan.collect { case g: GenerateExec => g }
    assert(generates.size == 1, "one expansion")
    assert(!generates.head.generator.exists(_.isInstanceOf[Nondeterministic]),
      "the Bernoulli draw must not sit inside the Generate")
  }
}
