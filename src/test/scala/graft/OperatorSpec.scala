package graft

import org.apache.spark.sql.functions._

import graft.config.FieldMapping
import graft.operators._

class OperatorSpec extends SparkSpecBase {

  test("EventGenerator is deterministic per (n, seed) and unique per row") {
    val a = EventGenerator.generate(spark, 500, seed = 7).collect().sortBy(_.getLong(5))
    val b = EventGenerator.generate(spark, 500, seed = 7, numPartitions = 3)
      .collect().sortBy(_.getLong(5))
    assert(a.toSeq == b.toSeq, "same seed ⇒ identical rows regardless of partitioning")
    val ids = a.map(_.getString(0))
    assert(ids.distinct.length == 500, "event_ids unique")
    assert(ids.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}")),
      "uuid4-shaped ids")
    val diff = EventGenerator.generate(spark, 500, seed = 8).collect().map(_.getString(0))
    assert(diff.toSet != ids.toSet, "different seed ⇒ different ids")
  }

  test("DuplicateInjector.injectEveryK emits exactly n + n/k rows, dedup restores n") {
    val gen = EventGenerator.generate(spark, 1000, seed = 42)
    val sent = DuplicateInjector.injectEveryK(gen, col("row_id"), 10)
    assert(sent.count() == 1100)
    val dedup = Dedup.keepFirst(sent, Seq("event_id"),
      to_timestamp(col("created_at")), col("row_id"))
    assert(dedup.count() == 1000, "reference oracle: added == total_generated")
  }

  test("injectSampled ratio is approximately honored") {
    val gen = EventGenerator.generate(spark, 10000, seed = 1)
    val sent = DuplicateInjector.injectSampled(gen, 0.1, seed = 99)
    val extra = sent.count() - 10000
    assert(extra > 700 && extra < 1300, s"~10% duplicates, got $extra")
  }

  test("Dedup.keepFirst keeps the earliest occurrence (first-wins)") {
    import spark.implicits._
    val df = Seq(
      ("k1", 10L, "first"), ("k1", 20L, "late-dup"),
      ("k2", 5L, "only"), ("k3", 9L, "first"), ("k3", 9L, "tie-b")
    ).toDF("key", "t", "tag")
    val out = Dedup.keepFirst(df, Seq("key"), col("t"), col("tag"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("k1" -> "first", "k2" -> "only", "k3" -> "first"),
      "earliest ts wins; ties broken deterministically by tiebreak column")
  }

  test("Dedup.tumbling drops in-window duplicates but re-admits after the window") {
    import spark.implicits._
    val w = 60000L // 1 min buckets
    val df = Seq(
      ("k", 1000L, "a"),     // bucket 0 — kept
      ("k", 2000L, "dup"),   // bucket 0 — dropped
      ("k", 61000L, "next"), // bucket 1 — kept (outside window ⇒ treated as new)
      ("x", 1500L, "x1")
    ).toDF("key", "ms", "tag").withColumn("ts", timestamp_millis(col("ms")))
    val kept = Dedup.tumbling(df, Seq("key"), col("ts"), w, col("tag"))
      .collect().map(_.getAs[String]("tag")).toSet
    assert(kept == Set("a", "next", "x1"))
  }

  test("MappingProjection renames and casts per the reference type lattice") {
    import spark.implicits._
    val df = Seq(("e1", "2024-01-01 10:30:00", "42")).toDF("event_id", "created_at", "v")
    val out = MappingProjection(df, Seq(
      FieldMapping("event_id", "event_uid", "uuid"),
      FieldMapping("created_at", "created_at", "datetime"),
      FieldMapping("v", "value", "long")))
    assert(out.columns.toSeq == Seq("event_uid", "created_at", "value"))
    val r = out.collect().head
    assert(r.getString(0) == "e1")
    assert(r.getTimestamp(1).toString == "2024-01-01 10:30:00.0")
    assert(r.getLong(2) == 42L)
    intercept[IllegalArgumentException] {
      MappingProjection(df, Seq(FieldMapping("v", "v", "geometry")))
    }
  }

  test("flagship entry: dedup'd sink projection has reference sink schema and rows") {
    val out = SparkEntry.entry(spark)
    assert(out.columns.toSeq ==
      Seq("event_id", "user_id", "created_at", "user_name", "user_email"))
    assert(out.count() == 1000, "1000 generated, 100 dupes injected, all dropped")
  }

  test("flagship entry equals the every-10th + global keep-first composition") {
    // which rows are re-emitted (every 10th vs the first 100), and whether
    // the keep-first is bucketed, must not change a single output row
    val sent = DuplicateInjector.injectEveryK(
      EventGenerator.generate(spark, 1000L, seed = 42L), col("row_id"), 10)
    val inlined = MappingProjection(Dedup.keepFirst(sent, Seq("event_id"),
      to_timestamp(col("created_at")), col("row_id")), FieldMapping.reference)
    val entry = SparkEntry.entry(spark)
    assert(entry.exceptAll(inlined).isEmpty && inlined.exceptAll(entry).isEmpty)
  }
}
