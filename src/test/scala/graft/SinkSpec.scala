package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.config.FieldMapping
import graft.operators.{Dedup, DuplicateInjector, EventGenerator, MappingProjection}
import graft.sources.IdempotentParquetSink

class SinkSpec extends SparkSpecBase {
  import spark.implicits._

  test("idempotent sink: a replayed batchId writes nothing (exactly-once counts)") {
    val root = java.nio.file.Files.createTempDirectory("graft_idem").toString
    val sink = new IdempotentParquetSink(root)
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b1 = Seq((3L, "c")).toDF("id", "v")
    assert(sink.writeBatch(b0, 0L))
    assert(sink.writeBatch(b1, 1L))
    assert(!sink.writeBatch(b0, 0L), "replay of batch 0 must be dropped")
    assert(!sink.writeBatch(b0.unionAll(b0), 1L), "replay with different data too")
    val back = sink.read(spark)
    assert(back.count() == 3, "no duplicates after replays")
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("keepFirstSalted equals keepFirst exactly (two-phase min_by)") {
    // skewed input: one hot key with many rows + a long tail
    val gen = EventGenerator.generate(spark, 2000L, seed = 3L)
      .withColumn("k", when(col("row_id") < 1500, lit("HOT"))
        .otherwise(col("event_id")))
    val sent = DuplicateInjector.injectEveryK(gen, col("row_id"), 3)
    val plain = Dedup.keepFirst(sent, Seq("k"),
      to_timestamp(col("created_at")), col("row_id"))
    val salted = Dedup.keepFirstSalted(sent, Seq("k"),
      to_timestamp(col("created_at")), col("row_id"), saltBuckets = 8)
    val a = plain.collect().map(_.toSeq).toSet
    val b = salted.collect().map(_.toSeq).toSet
    assert(a == b, "salting must not change results, only the shuffle shape")
    assert(salted.filter(col("k") === "HOT").count() == 1)
  }

  test("sink encoding: unique columns write no dictionary page, user_name keeps one") {
    val sent = DuplicateInjector.injectEveryK(EventGenerator.generate(spark, 200000L, seed = 4L),
      col("row_id"), 10)
    val deduped = Dedup.tumbling(sent, Seq("event_id"), to_timestamp(col("created_at")),
      8L * 3600 * 1000, col("row_id"))
    val projected = MappingProjection(deduped, Seq(
      FieldMapping("event_id", "event_id", "uuid"),
      FieldMapping("user_id", "user_id", "uuid"),
      FieldMapping("created_at", "created_at", "datetime"),
      FieldMapping("name", "user_name", "string"),
      FieldMapping("email", "user_email", "string")))
    val root = java.nio.file.Files.createTempDirectory("graft_enc").toString
    val sink = new IdempotentParquetSink(root)
    assert(sink.writeBatch(projected, 0L))

    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(root, "epoch=0")
    val files = dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    // per column: whether each of its chunks, over every file, has a dictionary page
    val dictionaryPages = files.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage)
      finally reader.close()
    }.groupMap(_._1)(_._2)
    for (c <- Seq("event_id", "user_id", "user_email", "created_at"))
      assert(!dictionaryPages(c).exists(identity), s"$c is unique: no dictionary page")
    assert(dictionaryPages("user_name").forall(identity), "256 names fit the dictionary")

    val back = sink.read(spark).drop("epoch")
    assert(back.exceptAll(projected).isEmpty && projected.exceptAll(back).isEmpty,
      "the read-back equals the written rows")
  }
}
