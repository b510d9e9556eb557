package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{Duration, FieldMapping}
import graft.operators.{Dedup, DuplicateInjector, EventGenerator, MappingProjection}
import graft.sources.IdempotentParquetSink

/** The reference pipeline as a batch: generate `Unique` events from the
  * seed, re-emit every tenth (uniform keys, 10% duplicates), keep the first
  * occurrence per `event_id` in an 8 h tumbling window, project the
  * five-column reference mapping and write every column to parquet through
  * `IdempotentParquetSink`, one epoch per execution.
  *
  * Each execution counts as one operation. After the window every epoch is
  * read back and must hold exactly `Unique` rows, no repeated `event_id`,
  * and the fingerprint of the projected unique generated rows.
  *
  * Traced, each round first materializes the stage prefixes to the `noop`
  * sink (generate, +inject, +dedup, +project); a stage's time is the
  * difference of consecutive prefix medians, the sink's the full execution
  * minus the projected prefix.
  */
final class PipelineBatch(a: Args) extends Workload {

  import PipelineBatch._

  private val root = a.work.resolve("pipeline_sink").toString

  /** [[WarmExecutions]] full-size executions into a sink that is then
    * dropped: the first executions in a JVM pay for code generation and JIT
    * compilation, and execution times settle only after a few.
    */
  def prepare(spark: SparkSession): Unit = {
    val warmRoot = a.work.resolve("pipeline_warm").toString
    val sink = new IdempotentParquetSink(warmRoot)
    (0 until WarmExecutions).foreach { e =>
      val t0 = System.nanoTime()
      sink.writeBatch(stages(spark, Unique, a.seed).last, e)
      System.err.println(f"[graftbench] warm execution $e: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(warmRoot))
  }

  def run(spark: SparkSession, probe: Probe, out: Outcome): Unit = {
    val sink = new IdempotentParquetSink(root)
    val execs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val committed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val prefixes = Array.fill(4)(scala.collection.mutable.ArrayBuffer.empty[Double])
    var counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    val end = System.nanoTime() + a.seconds * 1000000000L
    var epoch = 0L
    while (epoch < MinExecutions || System.nanoTime() < end) {
      val st = stages(spark, Unique, a.seed)
      if (probe.tracing) StageNames.zip(st).zipWithIndex.foreach { case ((n, df), i) =>
        prefixes(i) += probe.timed(s"pipeline.prefix.$n") {
          df.write.format("noop").mode("overwrite").save()
        }._2
      }
      val before = probe.counters(spark)
      val (wrote, secs) = probe.timed("pipeline.execution") {
        Capped(spark, CapSeconds)(sink.writeBatch(st.last, epoch))
      }
      counters = counters + (probe.counters(spark) - before)
      wrote match {
        case Right(true) => execs += secs; committed += epoch
          System.err.println(f"[graftbench] execution $epoch: $secs%.2f s")
        case Right(false) => out.op(ok = false, s"pipeline execution $epoch: epoch already committed")
        case Left(why) => out.op(ok = false, s"pipeline execution $epoch: $why")
      }
      epoch += 1
    }

    // one pass over every committed epoch: its digest and distinct ids
    val expected = Fingerprint.of(MappingProjection(EventGenerator.generate(spark, Unique, a.seed),
      ReferenceMapping))
    val sunk = spark.read.option("basePath", root)
      .parquet(committed.map(e => s"$root/epoch=$e").toSeq: _*)
    val aggs = Fingerprint.aggregates(sunk.columns.filterNot(_ == "epoch").toSeq) :+
      countDistinct(col("event_id"))
    val found = sunk.groupBy("epoch").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getAs[Number](0).longValue -> (Fingerprint.read(r, 1), r.getLong(4))).toMap
    val written = committed.toSeq.map { e =>
      val (digest, distinct) = found.getOrElse(e, (Fingerprint.Digest(0L, 0L), 0L))
      out.op(digest.rows == Unique && distinct == Unique && digest == expected,
        s"pipeline epoch $e: rows ${digest.rows}, distinct ids $distinct, " +
          s"digest ${digest.hex} (expected $Unique rows, ${expected.hex})")
      digest.rows
    }

    val med = Stats.median(execs.toSeq)
    val perExec = 1.0 / execs.size
    if (!probe.tracing) {
      out.put("items_per_s", Sent / med, "1/s")
      out.put("latency_ms", med * 1000, "ms")
    } else {
      val pm = prefixes.map(p => Stats.median(p.toSeq))
      out.put("trace.items_per_s", Sent / med, "1/s")
      out.put("trace.latency_ms", med * 1000, "ms")
      out.put("generate.s", pm(0), "s")
      out.put("inject.s", pm(1) - pm(0), "s")
      out.put("dedup.s", pm(2) - pm(1), "s")
      out.put("project.s", pm(3) - pm(2), "s")
      out.put("sink.s", med - pm(3), "s")
      out.put("generate.range_rows_per_sent", counters.rangeRows * perExec / Sent, "ratio")
      out.put("dedup.shuffle_bytes_per_row", counters.shuffleBytes * perExec / Sent, "bytes/row")
      out.put("dedup.spill_bytes", counters.spillBytes * perExec, "bytes")
      out.put("dedup.keep_ratio", written.sum.toDouble / (written.size * Sent), "ratio")
      out.put("sink.bytes_written", counters.bytesWritten * perExec, "bytes")
      out.put("sink.files", Dirs.partFiles(s"$root/epoch=${committed.head}").toDouble, "count")
      out.put("pipeline.task_s", counters.taskMs * perExec / 1000, "s")
      out.put("pipeline.gc_s", counters.gcMs * perExec / 1000, "s")
      out.put("pipeline.cpu_busy_ratio",
        counters.taskMs / 1000.0 / (execs.sum * spark.sparkContext.defaultParallelism), "ratio")
      out.put("pipeline.jobs", counters.jobs * perExec, "count")
      out.put("pipeline.stages", counters.stages * perExec, "count")
    }
  }
}

object PipelineBatch {

  /** Unique events per execution; every tenth is re-emitted once more. */
  val Unique = 200000L
  val Sent: Long = Unique + (Unique + 9) / 10

  val WarmExecutions = 2
  val MinExecutions = 3
  val CapSeconds = 120.0

  val ReferenceMapping: Seq[FieldMapping] = Seq(
    FieldMapping("event_id", "event_id", "uuid"),
    FieldMapping("user_id", "user_id", "uuid"),
    FieldMapping("created_at", "created_at", "datetime"),
    FieldMapping("name", "user_name", "string"),
    FieldMapping("email", "user_email", "string"))

  val StageNames = Seq("generate", "inject", "dedup", "project")

  /** The four stage prefixes, each built on the one before. */
  def stages(spark: SparkSession, unique: Long, seed: Long): Seq[DataFrame] = {
    val generated = EventGenerator.generate(spark, unique, seed)
    val injected = DuplicateInjector.injectEveryK(generated, col("row_id"), 10)
    val deduped = Dedup.tumbling(injected, Seq("event_id"), to_timestamp(col("created_at")),
      Duration.parse("8h").millis, col("row_id"))
    Seq(generated, injected, deduped, MappingProjection(deduped, ReferenceMapping))
  }
}
