package graft.harness

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{Duration, FieldMapping}
import graft.operators.{Dedup, DuplicateInjector, EventGenerator, MappingProjection}

/** O2/O4 — the variant loop: resume anti-join, per-variant pipeline run,
  * metric derivation, CSV append (reference: src/test_executor.py:35-107,
  * src/pipeline_test.py:47-113).
  *
  * The Spark engine replaces every external boundary of the reference run
  * (multiprocessing pool → executor partitions; Kafka+GlassFlow+ClickHouse →
  * the in-engine dedup pipeline and a parquet sink), so one variant is:
  *   generate `unique` events across `num_processes` partitions →
  *   re-emit `duplicates` of them → keep-first dedup → mapping projection →
  *   sink → exact-count oracle (added == unique, the reference's success
  *   criterion src/pipeline_test.py:21-23).
  */
final class TestExecutor(testId: String, resultsDir: String,
                         spark: SparkSession,
                         pipelineConfig: Option[graft.config.PipelineConfig] = None) {

  private val resultsPath = s"$resultsDir/${testId}_results.csv"
  val resultsIO = new ResultsIO(resultsPath)

  /** Sink mapping: from the loaded pipeline config when given (S14 → P1
    * integration), else the reference's shipped mapping
    * (config/glassflow/deduplication_pipeline.json:68-99).
    */
  private val sinkMapping = pipelineConfig.map(_.sink.tableMapping).getOrElse(Seq(
    FieldMapping("event_id", "event_id", "uuid"),
    FieldMapping("user_id", "user_id", "uuid"),
    FieldMapping("created_at", "created_at", "datetime"),
    FieldMapping("name", "user_name", "string"),
    FieldMapping("email", "user_email", "string")))

  /** Run all variants with resume (reference: run_tests loop,
    * src/test_executor.py:86-107). Returns the results of this session.
    */
  def runTests(variants: Seq[Map[String, Any]], resume: Boolean,
               sinkRoot: String): Seq[TestResult] = {
    val completed = if (resume) resultsIO.completedVariantIds() else Set.empty[String]
    variants.zipWithIndex.flatMap { case (cfg, i) =>
      val vid = GridGenerator.variantId(cfg)
      if (completed.contains(vid)) {
        println(s"[executor] ${i + 1}/${variants.size} $vid skipped (resume)")
        None
      } else {
        println(s"[executor] ${i + 1}/${variants.size} $vid running")
        val r = runVariant(vid, cfg, s"$sinkRoot/$vid")
        resultsIO.writeResult(r)
        Some(r)
      }
    }
  }

  /** One variant end-to-end (reference: run_variant,
    * src/pipeline_test.py:47-113).
    */
  def runVariant(variantId: String, cfg: Map[String, Any],
                 sinkDir: String): TestResult = {
    val numProcesses = cfg.getOrElse("num_processes", 1).toString.toDouble.toInt
    val totalRecords = cfg.getOrElse("total_records", 0L).toString.toDouble.toLong
    val dupRate = cfg.getOrElse("duplication_rate", 0.1).toString.toDouble
    // swept variant values override; the loaded pipeline config (if any)
    // supplies defaults (reference: src/pre_process.py:17-35 point-updates)
    val dedupWindow = cfg.getOrElse("deduplication_window",
      pipelineConfig.map(_.dedup.timeWindow.toString).getOrElse("8h")).toString
    val maxBatchSize = cfg.getOrElse("max_batch_size",
      pipelineConfig.map(_.sink.maxBatchSize).getOrElse(5000)).toString.toDouble.toInt
    val maxDelayTime = cfg.getOrElse("max_delay_time",
      pipelineConfig.map(_.sink.maxDelayTime.toString).getOrElse("10s")).toString

    val unique = Metrics.uniqueOf(totalRecords, dupRate)
    val duplicates = Metrics.duplicatesOf(totalRecords, dupRate)

    val t0 = System.nanoTime()

    // "Publish": generate unique events across numProcesses partitions (the
    // executor-parallel replacement for the reference's process pool,
    // src/utils/publish.py:19-59) and re-emit the first `duplicates` rows —
    // exact reference arithmetic: sent = unique + duplicates.
    val gen = EventGenerator.generate(spark, unique, seed = 42L,
      numPartitions = numProcesses)
    val sent = DuplicateInjector.injectFirst(gen, col("row_id"), duplicates)

    // The topic boundary: publish parallelism (num_processes, the
    // reference's producer-pool size) must not leak into the engine — in
    // the reference the Kafka topic re-partitions between producers and the
    // dedup engine (src/utils/kafka.py topic partitions), and without this
    // hop the dedup's map-side partial step runs INSIDE the
    // num_processes-partition generation stage: at 100M records that is two
    // tasks each cutting ~23M keys (measured on the earlier min_by
    // aggregate plan: 3 of 32 cores busy, 55 GiB RSS, rps halved vs
    // 20M — the scale cliff). Partitioning BY THE DEDUP KEY keeps total
    // shuffles at one: the keep-first window over (event_id, bucket)
    // downstream is satisfied by hashpartitioning(event_id) and adds no
    // second exchange.
    val topic = sent.repartition(spark.sparkContext.defaultParallelism,
      col("event_id"))

    // The engine: windowed keep-first dedup + sink projection.
    val deduped = Dedup.tumbling(topic, Seq("event_id"),
      to_timestamp(col("created_at")), Duration.parse(dedupWindow).millis,
      col("row_id"))
    val projected = MappingProjection(deduped, sinkMapping)

    val publishEndNs = System.nanoTime() // plan built; real work happens in the sink write
    projected.write.mode("overwrite").parquet(sinkDir)
    val writeEndNs = System.nanoTime()

    // Count-convergence oracle (batch: one exact count).
    val pollStartNs = System.nanoTime()
    val added = spark.read.parquet(sinkDir).count()
    val pollEndNs = System.nanoTime()

    val success = added == unique
    val timeTakenMs = (pollEndNs - t0) / 1e6
    val publishMs = math.max((writeEndNs - t0) / 1e6, 1.0)

    TestResult(
      testId = testId,
      variantId = variantId,
      timestamp = LocalDateTime.now().toString,
      durationSec = math.round((pollEndNs - t0) / 1e7) / 100.0,
      paramNumProcesses = numProcesses,
      paramTotalRecords = totalRecords,
      paramDuplicationRate = dupRate,
      paramDeduplicationWindow = dedupWindow,
      paramMaxBatchSize = maxBatchSize,
      paramMaxDelayTime = maxDelayTime,
      resultTotalGenerated = Some(unique),
      resultTotalDuplicates = Some(duplicates),
      resultNumRecords = Some(totalRecords),
      resultNumProcesses = Some(numProcesses),
      resultTimeTakenPublishMs = Some(math.round(publishMs).toDouble),
      resultKafkaIngestionRps = Some(Metrics.kafkaIngestionRps(totalRecords, publishMs)),
      resultSuccess = Some(success),
      resultTimeTakenMs = Some(math.round(timeTakenMs).toDouble),
      resultAvgLatencyMs = Some(Metrics.avgLatencyMs(timeTakenMs, totalRecords)),
      resultLagMs = Some(math.round((pollEndNs - pollStartNs) / 1e6).toDouble),
      resultGlassflowRps = Some(Metrics.engineRps(totalRecords, timeTakenMs)))
  }
}
