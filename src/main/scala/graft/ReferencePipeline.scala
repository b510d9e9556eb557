package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.operators.{Dedup, DuplicateInjector, EventGenerator, MappingProjection}

/** The reference pipeline, batch form — its one definition
  * (reference: config/glassflow/deduplication_pipeline.json:44-99):
  *
  *   S1 generate `unique` events → S2 re-emit the first `duplicates` →
  *   ST1 keep the first `id_field` within `time_window` → P1 typed mapping.
  *
  * Two named stages, so a caller can put a boundary between them (the test
  * executor's topic hop). Dedup restores the unique
  * set whichever rows were re-emitted: a copy carries its original's
  * `created_at`, so it always falls in its original's window bucket.
  */
object ReferencePipeline {

  /** S1 + S2: `unique` generated events (seed 42, `partitions` range
    * partitions, 0 = default parallelism) followed in-stage by copies of the
    * first `duplicates` — the reference arithmetic, sent = unique + duplicates.
    */
  def sent(spark: SparkSession, unique: Long, duplicates: Long,
           partitions: Int = 0): DataFrame =
    DuplicateInjector.injectFirst(
      EventGenerator.generate(spark, unique, seed = 42L, numPartitions = partitions),
      col("row_id"), duplicates)

  /** ST1 + P1: keep-first per `cfg.dedup.idField` within `cfg.dedup.timeWindow`
    * (skipped when the config disables dedup), then the sink mapping.
    */
  def transform(sent: DataFrame, cfg: PipelineConfig): DataFrame = {
    val deduped =
      if (cfg.dedup.enabled)
        Dedup.tumbling(sent, Seq(cfg.dedup.idField), to_timestamp(col("created_at")),
          cfg.dedup.timeWindow.millis, col("row_id"))
      else sent
    MappingProjection(deduped, cfg.sink.tableMapping)
  }

  /** The whole pipeline under the reference config: [[sent]] then [[transform]]. */
  def apply(spark: SparkSession, unique: Long, duplicates: Long): DataFrame =
    transform(sent(spark, unique, duplicates), PipelineConfig.reference)
}
