package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** ST5 — effective exactly-once for foreachBatch file sinks.
  *
  * foreachBatch is at-least-once: after a failure, the restarted query
  * re-runs the last uncommitted micro-batch, and a plain `append` would
  * duplicate rows — which the count-equality oracle forbids (reference
  * success criterion: added == total_generated, src/pipeline_test.py:21-23;
  * the reference delegates this to its engine, SURVEY.md §7.4).
  *
  * Scheme: one directory per epoch (`epoch=<batchId>/`), written to a temp
  * path and atomically renamed into place; a replayed batchId finds the
  * final directory and skips. The same batchId-keyed pattern applies to the
  * JDBC sink via a `(table, batchId)` bookkeeping row — see ClickHouseSink.
  *
  * Encoding: batches are written with a 16 KiB dictionary page cap
  * (`parquet.dictionary.page.size`, 1 MiB by default). Parquet builds a
  * dictionary for every column and falls back to plain encoding only once
  * the dictionary outgrows that cap. On the reference mapping the unique
  * columns (`event_id`, `user_id`, `user_email`) hashed up to 1 MiB of values
  * into dictionaries they then dropped, and `created_at` kept a per-file
  * dictionary larger than its plain pages. With the small cap unique columns
  * fall back after 16 KiB of values (about 400 uuids), while columns whose
  * distinct values fit (`user_name`, 256 values) keep their dictionary.
  */
final class IdempotentParquetSink(root: String) extends Serializable {

  /** Write one micro-batch; returns false when the batch was already
    * committed (replay) and nothing was written.
    */
  def writeBatch(batch: DataFrame, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val finalDir = new Path(root, s"epoch=$batchId")
    if (fs.exists(finalDir)) return false // replayed batch — drop it
    val tmpDir = new Path(root, s".epoch-$batchId.tmp")
    if (fs.exists(tmpDir)) fs.delete(tmpDir, true) // stale half-written attempt
    batch.write.mode("overwrite")
      .option("parquet.dictionary.page.size", 16L * 1024) // see "Encoding" above
      .parquet(tmpDir.toString)
    if (!fs.rename(tmpDir, finalDir)) // lost a race: someone else committed
      { fs.delete(tmpDir, true); return false }
    true
  }

  /** Read back everything committed so far (epoch dirs only). */
  def read(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.option("basePath", root).parquet(s"$root/epoch=*")
}
