package graftbench

/** The metric names and units every run reports, in output order. */
object Metrics {

  /** Reported with tracing off, by every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "1/s",
    "latency_ms" -> "ms")

  /** Reported with tracing on, by every workload; a layer the workload
    * leaves idle reports 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "trace.items_per_s" -> "1/s",
    "trace.latency_ms" -> "ms",
    "heap.peak_mb" -> "MB",
    // operators + sources, on pipeline_batch
    "generate.s" -> "s",
    "inject.s" -> "s",
    "dedup.s" -> "s",
    "project.s" -> "s",
    "sink.s" -> "s",
    "generate.range_rows_per_sent" -> "ratio",
    "dedup.shuffle_bytes_per_row" -> "bytes/row",
    "dedup.spill_bytes" -> "bytes",
    "dedup.keep_ratio" -> "ratio",
    "sink.bytes_written" -> "bytes",
    "sink.files" -> "count",
    "pipeline.task_s" -> "s",
    "pipeline.gc_s" -> "s",
    "pipeline.cpu_busy_ratio" -> "ratio",
    "pipeline.jobs" -> "count",
    "pipeline.stages" -> "count",
    // queries, on query_sweep
    "queries.pass_s" -> "s",
    "queries.build_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s") ++
    Sweep.packs.map { case (p, _) => s"queries.$p.s" -> "s" } ++ Seq(
    "queries.latency_ms_tail" -> "ms",
    "queries.latency_tail_pct" -> "percentile",
    "queries.samples" -> "count",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.exchanges" -> "count",
    "queries.shuffle_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "queries.task_s" -> "s",
    "queries.gc_s" -> "s",
    // streaming + state store + sink epochs, on stream_dedup
    "stream.latency_ms_tail" -> "ms",
    "stream.latency_tail_pct" -> "percentile",
    "stream.samples" -> "count",
    "stream.batches" -> "count",
    "stream.batch_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms",
    "stream.commit_offsets_ms_p50" -> "ms",
    "stream.planning_ms_p50" -> "ms",
    "stream.backlog_rows" -> "count",
    "dedup_state.rows" -> "count",
    "dedup_state.bytes" -> "bytes",
    "dedup_state.commit_ms_p50" -> "ms",
    "dedup_state.update_ms_p50" -> "ms",
    "dedup_state.drop_ratio" -> "ratio",
    "sink.epoch_write_ms_p50" -> "ms")
}
