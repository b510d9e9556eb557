package graft

import graft.config.Json

/** StreamBench's table-driven runner: the op table, the unknown-op guard,
  * and the JSON line's key sequence per op. The expected sequences are the
  * ones each arm printed before the arms shared one runner; downstream
  * artifact readers key on them, so they may only change on purpose.
  */
class StreamBenchSpec extends SparkSpecBase {

  private val expectedKeys: Map[String, Seq[String]] = Seq(
    "dedup" -> "metric value unit rows elapsed_sec offered_rps state_store",
    "passthrough" -> ("metric value unit capacity_rps input_rows state_rows " +
      "state_bytes state_bytes_logical elapsed_sec offered_rps state_store"),
    "join" -> ("metric value unit capacity_rps matched state_rows avg_commit_ms " +
      "elapsed_sec offered_rps_per_side state_store"),
    "session" -> ("metric value unit capacity_rps input_rows closed_sessions " +
      "state_rows elapsed_sec offered_rps state_store"),
    "windowagg" -> ("metric value unit capacity_rps input_rows closed_windows " +
      "state_rows avg_commit_ms elapsed_sec offered_rps state_store"),
    "semdedup" -> ("metric value unit capacity_rps docs rejected state_rows " +
      "elapsed_sec offered_rps state_store"),
    "anomaly" -> ("metric value hot_key unit capacity_rps events flagged " +
      "state_rows elapsed_sec offered_rps state_store"),
    "bloom" -> ("metric value unit capacity_rps input_rows distinct_keys_offered " +
      "admitted state_rows state_bytes shards elapsed_sec offered_rps state_store"),
    "funnel" -> ("metric value hot_key mode unit funnel_events_sustained " +
      "capacity_rps input_rows transitions converted state_rows elapsed_sec " +
      "offered_rps state_store"),
    "strictfunnel" -> ("metric value hot_key unit capacity_rps input_rows " +
      "transitions converted state_rows state_bytes elapsed_sec offered_rps " +
      "state_store"),
    "retention" -> ("metric value hot_key unit mode capacity_rps input_rows " +
      "deltas cohort_joins state_rows state_bytes elapsed_sec offered_rps " +
      "state_store"),
    "dedupfunnel" -> ("metric value hot_key unit capacity_rps input_rows " +
      "transitions converted state_rows state_bytes elapsed_sec offered_rps " +
      "state_store"),
    "funnelorderch" -> ("metric value hot_key unit capacity_rps input_rows " +
      "transitions converted state_rows state_bytes elapsed_sec offered_rps " +
      "state_store"),
    "dedupfunnelch" -> ("metric value hot_key unit capacity_rps input_rows " +
      "resolutions completed state_rows state_bytes elapsed_sec offered_rps " +
      "state_store"),
    "seqcount" -> ("metric value unit capacity_rps input_rows matches " +
      "state_rows state_bytes elapsed_sec offered_rps state_store"),
    "seqmatch" -> ("metric value hot_key unit capacity_rps input_rows hits " +
      "state_rows state_bytes state_bytes_logical elapsed_sec offered_rps " +
      "state_store"),
    "seqnode" -> ("metric value unit hot_key capacity_rps input_rows " +
      "forward_nodes backward_nodes state_rows state_bytes state_bytes_logical " +
      "elapsed_sec offered_rps state_store"),
    "kmv" -> ("metric value hot_key unit capacity_rps input_rows worst_rel_err " +
      "state_rows state_bytes state_bytes_logical elapsed_sec offered_rps " +
      "state_store"),
    "quantile" -> ("metric value hot_key unit capacity_rps input_rows p50_range " +
      "p90_range p99_range state_rows state_bytes state_bytes_logical " +
      "elapsed_sec offered_rps state_store"),
    "topk" -> ("metric value hot_key unit capacity_rps events snapshot_rows " +
      "max_n_total tracked_distinct_items state_rows state_bytes elapsed_sec " +
      "offered_rps state_store"),
    "neardup" -> ("metric value unit capacity_rps docs rejected elapsed_sec " +
      "offered_rps state_store"),
    "neardup_nostate" -> ("metric value unit capacity_rps docs rejected " +
      "elapsed_sec offered_rps state_store")
  ).map { case (op, keys) => op -> keys.split(' ').toSeq }.toMap

  /** Keys of a flat JSON object line, in the order they appear. */
  private def keysOf(line: String): Seq[String] =
    "\"([a-z0-9_]+)\":".r.findAllMatchIn(line).map(_.group(1)).toSeq

  test("the op table holds exactly the 22 streaming arms") {
    assert(StreamBench.ops.size == 22)
    assert(StreamBench.ops.toSet == expectedKeys.keySet)
  }

  test("an unknown op throws before any run and names the valid ops") {
    val e = intercept[IllegalArgumentException](
      StreamBench.runOp(spark, "kvm", 1000L, 1, "hdfs"))
    assert(e.getMessage.contains("'kvm'"))
    StreamBench.ops.foreach(op => assert(e.getMessage.contains(op)))
  }

  // 10 s, not less: batch 0 reads no rows and carries the query's start-up
  // cost (~6 s for passthrough in a cold test JVM on 4 vCPUs), so a shorter
  // window can end before the first data batch completes
  for (op <- Seq("passthrough", "kmv"))
    test(s"$op through the runner prints its pinned JSON keys") {
      val line = StreamBench.runOp(spark, op, 2000L, 10, "hdfs")
      val parsed = Json.parse(line).asInstanceOf[Map[String, Any]]
      assert(keysOf(line) == expectedKeys(op), line)
      assert(parsed("input_rows").asInstanceOf[Number].longValue > 0, line)
      assert(parsed("state_store") == "hdfs")
      assert(parsed("offered_rps").asInstanceOf[Number].longValue == 2000L)
    }
}
