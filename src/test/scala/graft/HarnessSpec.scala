package graft

import graft.config.Uuid5
import graft.harness._
import graft.harness.GridGenerator.{ParamRange, ParamValues}

class HarnessSpec extends SparkSpecBase {

  test("uuid5 matches RFC-4122 reference vectors (Python uuid.uuid5)") {
    // vectors generated with CPython: uuid.uuid5(uuid.NAMESPACE_DNS, name)
    assert(Uuid5(Uuid5.NamespaceDns, "hello").toString ==
      "9342d47a-1bab-5709-9869-c840b2eac501")
    assert(Uuid5(Uuid5.NamespaceDns, "").toString ==
      "4ebd0208-8328-5d69-8c44-ec50939c0967")
    assert(Uuid5(Uuid5.NamespaceDns, "graft-spark-engine").toString ==
      "ebdb0a62-2691-5031-92c2-fe7542b0cccc")
  }

  test("canonical json matches Python json.dumps(sort_keys=True)") {
    val cfg = Map[String, Any](
      "num_processes" -> 2L, "total_records" -> 5000000L,
      "duplication_rate" -> 0.1, "deduplication_window" -> "8h",
      "max_batch_size" -> 5000L, "max_delay_time" -> "10s")
    assert(GridGenerator.canonicalJson(cfg) ==
      """{"deduplication_window": "8h", "duplication_rate": 0.1, """ +
        """"max_batch_size": 5000, "max_delay_time": "10s", """ +
        """"num_processes": 2, "total_records": 5000000}""")
    // uuid5 of that canonical string, cross-checked against CPython
    assert(GridGenerator.variantId(cfg) == "load_56f6c42a")
  }

  test("range expansion: inclusive, stepped, float-precision rounded") {
    assert(GridGenerator.rangeValues(ParamRange(2, 12, 2)) ==
      Seq(2L, 4L, 6L, 8L, 10L, 12L))
    assert(GridGenerator.rangeValues(ParamRange(BigDecimal("0.1"),
      BigDecimal("0.3"), BigDecimal("0.1"))) == Seq(0.1, 0.2, 0.3))
    assert(GridGenerator.rangeValues(ParamValues(Seq("8h", "1h"))) == Seq("8h", "1h"))
  }

  test("grid combinations × even sampling mirror the reference arithmetic") {
    val axes = Seq(
      "a" -> ParamRange(1, 3, 1),          // 3 values
      "b" -> ParamValues(Seq("x", "y")))   // 2 values
    val all = GridGenerator.combinations(axes)
    assert(all.size == 6)
    assert(all.head == Map("a" -> 1L, "b" -> "x"))
    // reference: step = len/k, idx = int(i*step) — for len 6 k 4: 0,1,3,4
    val sampled = GridGenerator.evenSample(all, 4)
    assert(sampled == Seq(all(0), all(1), all(3), all(4)))
    assert(GridGenerator.evenSample(all, -1) == all)
    assert(GridGenerator.evenSample(all, 10) == all)
  }

  test("results CSV: header-once append, validated read, resume ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_results").toString
    val io = new ResultsIO(s"$dir/t_results.csv")
    val r = TestResult("t", "load_abc12345", "2026-08-12T00:00:00", 1.23,
      2, 1000L, 0.1, "8h", 5000, "10s",
      resultTotalGenerated = Some(909L), resultSuccess = Some(true),
      resultGlassflowRps = Some(8700.0))
    io.writeResult(r)
    io.writeResult(r.copy(variantId = "load_def67890", resultSuccess = Some(false)))
    val back = io.readValidatedResults()
    assert(back.size == 2)
    assert(back.head.variantId == "load_abc12345")
    assert(back.head.resultTotalGenerated.contains(909L))
    assert(back.head.resultSuccess.contains(true))
    assert(back(1).resultSuccess.contains(false))
    assert(io.completedVariantIds() == Set("load_abc12345", "load_def67890"))
    // corrupt row is skipped, valid rows survive
    val w = new java.io.PrintWriter(new java.io.FileWriter(s"$dir/t_results.csv", true))
    w.println("garbage,row"); w.close()
    assert(io.readValidatedResults().size == 2)
  }

  test("executor: one variant end-to-end, exact-count oracle, resume skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_exec").toString
    val exec = new TestExecutor("t1", dir, spark)
    val cfg = Map[String, Any](
      "num_processes" -> 2L, "total_records" -> 11000L,
      "duplication_rate" -> 0.1, "deduplication_window" -> "8h",
      "max_batch_size" -> 5000L, "max_delay_time" -> "10s")
    val rs = exec.runTests(Seq(cfg), resume = true, sinkRoot = s"$dir/sink")
    assert(rs.size == 1)
    val r = rs.head
    // reference arithmetic: unique = 11000/(1.1) = 10000, dupes = 1000
    assert(r.resultTotalGenerated.contains(10000L))
    assert(r.resultTotalDuplicates.contains(1000L))
    assert(r.resultSuccess.contains(true), "added == unique (the count oracle)")
    assert(r.resultGlassflowRps.exists(_ > 0))
    // resume: second invocation skips the completed variant
    val again = exec.runTests(Seq(cfg), resume = true, sinkRoot = s"$dir/sink")
    assert(again.isEmpty)

    // O6 — result table mirrors the reference's display_results rows/rounding
    val table = graft.harness.Metrics.displayTable(r)
    assert(table.startsWith(s"Test Results [${r.testId}/${r.variantId}]"))
    for (label <- Seq("Status", "Duration", "Records Processed",
        "Source RPS in Kafka", "Average Latency", "Lag", "Engine RPS"))
      assert(table.contains(label), s"missing row: $label")
    assert(table.contains("Success"))
    assert(table.contains(f"${r.durationSec}%.2f seconds"))
  }

  test("executor: a config with dedup disabled sinks every sent row and fails the oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_exec_nodedup").toString
    val ref = graft.config.PipelineConfig.reference
    val noDedup = ref.copy(dedup = ref.dedup.copy(enabled = false))
    val exec = new TestExecutor("t2", dir, spark, Some(noDedup))
    val cfg = Map[String, Any](
      "num_processes" -> 2L, "total_records" -> 11000L,
      "duplication_rate" -> 0.1, "deduplication_window" -> "1h30m")
    val r = exec.runTests(Seq(cfg), resume = false, sinkRoot = s"$dir/sink").head
    assert(spark.read.parquet(s"$dir/sink/${r.variantId}").count() == 11000,
      "10000 unique + 1000 re-emitted, none dropped")
    assert(r.resultSuccess.contains(false), "added != unique (the count oracle)")
    // the results CSV keeps the variant's raw strings; absent axes read the config
    assert(r.paramDeduplicationWindow == "1h30m")
    assert(r.paramMaxBatchSize == 5000 && r.paramMaxDelayTime == "10s")
  }

  test("CLI parseArgs: bare flags don't shift the pairing of later args") {
    val got = Main.parseArgs(Seq("--test-id", "t1", "--no-resume",
      "--records", "5", "--explain", "--time", "7"))
    assert(got("test-id") == "t1")
    assert(got.contains("no-resume") && got("no-resume") == "")
    assert(got("records") == "5")
    assert(got.contains("explain"))
    assert(got("time") == "7")
    assert(Main.parseArgs(Seq("--time")) == Map("time" -> ""))
    assert(Main.parseArgs(Nil).isEmpty)
  }

  test("cluster profile: AQE-coalescible shuffle width, 128 MiB scan splits") {
    val c = GraftSession.clusterConfigs(totalCores = 16000)
    // 2x cores: AQE can only merge partitions, never split a straggler, so
    // the profile must start wide
    assert(c("spark.sql.shuffle.partitions").toInt == 32000)
    assert(c("spark.sql.files.maxPartitionBytes").toLong == 128L * 1024 * 1024)
    assert(c("spark.sql.adaptive.advisoryPartitionSizeInBytes").toLong ==
      64L * 1024 * 1024)
  }
}
