package graft

import org.apache.spark.sql.SparkSession

import graft.harness.{GridGenerator, ResultsIO, TestExecutor}
import graft.harness.GridGenerator.{ParamRange, ParamValues}

/** O5 — CLI entry point (reference: main.py:12-28 + results.py).
  *
  *   graft.Main run    --test-id T [--processes 2,4] --records 100000,200000
  *                     [--max-combinations K] [--no-resume]
  *                     [--results-dir results] [--sink-dir /tmp/graft_sink]
  *   graft.Main single --test-id T --records 100000 [--processes 4] ...
  *   graft.Main results --results-file results/T_results.csv
  *   graft.Main query  --name q01_pricing_summary --sf-dir /root/testdata/sf0.001
  *                     [--limit 20] (or --name list to enumerate)
  */
object Main {

  /** `--key value` pairs plus bare `--flag`s (mapped to ""), so boolean
    * flags (--no-resume) don't shift the pairing of whatever follows them.
    */
  private[graft] def parseArgs(args: Seq[String]): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          out(a.drop(2)) = args(i + 1); i += 2
        } else { out(a.drop(2)) = ""; i += 1 }
      } else i += 1
    }
    out.toMap
  }

  private def session(): SparkSession = GraftSession.local("graft-cli")

  /** Option value with absent, bare (`--records` with nothing after), and
    * empty all treated as "use the default" — a malformed numeric still
    * fails, but at parse time with the flag named, not as a raw
    * NumberFormatException after Spark startup.
    */
  private def strOpt(opts: Map[String, String], key: String, default: String): String =
    opts.get(key).filter(_.nonEmpty).getOrElse(default)

  private def intOpt(opts: Map[String, String], key: String, default: Int): Int =
    opts.get(key).filter(_.nonEmpty).map { v =>
      v.toIntOption.getOrElse(sys.error(s"--$key expects an integer, got '$v'"))
    }.getOrElse(default)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(parseArgs(args.toSeq.tail), single = false)
    case Some("single") => run(parseArgs(args.toSeq.tail), single = true)
    case Some("results") => results(parseArgs(args.toSeq.tail))
    case Some("query") => query(parseArgs(args.toSeq.tail))
    case _ =>
      System.err.println("usage: graft.Main run|single|results|query [options]")
      sys.exit(2)
  }

  /** Run any registered library query against a testdata directory and
    * show its rows — the CLI face of SparkEntry.queries (`graft.Explain`
    * times one and prints its plan).
    */
  private def query(opts: Map[String, String]): Unit = {
    val name = opts.getOrElse("name", "list")
    if (name == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(n => println(s"[query] $n"))
      return
    }
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — use --name list"))
    val dir = strOpt(opts, "sf-dir", "/root/testdata/sf0.001")
    val limit = intOpt(opts, "limit", 20)
    val spark = session()
    try {
      val df = fn(spark, dir)
      println(s"[query] $name rows=${df.count()}")
      df.show(limit, truncate = false)
    } finally spark.stop()
  }

  private def longs(s: String): Seq[Any] = s.split(",").toSeq.map(_.trim.toLong)

  private def run(opts: Map[String, String], single: Boolean): Unit = {
    val testId = opts.getOrElse("test-id", "local")
    val hasPipeCfg = opts.get("pipeline-config").exists(_.nonEmpty)
    // dedup/sink axes: explicit flag wins; otherwise a loaded pipeline
    // config supplies them (axis omitted → executor falls back to it);
    // otherwise the reference config's values
    val ref = graft.config.PipelineConfig.reference
    def optAxis(name: String, flag: String, default: String,
                mk: String => GridGenerator.ParamSpec): Seq[(String, GridGenerator.ParamSpec)] =
      opts.get(flag).filter(_.nonEmpty) match {
        case Some(v) => Seq(name -> mk(v))
        case None if hasPipeCfg => Seq.empty
        case None => Seq(name -> mk(default))
      }
    val axes: Seq[(String, GridGenerator.ParamSpec)] = Seq(
      "num_processes" -> ParamValues(longs(strOpt(opts, "processes", "2"))),
      "total_records" -> ParamValues(longs(strOpt(opts, "records", "100000"))),
      "duplication_rate" -> ParamValues(
        strOpt(opts, "dup-rate", "0.1").split(",").toSeq.map(_.trim.toDouble))) ++
      optAxis("deduplication_window", "dedup-window", ref.dedup.timeWindow.toString,
        v => ParamValues(v.split(",").toSeq.map(_.trim))) ++
      optAxis("max_batch_size", "batch-size", ref.sink.maxBatchSize.toString,
        v => ParamValues(longs(v))) ++
      optAxis("max_delay_time", "max-delay", ref.sink.maxDelayTime.toString,
        v => ParamValues(v.split(",").toSeq.map(_.trim)))
    val all = GridGenerator.combinations(axes)
    val variants =
      if (single) all.take(1)
      else GridGenerator.evenSample(all,
        intOpt(opts, "max-combinations", -1))
    println(s"[main] $testId: ${variants.size} variant(s)")
    val pipelineCfg = opts.get("pipeline-config").filter(_.nonEmpty).map { p =>
      graft.config.PipelineConfigJson.fromJson(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    }
    val spark = session()
    // SPARK_GRAFT_PROFILE=1: print whole-run task-metric totals (GC, shuffle,
    // spill) after the variants — the scale-curve diagnosis tool.
    val profiler =
      if (sys.env.get("SPARK_GRAFT_PROFILE").contains("1"))
        Some(graft.harness.Profiling.attach(spark))
      else None
    try {
      val exec = new TestExecutor(testId,
        opts.getOrElse("results-dir", "results"), spark, pipelineCfg)
      val rs = exec.runTests(variants,
        resume = !opts.contains("no-resume"),
        sinkRoot = opts.getOrElse("sink-dir", "/tmp/graft_sink"))
      profiler.foreach(p => System.err.println(s"[profile] ${p.report}"))
      rs.foreach(r => println(
        s"[main] ${r.variantId} success=${r.resultSuccess.getOrElse(false)} " +
          s"rps=${r.resultGlassflowRps.getOrElse(0.0)}"))
      // O6 — the reference prints its rich result table per variant
      rs.foreach(r => println(graft.harness.Metrics.displayTable(r)))
      if (rs.exists(_.resultSuccess.contains(false))) sys.exit(1)
    } finally spark.stop()
  }

  private def results(opts: Map[String, String]): Unit = {
    val path = opts.getOrElse("results-file",
      sys.error("--results-file required"))
    val rs = new ResultsIO(path).readValidatedResults()
    println(s"[results] ${rs.size} validated row(s) from $path")
    rs.foreach { r =>
      println(f"  ${r.variantId}  records=${r.paramTotalRecords}%,d " +
        f"processes=${r.paramNumProcesses} success=${r.resultSuccess.getOrElse(false)} " +
        f"duration=${r.durationSec}%.2fs rps=${r.resultGlassflowRps.getOrElse(0.0)}%.0f")
    }
  }
}
