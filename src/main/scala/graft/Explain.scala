package graft

import org.apache.spark.sql.execution.FormattedMode

import graft.harness.Profiling

/** Per-query diagnosis: run registered queries N times each and report, per
  * run, the build / plan / exec split and the [[Profiling]] job, stage and
  * task-metric totals — the numbers that separate "the plan computes too
  * much" (task time ≈ wall × cores) from "the plan has too many
  * synchronization points" (job count high, task time ≪ wall). The bench
  * sweep's per-query medians say WHICH query is slow; this says WHY.
  *
  * The session caches are the ones the bench sweep uses, so it explains the
  * plans the sweep executes. Run 1 carries planning and codegen compile;
  * later runs are warm. Exec runs the forced executed plan over every
  * output column and counts rows on the executors; materialized blocks are
  * dropped after each run (the parquet session caches survive).
  *
  * usage: runMain graft.Explain <name[,name...]|all> [sfDir] [runs] [--plan]
  * (`--plan` prints the last run's formatted plan, AQE-final).
  */
object Explain {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Explain <name[,name...]|all> [sfDir] [runs] [--plan]")
      sys.exit(2)
    }
    val names =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.filterNot(SparkEntry.queries.contains).foreach { n =>
      System.err.println(s"unknown query: $n"); sys.exit(2)
    }
    val sfDir = args.lift(1).filterNot(_.startsWith("--"))
      .getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).filterNot(_.startsWith("--")).map(_.toInt).getOrElse(3)
    val showPlan = args.contains("--plan")
    val spark = GraftSession.local("graft-explain")
    val prof = Profiling.attach(spark)
    // same JVM warm-up the bench applies, so run 1 ≈ the bench's cold run
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    def sec(from: Long, to: Long): Double = (to - from) / 1e9
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try (1 to runs).foreach { i =>
        prof.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        println(f"[explain] $name run $i: build=${sec(t0, t1)}%.3fs " +
          f"plan=${sec(t1, t2)}%.3fs exec=${sec(t2, t3)}%.3fs rows=$n ${prof.report}")
        if (showPlan && i == runs)
          println(df.queryExecution.explainString(FormattedMode))
      } catch {
        case e: Exception =>
          println(s"[explain] $name FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
