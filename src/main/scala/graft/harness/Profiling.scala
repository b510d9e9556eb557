package graft.harness

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Whole-run job, stage and task-metric totals, for locating where a
  * scale-up's time goes (GC? shuffle? spill?). Attach with [[Profiling.attach]]; read a snapshot
  * line with [[Profiling.report]]. Counters are LongAdders, so the listener
  * adds no contention to the task-end path.
  */
final class Profiling extends SparkListener {
  val jobs             = new LongAdder
  val stages           = new LongAdder
  val taskTimeMs       = new LongAdder
  val gcTimeMs         = new LongAdder
  val shuffleWriteB    = new LongAdder
  val shuffleReadB     = new LongAdder
  val memSpillB        = new LongAdder
  val diskSpillB       = new LongAdder
  val inputB           = new LongAdder
  val outputB          = new LongAdder

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      taskTimeMs.add(m.executorRunTime)
      gcTimeMs.add(m.jvmGCTime)
      shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
      memSpillB.add(m.memoryBytesSpilled)
      diskSpillB.add(m.diskBytesSpilled)
      inputB.add(m.inputMetrics.bytesRead)
      outputB.add(m.outputMetrics.bytesWritten)
    }
  }

  private def gibStr(b: Long): String = f"${b / 1073741824.0}%.2f"

  def report: String =
    s"jobs=${jobs.sum} stages=${stages.sum} " +
      s"taskTimeSec=${taskTimeMs.sum / 1000} gcSec=${gcTimeMs.sum / 1000} " +
      s"shufWriteGiB=${gibStr(shuffleWriteB.sum)} " +
      s"shufReadGiB=${gibStr(shuffleReadB.sum)} " +
      s"memSpillGiB=${gibStr(memSpillB.sum)} " +
      s"diskSpillGiB=${gibStr(diskSpillB.sum)} " +
      s"inputGiB=${gibStr(inputB.sum)} outputGiB=${gibStr(outputB.sum)}"

  def reset(): Unit = Seq(jobs, stages, taskTimeMs, gcTimeMs, shuffleWriteB,
    shuffleReadB, memSpillB, diskSpillB, inputB, outputB).foreach(_.reset())
}

object Profiling {
  /** Attach a fresh profiler to the session's listener bus. */
  def attach(spark: SparkSession): Profiling = {
    val p = new Profiling
    spark.sparkContext.addSparkListener(p)
    p
  }
}
