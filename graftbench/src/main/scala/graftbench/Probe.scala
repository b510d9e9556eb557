package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters a layer leaves behind, summed over every job the session ran. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, taskMs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, bytesWritten: Long,
    exchanges: Long, rangeRows: Long) {
  private def zip(o: Counters)(f: (Long, Long) => Long): Counters = Counters(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(taskMs, o.taskMs),
    f(gcMs, o.gcMs), f(shuffleBytes, o.shuffleBytes), f(spillBytes, o.spillBytes),
    f(bytesWritten, o.bytesWritten), f(exchanges, o.exchanges), f(rangeRows, o.rangeRows))
  def +(o: Counters): Counters = zip(o)(_ + _)
  def -(o: Counters): Counters = zip(o)(_ - _)
}

/** One timed call into a layer. `parent` is the id of the span that caused
  * it (0 for a root); spans of one operation share that root.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** The benchmark's probes. Timings of end-to-end operations are always
  * taken; with `tracing` on, every call into a layer is also recorded as a
  * span and the Spark listeners count jobs, stages, tasks, shuffle, spill,
  * output bytes, Exchange operators and generated Range rows. Spans stay
  * in memory until [[writeSpans]].
  */
final class Probe(val tracing: Boolean) {

  private val spans = ArrayBuffer.empty[Span]
  private val plans = ArrayBuffer.empty[(String, String)]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  private val jobs, stages, tasks, taskMs, gcMs, shuffleBytes, spillBytes,
    bytesWritten, exchanges, rangeRows = new AtomicLong

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      count(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: Exchange => e }.size
    def rangeRows(p: SparkPlan): Long = collectWithSubqueries(p) {
      case r: RangeExec => r.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  private def count(plan: SparkPlan): Unit = {
    exchanges.addAndGet(Plans.exchanges(plan))
    rangeRows.addAndGet(Plans.rangeRows(plan))
    ()
  }

  def attach(spark: SparkSession): Unit = if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = if (tracing) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** The counters so far, after the listener bus has delivered every event. */
  def counters(spark: SparkSession): Counters = {
    if (tracing) BusBridge.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
      shuffleBytes.get, spillBytes.get, bytesWritten.get, exchanges.get, rangeRows.get)
  }

  /** Run `f` as a span named `name` (recorded only when tracing) and return
    * its result with its wall time in seconds.
    */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val id = nextId.getAndIncrement()
    val stack = open.get
    open.set(id :: stack)
    val t0 = System.nanoTime()
    val r = try f finally open.set(stack)
    val t1 = System.nanoTime()
    if (tracing) spans.synchronized { spans += Span(id, stack.headOption.getOrElse(0), name, t0, t1) }
    (r, (t1 - t0) / 1e9)
  }

  /** Keep `plan` as executed (an adaptive plan shows its final form), to be
    * written with the spans.
    */
  def recordPlan(name: String, plan: SparkPlan): Unit = if (tracing) {
    plans.synchronized { plans += name -> plan.treeString }
    ()
  }

  /** Write the recorded plans, each under a `== name ==` heading. */
  def writePlans(path: java.nio.file.Path): Unit = if (tracing) {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val text = plans.synchronized(plans.toList).map { case (n, t) => s"== $n ==\n$t" }.mkString("\n")
    java.nio.file.Files.write(path, text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Write the recorded spans as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = if (tracing) {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val lines = spans.synchronized(spans.toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}
