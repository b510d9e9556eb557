package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command line of one benchmark run. */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, data: Path, expected: Path, out: Path)

/** What a run reports: operations attempted and failed, and its metrics
  * in the order they were added.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation; a failed one is also reported on stderr. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] FAILED $what") }
  }

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $ms}"""
  }
}

/** A workload: how to set up a fresh session, then what to run in the
  * measured window. `run` fills the outcome with the workload's own
  * numbers; [[BenchMain]] adds set-up time and heap.
  */
trait Workload {
  /** Set-up on the new session: warm-up query, tables, caches. */
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession, probe: Probe, out: Outcome): Unit
}

/** Entry point: `BenchMain --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> --expected <file> --out <file>`.
  *
  * `setup_s` runs from JVM start to the end of the workload's set-up: the
  * session build and everything `prepare` does before the first timed
  * operation. Set-up runs once, because only the first session in a JVM
  * pays for class loading and a cold start. With `--trace 0` the result
  * carries the end-to-end metrics, with `--trace 1` the per-layer ones;
  * the result goes to `--out` as one JSON object.
  */
object BenchMain {

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace,
      Paths.get(get("work")), Paths.get(get("data")), Paths.get(get("expected")),
      Paths.get(get("out")))
  }

  def workload(a: Args): Workload = a.workload match {
    case "pipeline_batch" => new PipelineBatch(a)
    case "query_sweep" => new QuerySweep(a)
    case "stream_dedup" => new StreamDedup(a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    require(a.seconds > 0, "--seconds must be positive")
    val w = workload(a)
    val heap = new HeapWatch
    val out = new Outcome
    val probe = new Probe(a.trace)

    val spark = GraftSession.local(s"graftbench-${a.workload}")
    w.prepare(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    probe.attach(spark)
    w.run(spark, probe, out)
    probe.detach(spark)
    probe.writeSpans(a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    probe.writePlans(a.work.resolve(s"plans-${a.workload}-${a.seed}.txt"))

    if (!a.trace) out.put("setup_s", setupS, "s")
    else out.put("heap.peak_mb", heap.peakMb, "MB")
    spark.stop()
    heap.close()
    val ordered = new Outcome
    ordered.attempted = out.attempted
    ordered.failed = out.failed
    val order = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    order.foreach { case (name, unit) =>
      // a layer this workload leaves idle did no work: its counters read 0
      val (v, u) = out.metrics.getOrElse(name,
        if (a.trace) (0.0, unit)
        else throw new IllegalStateException(s"${a.workload} did not produce $name"))
      require(u == unit, s"$name reported in $u, declared in $unit")
      ordered.put(name, v, u)
    }
    Option(a.out.getParent).foreach(Files.createDirectories(_))
    Files.write(a.out, (ordered.json + "\n").getBytes(UTF_8))
    System.err.println(f"[graftbench] setup $setupS%.2f s")
  }
}

/** The largest heap in use right after any garbage collection, from the
  * JVM's GC notifications (the sum over heap pools of their after-GC
  * usage), so that data left behind in caches or set-up shows.
  */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
        ()
      }
  }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def peakMb: Double = {
    System.gc() // the heap still held once the run is over counts too
    Thread.sleep(200) // GC notifications are delivered asynchronously
    peak.get / (1024.0 * 1024.0)
  }

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => () })
}
