package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbench.PlanBridge

import graft.Tables

/** Passes over a fixed sample of the registered queries at sf0.1, with the
  * session caches on. Each query is one operation: build (the query
  * function call and the fingerprint aggregation over its result), plan
  * (forcing that aggregation's executed plan) and execute (running that
  * same plan), checked against the fingerprint and row count recorded for
  * it. The query is planned once, and the plan timed is the plan that runs.
  *
  * Set-up registers the tables and runs one pass untimed, so the session
  * caches are built during set-up and only read in the measured window:
  * a session builds them once and reads them many times.
  */
final class QuerySweep(a: Args) extends Workload {

  import QuerySweep._

  private val dir = a.data.toString
  private lazy val expected = Expected.load(a.expected)

  def prepare(spark: SparkSession): Unit = {
    Sweep.cachesOn(spark)
    Tables.registerAll(spark, dir)
    Pack.foreach { name =>
      val t0 = System.nanoTime()
      Fingerprint.of(Sweep.query(name)(spark, dir))
      Sweep.release(spark)
      System.err.println(f"[graftbench] warm $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  def run(spark: SparkSession, probe: Probe, out: Outcome): Unit = {
    final case class Sample(name: String, build: Double, plan: Double, exec: Double) {
      def total: Double = build + plan + exec
    }
    val passes = ArrayBuffer.empty[Seq[Sample]]
    val passCounters = ArrayBuffer.empty[Counters]
    val end = System.nanoTime() + a.seconds * 1000000000L
    while (passes.size < MinPasses || System.nanoTime() < end) {
      val before = probe.counters(spark)
      val samples = Pack.flatMap { name =>
        val fn = Sweep.query(name)
        val r = probe.timed(s"query.$name") {
          Capped(spark, CapSeconds) {
            val (fp, b) = probe.timed("query.build")(Fingerprint.frame(fn(spark, dir)))
            val (plan, p) = probe.timed("query.plan")(PlanBridge.executedPlan(fp))
            val (d, e) = probe.timed("query.exec")(Fingerprint.collect(fp))
            if (passes.isEmpty) probe.recordPlan(name, plan)
            (d, Sample(name, b, p, e))
          }
        }._1
        Sweep.release(spark)
        val want = expected(name)
        r match {
          case Right((d, s)) =>
            out.op(d == want, s"query $name: digest ${d.rows} rows ${d.hex}, " +
              s"expected ${want.rows} rows ${want.hex}")
            if (d == want) Some(s) else None
          case Left(why) => out.op(ok = false, s"query $name: $why"); None
        }
      }
      passCounters += probe.counters(spark) - before
      passes += samples
      System.err.println(f"[graftbench] pass ${passes.size}: ${samples.size} queries " +
        f"${samples.map(_.total).sum}%.2f s " + samples.map(s => f"${s.name.take(3)}=${s.total}%.2f").mkString(" "))
    }

    val times = passes.flatten.map(_.total).toSeq
    val passWall = passes.map(_.map(_.total).sum).toSeq
    val rate = passes.map(_.size).sum / passWall.sum
    // each query's median, then their geometric mean: no single query sets
    // it, as the middle query would set a median over all samples
    val latency = Stats.geomean(passes.flatten.groupBy(_.name).values
      .map(ss => Stats.median(ss.map(_.total).toSeq)).toSeq) * 1000
    if (!probe.tracing) {
      out.put("items_per_s", rate, "1/s")
      out.put("latency_ms", latency, "ms")
    } else {
      out.put("trace.items_per_s", rate, "1/s")
      out.put("trace.latency_ms", latency, "ms")
      val tail = Stats.highestSupported(times.size).getOrElse(50)
      out.put("queries.latency_ms_tail", Stats.percentile(times, tail) * 1000, "ms")
      out.put("queries.latency_tail_pct", tail.toDouble, "percentile")
      out.put("queries.samples", times.size.toDouble, "count")
      def perPass(f: Seq[Sample] => Double): Double = Stats.median(passes.map(f).toSeq)
      out.put("queries.pass_s", Stats.median(passWall), "s")
      out.put("queries.build_s", perPass(_.map(_.build).sum), "s")
      out.put("queries.plan_s", perPass(_.map(_.plan).sum), "s")
      out.put("queries.exec_s", perPass(_.map(_.exec).sum), "s")
      Sweep.packs.foreach { case (p, _) =>
        out.put(s"queries.$p.s", perPass(_.filter(s => Sweep.packOf(s.name) == p).map(_.total).sum), "s")
      }
      def counter(f: Counters => Long): Double = Stats.median(passCounters.map(c => f(c).toDouble).toSeq)
      out.put("queries.jobs", counter(_.jobs), "count")
      out.put("queries.stages", counter(_.stages), "count")
      out.put("queries.tasks", counter(_.tasks), "count")
      out.put("queries.exchanges", counter(_.exchanges), "count")
      out.put("queries.shuffle_bytes", counter(_.shuffleBytes), "bytes")
      out.put("queries.spill_bytes", counter(_.spillBytes), "bytes")
      out.put("queries.task_s", counter(_.taskMs) / 1000, "s")
      out.put("queries.gc_s", counter(_.gcMs) / 1000, "s")
    }
  }
}

object QuerySweep {

  /** Two passes give each query two samples, so one slow execution moves
    * neither the median nor the rate much.
    */
  val MinPasses = 2
  val CapSeconds = 60.0

  /** The timed sample: one query from every pack, the range-join rule and
    * the registry's heavy tail, and two of the seven session caches. Most
    * are near or below the registry's median time, where per-query fixed
    * cost dominates. It is as large as a run's time allows; NOTES.md has
    * the per-query times and plans this choice rests on.
    */
  val Pack: Seq[String] = Seq(
    "j10_concurrent_auto", // plans.RangeJoinRule; heavy tail
    "s02_ann_lsh", // LSH-band cache
    "q18_disjunctive_revenue", // core, at the registry's median time
    "m09_shot_boundaries", // multimodal
    "t11_vocab_topk", // text
    "d13_prefix_dedup", // dedup
    "r12_benford_digits", // relational
    "g03_local_clustering") // graph; graph-edge cache
}

/** The recorded output of each query: name -> fingerprint. */
object Expected {

  def load(path: java.nio.file.Path): Map[String, Fingerprint.Digest] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    val it = tree.fields()
    val m = Map.newBuilder[String, Fingerprint.Digest]
    while (it.hasNext) {
      val e = it.next()
      m += e.getKey -> Fingerprint.Digest(e.getValue.get("rows").asLong(),
        java.lang.Long.parseUnsignedLong(e.getValue.get("hash").asText(), 16))
    }
    m.result()
  }
}
