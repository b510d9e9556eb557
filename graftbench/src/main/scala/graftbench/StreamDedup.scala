package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.PlanBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.config.{Duration, FieldMapping}
import graft.operators.MappingProjection
import graft.sources.IdempotentParquetSink
import graft.streaming.{StreamingDedup, StreamingPipeline}

/** The reference pipeline in streaming form, driven open loop: the rate
  * source offers [[Rate]] rows per second whatever the pipeline does, one
  * row in 11 re-using the ids of the row five positions earlier; then
  * `StreamingDedup.withinWatermark` (RocksDB state, 8 h), the
  * `MappingProjection` of the source's columns, and `IdempotentParquetSink`,
  * on a [[TriggerMs]] trigger. Each committed micro-batch is one operation.
  * The window opens at the commit of the first steady batch: one that
  * fired on the trigger clock and took exactly one trigger interval of
  * source seconds, so the backlog the first batches leave behind has
  * drained. It lasts `--seconds` and at least [[MinBatches]] committed
  * batches.
  *
  * The rate is the window's committed rows over the commit-to-commit time
  * they span: the offset seconds those batches cover, plus the change in
  * release-to-commit lag between the batch before the window and the
  * window's last batch. Below capacity it reads the offered rate (10/11 of
  * [[Rate]] kept) within that change, so it only moves when the stream
  * falls behind; a batch's cost shows in the latency.
  *
  * A row's latency runs from its generator timestamp, rebuilt from the
  * batch's offsets ([[RateTimes]]), to the wall time its batch's sink write
  * returned, less the release phase: the lag, set by when in the second the
  * source happened to start, between the source releasing a second's rows
  * and the trigger clock picking them up (the smallest such lag among the
  * window's batches).
  *
  * After the window every committed epoch is read back: its rows must be
  * the distinct ids of its offset range, no `event_id` may repeat across
  * epochs, and the rows the state dropped must be exactly the injected
  * duplicates. A batch abandoned at stop is not committed and is ignored.
  */
final class StreamDedup(a: Args) extends Workload {

  import StreamDedup._

  def prepare(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    ()
  }

  def run(spark: SparkSession, probe: Probe, out: Outcome): Unit = {
    var windowStartMs = Long.MaxValue
    val checkpoint = a.work.resolve("stream_checkpoint")
    val sinkDir = a.work.resolve("stream_sink").toString
    val sink = new IdempotentParquetSink(sinkDir)
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double)]
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    val source = withDuplicates(StreamingPipeline.rateSource(spark, Rate, a.seed))
    val deduped = StreamingDedup.withinWatermark(source, Seq("event_id"), "ts", Duration.parse("8h"))
    val projected = MappingProjection(deduped, Mapping)
    val query = projected.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (wrote, secs) = probe.timed("sink.epoch_write")(sink.writeBatch(batch, id))
        if (wrote) commits.put(id, (System.currentTimeMillis(), secs * 1000))
        ()
      }
      .start()
    // the first batches pay for planning, code generation and state store
    // creation, and the rows offered meanwhile queue up: the window opens
    // once a steady batch has committed
    val capMs = System.currentTimeMillis() + CapSeconds * 1000L
    def now = System.currentTimeMillis()
    val failure = try {
      while (query.isActive && now < capMs && windowStartMs == Long.MaxValue) {
        progress.snapshot().find(steady).flatMap(p => Option(commits.get(p.batchId)))
          .foreach { case (commitMs, _) => windowStartMs = commitMs }
        query.awaitTermination(100L)
      }
      val endMs = if (windowStartMs == Long.MaxValue) capMs else windowStartMs + a.seconds * 1000L
      // a batch counts once its progress is reported: its offsets are then
      // committed, and stopping the query cannot abandon it
      def inWindow = progress.snapshot().count(p =>
        Option(commits.get(p.batchId)).exists(_._1 > windowStartMs))
      while (query.isActive && now < capMs && (now < endMs || inWindow < MinBatches))
        query.awaitTermination(100L)
      None
    } catch { case e: Exception => Some(e.getMessage) }
    val stopMs = System.currentTimeMillis()
    try query.stop() catch { case _: java.util.concurrent.TimeoutException => () }
    BusBridge.drain(spark.sparkContext)
    spark.streams.removeListener(progress)
    failure.foreach(why => out.op(ok = false, s"stream failed: $why"))

    val createdMs = Files.readAllLines(checkpoint.resolve("sources/0/0"), UTF_8).asScala
      .last.trim.toLong
    val batches = progress.snapshot().flatMap { p =>
      Option(commits.get(p.batchId)).map { case (commitMs, writeMs) =>
        val src = p.sources.head
        val s0 = Option(src.startOffset).fold(0L)(_.trim.toLong)
        Batch(p, s0, src.endOffset.trim.toLong, commitMs, writeMs)
      }
    }.filter(_.rows > 0)
    batches.foreach { b =>
      System.err.println(f"[graftbench] batch ${b.p.batchId} seconds [${b.s0},${b.s1}) " +
        f"trigger +${java.time.Instant.parse(b.p.timestamp).toEpochMilli - createdMs} ms " +
        f"commit +${b.commitMs - createdMs} ms, ${b.p.durationMs.get("triggerExecution")} ms" +
        (if (b.commitMs > windowStartMs) " (window)" else ""))
    }

    // read back every committed epoch: rows and distinct ids per epoch, and
    // the epochs holding an id that another epoch also holds
    val committed = spark.read.option("basePath", sinkDir)
      .parquet(batches.map(b => s"$sinkDir/epoch=${b.p.batchId}"): _*)
    val perEpoch = committed.groupBy("epoch")
      .agg(count(lit(1)), countDistinct(col("event_id")))
      .collect().map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getLong(2))).toMap
    val repeated = committed.groupBy("event_id").agg(collect_set(col("epoch")).as("epochs"))
      .where(size(col("epochs")) > 1 || col("event_id").isNull)
      .select(explode(col("epochs"))).distinct().collect().map(_.getAs[Number](0).longValue).toSet
    batches.foreach { b =>
      val id = b.p.batchId
      val (rows, distinct) = perEpoch.getOrElse(id, (0L, 0L))
      val kept = b.rows / 11 * 10
      val state = b.p.stateOperators.head
      out.op(b.p.numInputRows == b.rows && rows == kept && distinct == kept &&
          state.numRowsUpdated == kept && !repeated(id),
        s"stream batch $id [${b.s0},${b.s1}) s: input ${b.p.numInputRows} of ${b.rows}, " +
          s"sink rows $rows distinct $distinct state updates ${state.numRowsUpdated} " +
          s"(expected $kept), repeated ids ${repeated(id)}")
    }

    // the window's numbers come from the batches committed inside it; the
    // rate is their rows over the commit-to-commit time they span
    val (before, inWindow) = batches.sortBy(_.commitMs).partition(_.commitMs <= windowStartMs)
    if (inWindow.size < MinBatches) out.op(ok = false,
      s"stream: ${inWindow.size} batches committed in the window, fewer than $MinBatches")
    require(inWindow.nonEmpty, "stream: no batch committed in the measured window")
    val spanStart = before.lastOption.fold(windowStartMs)(_.commitMs)
    val rate = inWindow.map(_.rows / 11 * 10).sum / ((inWindow.last.commitMs - spanStart) / 1000.0)
    // an on-time trigger picks a second's rows up this long after their release
    val phase = inWindow.map(b => java.time.Instant.parse(b.p.timestamp).toEpochMilli -
      RateTimes.releaseMs(createdMs, b.s1 - 1)).min
    val latencies = inWindow.flatMap(b =>
      RateTimes.latenciesMs(createdMs, b.s0, b.s1, Rate, b.commitMs).map(_ - phase))
    val p50 = Stats.median(latencies)
    if (!probe.tracing) {
      out.put("items_per_s", rate, "1/s")
      out.put("latency_ms", p50, "ms")
    } else {
      out.put("trace.items_per_s", rate, "1/s")
      out.put("trace.latency_ms", p50, "ms")
      val tail = Stats.highestSupported(latencies.size).getOrElse(50)
      out.put("stream.latency_ms_tail", Stats.percentile(latencies, tail), "ms")
      out.put("stream.latency_tail_pct", tail.toDouble, "percentile")
      out.put("stream.samples", latencies.size.toDouble, "count")
      out.put("stream.batches", inWindow.size.toDouble, "count")
      def p50Of(f: Batch => Double): Double = Stats.median(inWindow.map(f))
      def dur(b: Batch, k: String): Double = Option(b.p.durationMs.get(k)).fold(0.0)(_.doubleValue)
      out.put("stream.batch_ms_p50", p50Of(dur(_, "triggerExecution")), "ms")
      out.put("stream.add_batch_ms_p50", p50Of(dur(_, "addBatch")), "ms")
      out.put("stream.wal_commit_ms_p50", p50Of(dur(_, "walCommit")), "ms")
      out.put("stream.commit_offsets_ms_p50", p50Of(dur(_, "commitOffsets")), "ms")
      out.put("stream.planning_ms_p50", p50Of(dur(_, "queryPlanning")), "ms")
      val last = inWindow.last.p.stateOperators.head
      out.put("dedup_state.rows", last.numRowsTotal.toDouble, "count")
      out.put("dedup_state.bytes", last.memoryUsedBytes.toDouble, "bytes")
      out.put("dedup_state.commit_ms_p50", p50Of(_.p.stateOperators.head.commitTimeMs.toDouble), "ms")
      out.put("dedup_state.update_ms_p50", p50Of(_.p.stateOperators.head.allUpdatesTimeMs.toDouble), "ms")
      val input = inWindow.map(_.p.numInputRows).sum
      out.put("dedup_state.drop_ratio",
        1.0 - inWindow.map(_.p.stateOperators.head.numRowsUpdated).sum.toDouble / input, "ratio")
      out.put("sink.epoch_write_ms_p50", p50Of(_.writeMs), "ms")
      val offered = Rate * (stopMs - createdMs) / 1000
      out.put("stream.backlog_rows", (offered - batches.map(_.s1).max * Rate).toDouble, "count")
    }
  }
}

object StreamDedup {

  /** Offered rows per second; a multiple of 11, so every batch's offset
    * range holds whole blocks of ten ids and one duplicate. At 11,000 the
    * stream could still be catching up when the window opened.
    */
  val Rate = 5500L

  /** A micro-batch costs 0.7-1.4 s on a 4-core box whatever its size
    * (state commit, epoch write and rename), so a 1 s trigger leaves the
    * stream at capacity at any rate.
    */
  val TriggerMs = 2000L

  /** A steady batch: it fired on the trigger clock (Spark schedules
    * processing-time triggers at multiples of the interval) and its input
    * is one interval of source seconds.
    */
  def steady(p: StreamingQueryProgress): Boolean =
    p.batchId > 0 && p.numInputRows == Rate * TriggerMs / 1000 &&
      java.time.Instant.parse(p.timestamp).toEpochMilli % TriggerMs < OnClockMs

  val OnClockMs = 200L

  /** Batches the window holds at least: the rate's commit-to-commit span
    * and the latency median then rest on more than the edge batches.
    */
  val MinBatches = 3

  /** Warm-up and window together end here, however far they got; a
    * window with fewer than [[MinBatches]] batches then fails the run.
    */
  val CapSeconds = 60

  val Mapping: Seq[FieldMapping] = Seq(
    FieldMapping("event_id", "event_id", "uuid"),
    FieldMapping("user_id", "user_id", "uuid"),
    FieldMapping("created_at", "created_at", "datetime"))

  final case class Batch(p: StreamingQueryProgress, s0: Long, s1: Long, commitMs: Long, writeMs: Double) {
    def rows: Long = RateTimes.rows(s0, s1, Rate)
  }

  /** Re-feeds the rate source's `value` to `rateSource`'s own projection so
    * that value `v` with `v % 11 == 10` takes the identity of `v - 5`:
    * duplicates enter the stream at the source, and the program still only
    * sees `rateSource`'s columns.
    */
  def withDuplicates(rate: DataFrame): DataFrame = {
    val plan = PlanBridge.analyzed(rate)
    val rewritten = plan.transform {
      case Project(list, rel: StreamingRelationV2) =>
        val v = rel.output.find(_.name == "value").get
        val dup = If(EqualTo(Pmod(v, Literal(11L)), Literal(10L)), Subtract(v, Literal(5L)), v)
        Project(list.map(_.transformUp {
          case r: AttributeReference if r.exprId == v.exprId => dup
        }.asInstanceOf[NamedExpression]), rel)
    }
    require(rewritten != plan, "rate source plan has no projection over the rate relation")
    PlanBridge.ofRows(rate, rewritten)
  }

  /** Every progress report of the run, through the listener bus. */
  final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val buf = ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = buf.synchronized { buf += e.progress; () }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def snapshot(): Seq[StreamingQueryProgress] = buf.synchronized(buf.toList)
  }
}
