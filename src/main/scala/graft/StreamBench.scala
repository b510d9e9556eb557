package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}

import graft.config._
import graft.sources.IdempotentParquetSink
import graft.streaming._

/** Bloom-arm event: keyed row with event time. Top-level for encoders. */
case class BloomBenchEv(event_id: String, ts: java.sql.Timestamp)

/** Streaming-mode throughput: rate source at `SPARK_GRAFT_STREAM_RPS`
  * (default 1M rows/s offered) → windowed dedup → mapping projection →
  * idempotent parquet sink, run for `SPARK_GRAFT_STREAM_SECS` (default 30 s)
  * of processing. Prints one JSON line with sustained rows/sec — directly
  * comparable to BASELINE.md's glassflow_rps (8,018–9,429), which measures
  * the same shape: Kafka-source dedup ETL sustained rate.
  *
  * `SPARK_GRAFT_STREAM_OP` picks another arm from [[arms]]: every arm is one
  * [[StreamArm]] row (the streaming frame, an optional per-batch transform,
  * the numerator of `value` and the arm's own JSON fields), and
  * [[StreamArm.run]] is the one lifecycle they all share. An op that names
  * no row fails before any session work.
  */
object StreamBench {

  /** stop() with the session's bounded stopTimeout throws on an abandoned
    * in-flight batch — that's the expected overload-regime outcome, not a
    * bench failure (completed-batch metrics are already collected).
    */
  private def stopQuietly(q: StreamingQuery): Unit =
    try q.stop()
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println("[streambench] stop timed out; in-flight batch abandoned")
    }

  /** None when NO epoch was ever committed (deep-overload runs where even
    * batch 0 outlived the window + stopTimeout): the sink's epoch glob then
    * matches nothing and read() would kill the bench after measurement.
    * Only the path-missing condition is absorbed — any other analysis
    * failure (corrupt epoch, schema conflict) is a real bug and still
    * propagates instead of masquerading as a 0-row run.
    */
  private def sunkOrEmpty(sink: IdempotentParquetSink,
                          spark: SparkSession): Option[DataFrame] =
    try Some(sink.read(spark))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(_.startsWith("PATH_NOT_FOUND")) =>
        None
    }

  /** Every progress entry of the run, via the listener bus —
    * `q.recentProgress` is a ring capped at
    * `spark.sql.streaming.numRecentProgressUpdates` (100) entries, which a
    * 1 s trigger outgrows in ~100 s: summing it would silently drop the
    * earliest batches and under-report input-rows accounting on long runs.
    */
  private final class ProgressLog extends StreamingQueryListener {
    import StreamingQueryListener._
    private val buf = scala.collection.mutable.ArrayBuffer
      .empty[StreamingQueryProgress]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      buf.synchronized { buf += e.progress; () }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def snapshot(): Seq[StreamingQueryProgress] = buf.synchronized(buf.toList)
  }

  /** Register a ProgressLog for the duration of `f`, then return the full
    * progress history (after letting the async listener bus drain).
    */
  private def withProgressLog(spark: SparkSession)(
      f: => Unit): Seq[StreamingQueryProgress] = {
    val plog = new ProgressLog
    spark.streams.addListener(plog)
    try f finally {
      Thread.sleep(1500) // listener bus posts progress asynchronously
      spark.streams.removeListener(plog)
    }
    plog.snapshot()
  }

  /** Completed-data-batch capacity: rows through COMPLETED batches over
    * their processing time (quantization-free; see the measurement note on
    * the neardup arm). Progress entries without a positive triggerExecution
    * are dropped — the durationMs lookup is a java.util.Map and an absent
    * key would null-unbox into an NPE after the measurement already ran.
    */
  private def capacityOf(progress: Seq[StreamingQueryProgress]): Long = {
    val dataBatches = progress.filter(p => p.numInputRows > 0 &&
      Option(p.durationMs.get("triggerExecution")).exists(_.toLong > 0))
    if (dataBatches.isEmpty) 0L
    else math.round(dataBatches.map(_.numInputRows).sum * 1000.0 /
      dataBatches.map(_.durationMs.get("triggerExecution").toLong).sum)
  }

  /** What a finished run hands its arm's JSON fields: the full progress
    * history, the committed sink epochs (None when none committed) and the
    * measured window. Sink counts are lazy — an arm that reports none runs
    * no read job.
    *
    * The TWO state-size metrics the arms report, defined once here so the
    * numbers are comparable across arms:
    *
    *  - `state_bytes` ([[stateBytes]], provider figure): the state store's
    *    own memoryUsedBytes — the whole instance the executor pays for. For
    *    RocksDB this includes memtable/SST/WAL overhead, so a tiny
    *    logical state can read as MBs (round-14's quantile artifact:
    *    5.5 MB for ~48 KB of bucket counters); for the HDFS heap
    *    provider it is close to logical.
    *  - `state_bytes_logical`: state rows × the operator's fixed
    *    per-row payload (the encoded widths of its state case class
    *    fields plus a nominal 8-byte key) — the information the
    *    operator actually KEEPS, the number that scales with key
    *    cardinality and is provider-independent.
    */
  private final class ArmRun(val progress: Seq[StreamingQueryProgress],
                             val sunk: Option[DataFrame],
                             val elapsed: Double) {
    val capacity: Long = capacityOf(progress)
    val inputRows: Long = progress.map(_.numInputRows).sum
    private val lastState = progress.lastOption.toSeq.flatMap(_.stateOperators)
    val stateRows: Long = lastState.map(_.numRowsTotal).sum
    val stateBytes: Long = lastState.map(_.memoryUsedBytes).sum
    lazy val sunkRows: Long = sunk.map(_.count()).getOrElse(0L)
    def sunkWhere(cond: Column): Long =
      sunk.map(_.filter(cond).count()).getOrElse(0L)
    /** Mean state commit time over the data batches. */
    def avgCommitMs: Long = {
      val ms = progress.filter(_.numInputRows > 0)
        .flatMap(_.stateOperators.map(_.commitTimeMs))
      if (ms.isEmpty) 0L else ms.sum / ms.size
    }
  }

  /** A JSON field value written as is (a number formatted by the arm, an
    * array); other values render as quoted strings or via toString.
    */
  private final case class Raw(json: String)

  private def render(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case Raw(json) => json
    case other => other.toString
  }

  /** One streaming arm — the row of [[arms]] that `SPARK_GRAFT_STREAM_OP=op`
    * selects. Only what differs between arms lives here:
    *
    *  - `frame`: the streaming DataFrame (operator applied) for (session,
    *    offered rps);
    *  - `perBatch`: what each micro-batch writes to the idempotent sink;
    *  - `value`: the numerator of the JSON `value` (input rows by default;
    *    sunk rows for arms whose output IS the measured unit);
    *  - `fields`: the arm's ordered JSON fields between `value` and
    *    `elapsed_sec`;
    *  - `perSide`: the offered rate is per source (two-sided join).
    */
  private final case class StreamArm(
      op: String,
      metric: String,
      frame: (SparkSession, Long) => DataFrame,
      fields: ArmRun => Seq[(String, Any)],
      perBatch: DataFrame => DataFrame = identity,
      value: ArmRun => Long = _.inputRows,
      perSide: Boolean = false) {

    /** The lifecycle every arm shares: idempotent sink on a fresh
      * directory, 1 s processing-time trigger, a fixed measurement window
      * (processAllAvailable would chase a live rate source forever when
      * offered > sustained), a bounded stop, then capacity / state / sink
      * metrics and one JSON line.
      */
    def run(spark: SparkSession, rps: Long, secs: Int,
            stateStore: String): String = {
      val sinkDir = java.nio.file.Files.createTempDirectory("graft_sb_sink").toString
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sb_ckpt").toString
      val sink = new IdempotentParquetSink(sinkDir)
      val df = frame(spark, rps)
      var elapsed = 0.0
      val progress = withProgressLog(spark) {
        val q = df.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.ProcessingTime(1000))
          .foreachBatch { (b: DataFrame, id: Long) =>
            sink.writeBatch(perBatch(b), id); ()
          }
          .start()
        val t0 = System.nanoTime()
        Thread.sleep(secs * 1000L)
        stopQuietly(q)
        elapsed = (System.nanoTime() - t0) / 1e9
      }
      progress.takeRight(4).foreach(p => System.err.println(
        s"[streambench] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durMs=${p.durationMs} " +
          s"state=${p.stateOperators.map(s => s"commit=${s.commitTimeMs} rows=${s.numRowsTotal}").mkString(";")}"))
      val r = new ArmRun(progress, sunkOrEmpty(sink, spark), elapsed)
      val line = Seq("metric" -> metric, "value" -> math.round(value(r) / elapsed)) ++
        fields(r) ++ Seq("elapsed_sec" -> elapsed,
          (if (perSide) "offered_rps_per_side" else "offered_rps") -> rps,
          "state_store" -> stateStore.toLowerCase)
      line.map { case (k, v) => s"\"$k\":${render(v)}" }.mkString("{", ",", "}")
    }
  }

  /** Hot-key knob (SPARK_GRAFT_STREAM_HOT=1, r15 VERDICT task 6): route
    * every 10th source row to user 0 — a 10%-hot bot user on top of the
    * uniform assignment, the exact skew profile the BATCH funnel-skew
    * stress arm runs — so the live funnel family's per-key
    * flatMapGroupsWithState lists can be measured where they could
    * degenerate (one group absorbing 10% of every micro-batch). The
    * JSON lines carry `hot_key` so uniform/hot artifacts pair up.
    */
  private def hotKey: Boolean =
    sys.env.get("SPARK_GRAFT_STREAM_HOT").contains("1")

  /** The arms' shared user assignment: uniform over [[Users]], or the
    * 10%-hot overlay under [[hotKey]].
    */
  private def userExpr: Column = {
    val uniform = pmod(col("value"), lit(Users))
    if (hotKey) when(pmod(col("value"), lit(10)) === 0, lit(0L))
      .otherwise(uniform)
    else uniform
  }

  /** The same 10%-hot overlay for arms whose state key is NOT a user id
    * (kmv/quantile/topk/stats group keys, retention's cohort user): route
    * every 10th source row to `hot`, leave the rest on `base`. For the
    * per-GROUP-state sketches the skew risk is the shuffle, not the
    * state (few groups either way) — the r16 VERDICT's task-6 reading —
    * so the hot arm measures exactly that: one reducer absorbing 10% of
    * every micro-batch on top of its uniform share.
    */
  private def hotOverlay(base: Column, hot: Column): Column =
    if (hotKey) when(pmod(col("value"), lit(10)) === 0, hot).otherwise(base)
    else base

  /** The rate source every arm reads: `timestamp`, `value` = 0, 1, 2, … */
  private def rate(spark: SparkSession, rps: Long): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rps.toString).load()

  /** Concurrent users of the funnel/sequence family's 5-round ladders. */
  private val Users = 100000L

  /** Ladder round r ∈ [0,5) of each source value, (value div users) mod 5
    * (integer `div`, not `/` — true division would make round a double).
    */
  private def round: Column = pmod(expr(s"value div $Users"), lit(5))

  /** view → click → purchase in consecutive rounds 0/1/2, rounds 3/4
    * noise, as (u, ts, et, id) — the typed-event builders' input.
    */
  private def ladderEvents(raw: DataFrame, user: Column): DataFrame = {
    val etype = when(round === 0, "view").when(round === 1, "click")
      .when(round === 2, "purchase").otherwise("other")
    raw.select(user.as("u"), col("timestamp").as("ts"), etype.as("et"),
      col("value").as("id"))
  }

  /** Funnel steps 1/2/3 in rounds `viewR`/`clickR`/`buyR`, other rounds
    * step 0, as (user_id, ts, step, event_id).
    */
  private def stepEvents(raw: DataFrame, viewR: Int, clickR: Int,
                         buyR: Int): DataFrame = {
    val step = when(round === viewR, 1).when(round === clickR, 2)
      .when(round === buyR, 3).otherwise(0)
    raw.select(userExpr.as("user_id"), col("timestamp").as("ts"),
      step.as("step"), col("value").as("event_id"))
  }

  /** Every funnel state machine's 24 h chain window. */
  private val FunnelWindowMs = 24L * 3600 * 1000

  /** A funnel arm's sink report: transitions out, and those reaching
    * level 3 (converted).
    */
  private def funnelFields(r: ArmRun): Seq[(String, Any)] =
    Seq("transitions" -> r.sunkRows,
      "converted" -> r.sunkWhere(col("level") === 3))

  /** 5 event-type groups t0..t4 (every 10th row on t0 under [[hotKey]]). */
  private def typeGroup: Column =
    hotOverlay(concat(lit("t"), pmod(col("value"), lit(5))), lit("t0"))

  /** Integer-cent values (calm band 990.00–1010.00, every 97th row a
    * 1500.00 spike) — the anomaly and quantile arms' distribution.
    */
  private def spikedValue: Column =
    when(pmod(col("value"), lit(97)) === 0, lit(150000L))
      .otherwise(lit(100000L) +
        (pmod(hash(col("value")), lit(2001)) - lit(1000)).cast("long"))

  /** The default arm (SPARK_GRAFT_STREAM_OP unset or `dedup`): the
    * reference config's streaming transform — keyed watermarked dedup over
    * an 8 h window → the reference sink mapping's uuid/uuid/datetime
    * columns (all the rate source carries). Reported rate is sunk rows/s.
    */
  private val dedup = StreamArm("dedup", "stream_rps",
    frame = (spark, rps) => {
      val ref = PipelineConfig.reference
      StreamingPipeline.transform(StreamingPipeline.rateSource(spark, rps),
        ref.copy(sink = ref.sink.copy(tableMapping = ref.sink.tableMapping.take(3))), "ts")
    },
    value = _.sunkRows,
    fields = r => Seq("unit" -> "rows/sec", "rows" -> r.sunkRows))

  /** SPARK_GRAFT_STREAM_OP=passthrough measures the HARNESS CEILING the
    * stateful sequence/sketch arms plateau at — the rate source, the
    * funnel arms' exact codegen projection (user key + 5-round event
    * ladder), the 1 s trigger, and a SMALL per-batch write through the
    * same idempotent sink (one count row per batch — the output shape
    * of the hit/snapshot streams those arms sink), with NO state store
    * or shuffle in the plan. Every stateful arm's sustained figure
    * should be read as a FRACTION of this ceiling: at 1 M offered the
    * round-14 arms all plateau ~949 k source rows/s, which is this
    * path's saturation, not the operators' — the per-operator cost is
    * the gap under the ceiling plus the state footprint, and
    * capacity_rps is the less-gated estimate. (A FULL-WIDTH passthrough
    * — every projected row written to parquet — is a different shape:
    * that is the ETL pipeline the default dedup arm measures, sink-bound
    * long before the source saturates.)
    */
  private val passthrough = StreamArm("passthrough", "passthrough_rps",
    frame = (spark, rps) =>
      ladderEvents(rate(spark, rps), pmod(col("value"), lit(Users))),
    perBatch = _.agg(count(lit(1)).as("n")),
    fields = r => Seq("unit" -> "source rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "state_rows" -> 0, "state_bytes" -> 0, "state_bytes_logical" -> 0))

  /** SPARK_GRAFT_STREAM_OP=join measures the streaming temporal join
    * (TemporalJoin.stream — the reference pipeline's declared two-topic join
    * stage): two independent rate sources at `rps` each, equi-key on the row
    * value with |l_ts − r_ts| ≤ 5 s, watermarks = tolerance on both sides so
    * join state stays bounded (each side buffers ~rps · (tolerance + slack)
    * rows, evicted as the watermark advances). The two sources run in
    * lockstep, so each left row matches ~1 right row — reported rows/s is
    * matched-output rows through the idempotent sink, with state rows and
    * commit times from the last progress entries.
    */
  private val join = StreamArm("join", "join_rps",
    frame = (spark, rps) => {
      def side(prefix: String) = rate(spark, rps)
        .select(col("value").as(s"${prefix}_key"),
          col("timestamp").as(s"${prefix}_ts"))
      TemporalJoin.stream(
        side("l"), side("r").withColumn("r_payload", col("r_key") * 7L),
        "l_key", "r_key", "l_ts", "r_ts", Duration.parse("5s"))
    },
    value = _.sunkRows,
    perSide = true,
    fields = r => Seq("unit" -> "rows/sec", "capacity_rps" -> r.capacity,
      "matched" -> r.sunkRows, "state_rows" -> r.stateRows,
      "avg_commit_ms" -> r.avgCommitMs))

  /** SPARK_GRAFT_STREAM_OP=session measures watermarked SESSION-window
    * aggregation (j04's shape as a live query — Spark's merging-session
    * state store, a genuinely different stateful operator from the
    * tumbling windowagg: sessions EXTEND and MERGE as events arrive, and
    * only close when the watermark passes gap past the last event).
    * Synthetic churn drives closure: user = value DIV 256 — each user
    * emits 256 consecutive events (~ms of activity at bench rates) and
    * never returns, so their session closes one 5 s gap + 5 s watermark
    * later. In-flight state ≈ users active in the trailing gap+watermark
    * horizon ≈ rps·10/256 sessions — offered-rate-bounded, not
    * stream-length-bounded. Reported rate is INPUT rows/s (closed session
    * rows are rps/256/s — tiny by construction).
    */
  private val session = StreamArm("session", "session_rps",
    frame = (spark, rps) => rate(spark, rps)
      .withWatermark("timestamp", "5 seconds")
      .groupBy(session_window(col("timestamp"), "5 seconds").as("sw"),
        expr("value DIV 256").as("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_v"))
      .select(col("sw.start").as("s_start"), col("sw.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_v")),
    fields = r => Seq("unit" -> "rows/sec", "capacity_rps" -> r.capacity,
      "input_rows" -> r.inputRows, "closed_sessions" -> r.sunkRows,
      "state_rows" -> r.stateRows))

  /** SPARK_GRAFT_STREAM_OP=windowagg measures the watermarked tumbling-
    * window aggregation (ST7's streaming leg — j03's shape as a live
    * query): rate source → 5 s watermark → 10 s windows × 1000 keys →
    * count/sum, append mode so a window row reaches the sink exactly once,
    * when the watermark closes it. The reported rate is INPUT rows/s
    * through completed batches (the output is intentionally tiny — ~100
    * closed windows/s — so sink rows would measure nothing); state is
    * bounded at keys × open windows ≈ 2000 rows regardless of offered
    * rate.
    */
  private val windowagg = StreamArm("windowagg", "windowagg_rps",
    frame = (spark, rps) => rate(spark, rps)
      .withWatermark("timestamp", "5 seconds")
      .groupBy(window(col("timestamp"), "10 seconds").as("w"),
        pmod(col("value"), lit(1000L)).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
      .select(col("w.start").as("w_start"), col("k"), col("n"), col("sum_v")),
    fields = r => Seq("unit" -> "rows/sec", "capacity_rps" -> r.capacity,
      "input_rows" -> r.inputRows, "closed_windows" -> r.sunkRows,
      "state_rows" -> r.stateRows, "avg_commit_ms" -> r.avgCommitMs))

  /** SPARK_GRAFT_STREAM_OP=semdedup measures the online SEMANTIC admission
    * path (StreamingSemDeDup — d15's streaming form): synthetic 64-dim
    * quantized embeddings derived per-row from a murmur3 stream, every 10th
    * doc an exact vector copy of its predecessor (cos = 1 ≥ τ, same cell by
    * construction) so ~10% must be rejected; a fixed 64-centroid codebook
    * stands in for the offline k-means fit a production pipeline would
    * broadcast. Reported rate is DOCS/sec through the idempotent sink.
    */
  private val semdedup = StreamArm("semdedup", "semdedup_rps",
    frame = (spark, rps) => {
      def vecOf(seed: Column) =
        array((0 until 64).map(i =>
          (pmod(hash(seed, lit(i)), lit(20001)) - lit(10000)).cast("long")): _*)
      val cb = graft.operators.KMeans.codebook(
        spark.range(64).select(col("id").cast("long").as("c_id"),
          vecOf(concat(col("id"), lit("#cb"))).as("cv")))
      val seed = when(pmod(col("value"), lit(10)) === 9, col("value") - 1)
        .otherwise(col("value"))
      val docs = rate(spark, rps).select(col("value").as("doc_id"),
        col("timestamp").as("ts"), vecOf(seed).as("v"))
      val cells = StreamingSemDeDup.assignCells(docs, cb, col("doc_id"),
        col("ts"), col("v")).withWatermark("ts", "10 seconds")
      StreamingSemDeDup.admit(cells, Duration.parse("8h")).toDF()
        .select(col("doc_id"), col("ts"), col("c_id"), col("kept"))
    },
    value = _.sunkRows,
    fields = r => Seq("unit" -> "docs/sec", "capacity_rps" -> r.capacity,
      "docs" -> r.sunkRows, "rejected" -> r.sunkWhere(!col("kept")),
      "state_rows" -> r.stateRows))

  /** SPARK_GRAFT_STREAM_OP=anomaly measures the online running-moments
    * z-score detector (StreamingStats — query r15's streaming form):
    * synthetic integer-cent values ([[spikedValue]]) over 5 event types, so
    * after each type's 30-row burn-in the spikes flag. The interesting
    * contrast with the dedup family: state is THREE LONGS per key (no
    * window, nothing to lapse), so this is the ceiling of the
    * flatMapGroupsWithState plumbing itself — any gap to the rate source
    * is framework, not state size.
    */
  private val anomaly = StreamArm("anomaly", "anomaly_rps",
    frame = (spark, rps) => {
      val events = rate(spark, rps).select(col("value").as("event_id"),
          col("timestamp").as("ts"), typeGroup.as("event_type"),
          spikedValue.as("vq"))
        .as[ValueEvent](Encoders.product[ValueEvent])
      StreamingStats.score(events).toDF()
        .select(col("event_id"), col("ts"), col("event_type"),
          col("zscore"), col("anomalous"))
    },
    value = _.sunkRows,
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "events/sec",
      "capacity_rps" -> r.capacity, "events" -> r.sunkRows,
      "flagged" -> r.sunkWhere(col("anomalous")), "state_rows" -> r.stateRows))

  private def bloomShards: Int =
    sys.env.getOrElse("SPARK_GRAFT_BLOOM_SHARDS", "64").toInt

  /** SPARK_GRAFT_STREAM_OP=bloom measures the CONSTANT-state Bloom dedup
    * (StreamingBloomDedup): same 10%-duplicate admission problem as the
    * default dedup arm (every 10th key repeats its predecessor — the
    * reference's 10% duplicate arithmetic), but state is `shards × 2
    * bitmaps` — fixed bytes — instead of one store row per distinct key.
    * The arm that answers "what happens when the window's key cardinality
    * outgrows even RocksDB": throughput AND a state-rows figure that stays
    * at the shard count forever. `state_bytes` is reported because the
    * whole point of the Bloom path is that state stays at shards ×
    * bitsPerShard regardless of key cardinality, and distinct keys here
    * grow with every consumed value.
    */
  private val bloom = StreamArm("bloom", "bloom_rps",
    frame = (spark, rps) => {
      implicit val enc: Encoder[BloomBenchEv] = Encoders.product[BloomBenchEv]
      val keyed = rate(spark, rps).select(
          concat(lit("k"), when(pmod(col("value"), lit(10)) === 9,
            col("value") - 1).otherwise(col("value"))).as("event_id"),
          col("timestamp").as("ts"))
        .as[BloomBenchEv]
      StreamingBloomDedup.admit[BloomBenchEv](
        keyed, _.event_id, _.ts, Duration.parse("8h"),
        bitsPerShard = 1 << 22, shards = bloomShards).toDF()
    },
    value = _.sunkRows,
    fields = r => Seq("unit" -> "rows/sec", "capacity_rps" -> r.capacity,
      "input_rows" -> r.inputRows,
      // the value-1 fold dedups 1/10
      "distinct_keys_offered" -> (r.inputRows - r.inputRows / 10),
      "admitted" -> r.sunkRows, "state_rows" -> r.stateRows,
      "state_bytes" -> r.stateBytes, "shards" -> bloomShards))

  /** Exact count of funnel-step rows among rate-source values 0..n-1 under
    * the funnel arm's layout (round r = (v div users) mod 5; rounds 0/2/4
    * are steps, 1/3 noise): full 5·users blocks contribute 3·users each,
    * and the partial tail block is counted interval-by-interval — so the
    * reported post-filter rate is exact for ANY stop point, not just
    * whole-block ones.
    */
  private[graft] def funnelSourceEvents(n: Long, users: Long): Long = {
    val block = 5 * users
    val full = n / block
    val rem = n % block
    val tail = Seq(0L, 2L, 4L).map { r =>
      val lo = r * users
      math.max(0L, math.min(rem, lo + users) - lo)
    }.sum
    full * 3 * users + tail
  }

  /** SPARK_GRAFT_STREAM_FUNNEL_STRICT=1 runs the funnel arm in the r33
    * strict-increase mode — same machine, strict chain comparison
    * (round-17 twin).
    */
  private def funnelStrictInc: Boolean =
    sys.env.get("SPARK_GRAFT_STREAM_FUNNEL_STRICT").contains("1")

  /** SPARK_GRAFT_STREAM_OP=funnel measures the live windowed funnel
    * (StreamingFunnel — r27's streaming form): 100k concurrent synthetic
    * users, each laddering view → click → purchase across interleaved
    * rounds (r=0 view, r=2 click, r=4 purchase, r∈{1,3} noise) with 40%
    * non-funnel noise rows filtered before the stateful stage, 24 h chain
    * window, in the production form: bounded state via event-time TTL
    * (the horizon is 2·24 h + 5 s, far past the bench window, so the arm
    * measures the same state behavior as detect() plus the timeout
    * bookkeeping). After a user converts its state collapses to one
    * integer, so the state-rows figure tracks users seen while the
    * per-user frontier cost only ever covers the active window. Reported
    * rate is SOURCE rows/sec through the pipeline; the post-filter funnel
    * event count is derived EXACTLY from the consumed value range — the
    * rate source emits consecutive values 0..inRows-1, so
    * [[funnelSourceEvents]] counts partial 5-round blocks at stream stop
    * too (the former inRows·3/5 was exact only on whole blocks; round-11
    * advice) — and emitted as funnel_events_sustained; transitions out
    * are at most 3 per user by construction.
    */
  private val funnel = StreamArm("funnel", "funnel_rps",
    frame = (spark, rps) => StreamingFunnel.detectExpiring(
      stepEvents(rate(spark, rps), 0, 2, 4).filter(col("step") > 0)
        .as[FunnelEvent](Encoders.product[FunnelEvent]),
      FunnelWindowMs, 5000L, strictIncrease = funnelStrictInc).toDF(),
    fields = r => Seq("hot_key" -> hotKey,
      "mode" -> (if (funnelStrictInc) "strict_increase" else "default"),
      "unit" -> "source rows/sec",
      "funnel_events_sustained" ->
        math.round(funnelSourceEvents(r.inputRows, Users) / r.elapsed),
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows) ++
      funnelFields(r) :+ ("state_rows" -> r.stateRows))

  /** SPARK_GRAFT_STREAM_OP=strictfunnel measures the live STRICT-ORDER
    * windowed funnel (StreamingStrictFunnel — r29's streaming form): 100k
    * concurrent users laddering view → click → purchase in consecutive
    * rounds (so the strict chain completes), then two noise rounds per
    * cycle (step 0, KEPT). Unlike the EXISTS arm there is NO pre-filter —
    * strict order means every event (noise included) flows through the
    * stateful stage, because any intervening event breaks a chain; the
    * reported rate is therefore rows through the STATE STORE per second,
    * and state is six numbers per user (the last-two-events context — the
    * smallest funnel state possible).
    */
  private val strictfunnel = StreamArm("strictfunnel", "strict_funnel_rps",
    frame = (spark, rps) => StreamingStrictFunnel.detectExpiring(
      stepEvents(rate(spark, rps), 0, 1, 2)
        .as[StrictFunnelEvent](Encoders.product[StrictFunnelEvent]),
      FunnelWindowMs, 5000L).toDF(),
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "state-store rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows) ++
      funnelFields(r) ++
      Seq("state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_TTL=1 runs the retention arm's expiring form. */
  private def retentionTtl: Boolean =
    sys.env.get("SPARK_GRAFT_STREAM_TTL").contains("1")

  /** SPARK_GRAFT_STREAM_OP=retention measures the live conditioned
    * retention (StreamingRetention — r28's streaming form): each 5-round
    * cycle brings 100k FRESH users who sign up (round 0, week 0) then
    * purchase in weeks 0–3 (rounds 1–4), so every row is a state-store
    * visit and each user settles at exactly 5 exactly-once deltas
    * (1 size + 4 offsets). Event time is synthesized per round (weeks
    * apart — the offsets are real week arithmetic, not wall clock); the
    * exact NoTimeout form is measured by default, so state is one
    * 4-number row per user ever seen and the reported `state_rows`
    * growth is the honest per-user cost. SPARK_GRAFT_STREAM_TTL=1
    * switches to the production `detectExpiring` form: cycles advance
    * event time 8 weeks apiece while the horizon is nOffsets=4 weeks +
    * delay, so earlier cohorts expire as later ones arrive and
    * `state_rows` reads the bounded HORIZON population, not users ever
    * seen — the artifact pair is the state-bound claim, measured.
    */
  private val retention = StreamArm("retention", "retention_rps",
    frame = (spark, rps) => {
      val weekMs = 7L * 86400000L
      val baseMs = 1700438400000L // 2023-11-20, a Monday
      // each cycle is a NEW cohort of users so state grows like live traffic
      val cycle = expr(s"value div ${Users * 5}")
      val userId = hotOverlay(pmod(col("value"), lit(Users)) + cycle * Users,
        lit(0L)).as("user_id")
      val tsMs = lit(baseMs) + cycle * lit(weekMs * 8) +
        when(round === 0, 0L).otherwise((round - 1) * weekMs + 3600000L) +
        pmod(col("value"), lit(Users))
      val events = rate(spark, rps).select(userId,
          timestamp_millis(tsMs).as("ts"),
          when(round === 0, 1).otherwise(2).as("kind"))
        .as[RetentionEvent](Encoders.product[RetentionEvent])
      (if (retentionTtl) StreamingRetention.detectExpiring(events,
        nOffsets = 4, watermarkDelayMs = 5000L)
      else StreamingRetention.detect(events, nOffsets = 4)).toDF()
    },
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "state-store rows/sec",
      "mode" -> (if (retentionTtl) "ttl" else "exact"),
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "deltas" -> r.sunkRows, "cohort_joins" -> r.sunkWhere(col("offset") === -1),
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** The dedup-strict funnel family's input: the ladder with its 40% noise
    * share dropped by the codegen pre-filter (the mode ignores unrelated
    * types).
    */
  private def dedupFunnelEvents(spark: SparkSession, rps: Long) =
    StreamingDedupFunnel.dedupEvents(
      ladderEvents(rate(spark, rps), userExpr),
      col("u"), col("ts"), col("et"), col("id"),
      Seq("view", "click", "purchase"))

  /** SPARK_GRAFT_STREAM_OP=dedupfunnel measures the live DEDUP-STRICT
    * windowed funnel (StreamingDedupFunnel — r31's streaming form):
    * the same 5-round ladder as the strict arm (view → click →
    * purchase then two noise rounds), but unlike strict order the mode
    * ignores unrelated types, so the codegen pre-filter drops the 40%
    * noise share before the state store and the machine holds FIVE
    * numbers per user — the reported rate is SOURCE rows/s with the
    * state-store rate at 3/5 of it by construction.
    */
  private val dedupfunnel = StreamArm("dedupfunnel", "dedup_funnel_rps",
    frame = (spark, rps) => StreamingDedupFunnel.detectExpiring(
      dedupFunnelEvents(spark, rps), FunnelWindowMs, 5000L).toDF(),
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "source rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows) ++
      funnelFields(r) ++
      Seq("state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_OP=funnelorderch measures the live
    * ClickHouse-TRUE strict_order funnel (r37's twin — the default
    * frontier machine with both shipped termination rules). The ladder
    * is the strict arm's: view → click → purchase in consecutive rounds
    * then two noise rounds, and like that arm there is NO pre-filter —
    * this mode's break rule is ABOUT condition-less events (step 0, KEPT
    * — the break rule needs them to cross the shuffle), so every row
    * flows through the state store (funnelEventsAll's contract); the
    * reported rate is rows through the STATE STORE per second. Each
    * user converts in its first cycle, then the first noise row would
    * stop a non-converted scan — so the steady state measures the
    * active-scan fold plus the converted/dead suppression path, the mix
    * a long-lived deployment sees.
    */
  private val funnelorderch = StreamArm("funnelorderch", "funnel_order_ch_rps",
    frame = (spark, rps) => StreamingFunnel.detectStrictOrderCHExpiring(
      stepEvents(rate(spark, rps), 0, 1, 2)
        .as[FunnelEvent](Encoders.product[FunnelEvent]),
      FunnelWindowMs, 5000L).toDF(),
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "state-store rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows) ++
      funnelFields(r) ++
      Seq("state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_OP=dedupfunnelch measures the live
    * ClickHouse-TRUE strict_deduplication funnel (r38's twin — the
    * literal scan with emit-on-resolution). Same ladder and codegen
    * pre-filter as the dedupfunnel arm (this mode ignores unrelated
    * types, so the 40% noise drops before the state store; reported
    * rate is SOURCE rows/s), state is six numbers per user, and each
    * user resolves via "complete" in its first cycle — steady state is
    * the scan fold plus resolved-user suppression.
    */
  private val dedupfunnelch = StreamArm("dedupfunnelch", "dedup_funnel_ch_rps",
    frame = (spark, rps) => StreamingDedupFunnelCH.detectExpiring(
      dedupFunnelEvents(spark, rps), FunnelWindowMs, 5000L).toDF(),
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "source rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "resolutions" -> r.sunkRows,
      "completed" -> r.sunkWhere(col("via") === "complete"),
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_OP=seqcount measures the live greedy sequence
    * counter (StreamingSeqCount — r30's streaming form): 100k concurrent
    * users cycling view → click → view → click → noise, so each 5-round
    * cycle completes two journeys per user and the noise round (20% of
    * the stream) is dropped by the codegen pre-filter before the state
    * store. State is THREE LONGS per user (seek position, match count,
    * monotone max event time for the expiry horizon) — the smallest of
    * any stateful operator here; the reported rate is source rows/s with
    * the post-filter state-store rate derivable from the 4/5 pattern
    * share.
    */
  private val seqcount = StreamArm("seqcount", "seqcount_rps",
    frame = (spark, rps) => {
      val etype = when(round === 0 || round === 2, "view")
        .when(round === 1 || round === 3, "click").otherwise("other")
      val events = StreamingSeqCount.seqEvents(
        rate(spark, rps).select(pmod(col("value"), lit(Users)).as("u"),
          col("timestamp").as("ts"), etype.as("et"), col("value").as("id")),
        col("u"), col("ts"), col("et"), col("id"), "view", "click")
      StreamingSeqCount.detectExpiring(events, 5000L).toDF()
    },
    fields = r => Seq("unit" -> "source rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "matches" -> r.sunkRows,
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_OP=seqmatch measures the live sequenceMatch
    * pattern engine (StreamingSeqMatch — r32's engine streaming): 100k
    * concurrent users cycling view → click → purchase → other → other,
    * matched against the 3-step pattern view −(within 1 h)− click −(.*)−
    * purchase, so every user completes exactly once (hits = users) and
    * the 40% noise share drops in the codegen mask filter before the
    * shuffle. State is the machine's 2 extrema longs + 2 adjacency
    * booleans + 2 scalars per user regardless of stream length; after
    * the first cycle the stage is a pure already-matched fold — the
    * steady-state cost of monitoring a matched population.
    */
  private val seqmatch = StreamArm("seqmatch", "seqmatch_rps",
    frame = (spark, rps) => {
      import graft.operators.SequenceMatch.{AnyGap, Within}
      val events = StreamingSeqMatch.patternEvents(
        ladderEvents(rate(spark, rps), userExpr),
        col("u"), col("ts"), col("id"),
        Seq(col("et") === "view", col("et") === "click",
          col("et") === "purchase"))
      StreamingSeqMatch.detectExpiring(events,
        Seq(Within(3600L), AnyGap), watermarkDelayMs = 5000L).toDF()
    },
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "source rows/sec",
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "hits" -> r.sunkRows,
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes,
      // logical payload: SeqMatchMachineState for K=3 = 2 extremum longs +
      // 2 reach booleans + matched + maxTs + the key
      "state_bytes_logical" -> r.stateRows * (2L * 8 + 2 + 1 + 8 + 8)))

  /** SPARK_GRAFT_STREAM_OP=seqnode measures the live path analyzer
    * (StreamingSeqNextNode — r35/r36's sequenceNextNode streaming): the
    * seqmatch arm's 100k-user view → click → purchase → other → other
    * layout, but EVERY row crosses the shuffle into the stateful stage —
    * next/prev-node analysis reports arbitrary event types, so there is
    * no pre-filter and the arm measures the family's heaviest shuffle
    * profile. Each user's round cycle completes one view→click journey,
    * emitting one backward node (at the click) and one forward node (at
    * the purchase). State is five scalars + the pending slot per user
    * regardless of stream length.
    */
  private val seqnode = StreamArm("seqnode", "seqnode_rps",
    frame = (spark, rps) => {
      val events = StreamingSeqNextNode.nodeEvents(
        ladderEvents(rate(spark, rps), userExpr),
        col("u"), col("ts"), col("et"), col("id"), "view", "click")
      StreamingSeqNextNode.detectExpiring(events,
        watermarkDelayMs = 24L * 3600 * 1000).toDF()
    },
    fields = r => Seq("unit" -> "source rows/sec", "hot_key" -> hotKey,
      "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
      "forward_nodes" -> r.sunkWhere(col("direction") === "forward"),
      "backward_nodes" -> r.sunkWhere(col("direction") === "backward"),
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes,
      // logical payload: SeqNodeState = lastSub int + two bounded type
      // strings (~8 B each) + pendingN + journeys + maxTs longs + the key
      "state_bytes_logical" -> r.stateRows * (4L + 8 + 8 + 8 + 8 + 8 + 8)))

  /** KMV sketch size: both the track() call and the logical state payload
    * derive from it (r15 ADVICE — the two literals drifted independently
    * before).
    */
  private val KmvK = 64

  /** SPARK_GRAFT_STREAM_OP=kmv measures the live KMV distinct-count
    * (StreamingKMV — r13's sketch streaming): EVERY source value is a
    * never-seen-before key split across 4 groups, so true cardinality
    * grows without bound while state stays 4 synopses × 64 hashes — the
    * cardinality-independence claim bloom makes for dedup, here for
    * counting, at ~5 orders of magnitude less state. The md5 runs in
    * codegen before the stateful stage; the JVM fold only merges sorted
    * hex strings. The JSON line carries the worst per-group relative
    * error vs the true distinct count, so accuracy lands in the artifact
    * next to throughput: every source value is distinct, so each group's
    * true cardinality IS the snapshot's own n_total — no drift vs
    * listener-summed input rows, and an empty sink folds to the -1.0
    * sentinel instead of throwing on .max of an empty collection.
    */
  private val kmv = StreamArm("kmv", "kmv_rps",
    frame = (spark, rps) => {
      val raw = rate(spark, rps)
      StreamingKMV.track(StreamingKMV.keyedHashes(raw,
        hotOverlay(concat(lit("g"), pmod(col("value"), lit(4))), lit("g0")),
        col("value")), k = KmvK).toDF()
    },
    fields = r => {
      val worstErr = r.sunk.map { df =>
        StreamingKMV.latest(df).collect().foldLeft(-1.0) { (acc, row) =>
          val truth = row.getAs[Long]("n_total").toDouble
          if (truth <= 0) acc
          else math.max(acc,
            math.abs(row.getAs[Double]("est_distinct") - truth) / truth)
        }
      }.getOrElse(-1.0)
      Seq("hot_key" -> hotKey, "unit" -> "rows/sec",
        "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
        "worst_rel_err" -> Raw(f"$worstErr%.4f"),
        "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes,
        // logical payload: KmvState = k minima longs + n_total + the key
        "state_bytes_logical" -> r.stateRows * (KmvK.toLong * 8 + 8 + 8))
    })

  /** The quantile arm's histogram: 1200 50-unit buckets on [95k, 155k). */
  private val QuantileCfg = QHistConfig(lo = 95000L, width = 50L, buckets = 1200)

  /** SPARK_GRAFT_STREAM_OP=quantile measures the live mergeable quantile
    * sketch (StreamingQuantileHist — r34's fixed-resolution integer
    * histogram streaming): the anomaly arm's value distribution (values
    * ~100k ± 1000 with a 1/97 spike at 150k) over 5 event-type groups,
    * [[QuantileCfg]]'s buckets — state is 5 × 1202 longs FOREVER,
    * regardless of stream length; the JVM fold is one array increment per
    * row. The JSON line carries each percentile's cross-group range so
    * the spike's ~1% mass landing in p99 (and NOT in p50/p90) is visible
    * in the artifact next to throughput.
    */
  private val quantile = StreamArm("quantile", "quantile_rps",
    frame = (spark, rps) => StreamingQuantileHist.track(
      StreamingQuantileHist.grouped(
        rate(spark, rps).select(typeGroup.as("g"), spikedValue.as("v")),
        col("g"), col("v")), QuantileCfg).toDF(),
    fields = r => {
      def range(p: String) = Raw(r.sunk.map { df =>
        val vs = StreamingQuantileHist.latest(df).collect().map(_.getAs[Long](p))
        if (vs.isEmpty) "[]" else s"[${vs.min},${vs.max}]"
      }.getOrElse("[]"))
      Seq("hot_key" -> hotKey, "unit" -> "rows/sec",
        "capacity_rps" -> r.capacity, "input_rows" -> r.inputRows,
        "p50_range" -> range("p50"), "p90_range" -> range("p90"),
        "p99_range" -> range("p99"),
        "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes,
        // logical payload: QHistState = (buckets + 2) counter longs + the key
        "state_bytes_logical" -> r.stateRows * ((QuantileCfg.buckets + 2L) * 8 + 8))
    })

  /** SPARK_GRAFT_STREAM_OP=topk measures the online SpaceSaving heavy-
    * hitter tracker (StreamingTopK): a Zipf-skewed synthetic user stream
    * (user id = rate value mod a power-law bucket) over 5 event-type
    * groups, capacity 64 per group — state is 320 tracked slots TOTAL at
    * any stream length, the smallest state of any operator here (the
    * windowagg's 2000 windows beat it only because they lapse); its
    * `state_bytes` is 5 sketch rows (one per group) regardless of how many
    * distinct items the Zipf tail generates. Reported rate is EVENTS/sec
    * into the sketch; the sink carries the per-batch ranked snapshots
    * (groups × capacity rows per batch, output-bounded).
    */
  private val topk = StreamArm("topk", "topk_rps",
    frame = (spark, rps) => {
      // Zipf-ish item draw without floats: h mod 2^16 picks a geometric
      // "tier" (half the mass tier 0, quarter tier 1, ...); the item id is
      // the tier-local bucket — tier 0 has 1 user, deeper tiers widen, so a
      // handful of users dominate exactly as real abuse traffic does.
      val h = pmod(hash(col("value")), lit(65536))
      val tier = (lit(16) - floor(log2(lit(65536) - h))).cast("long")
      val item = concat(lit("u"), tier,
        lit("_"), pmod(hash(col("value"), lit(1)), (tier * tier) * 4 + lit(1)))
      val events = rate(spark, rps).select(col("timestamp").as("ts"),
        col("value").as("seq"), typeGroup.as("group"), item.as("item"))
      StreamingTopK.track(StreamingTopK.keyedItems(events, col("ts"),
        col("seq"), col("group"), col("item")), capacity = 64).toDF()
    },
    fields = r => Seq("hot_key" -> hotKey, "unit" -> "events/sec",
      "capacity_rps" -> r.capacity, "events" -> r.inputRows,
      "snapshot_rows" -> r.sunkRows,
      "max_n_total" -> r.sunk.map(_.agg(max(col("n_total"))).collect()(0)
        .getLong(0)).getOrElse(0L),
      "tracked_distinct_items" -> r.sunk.map(_.select(countDistinct(col("item")))
        .collect()(0).getLong(0)).getOrElse(0L),
      "state_rows" -> r.stateRows, "state_bytes" -> r.stateBytes))

  /** SPARK_GRAFT_STREAM_OP=neardup measures the online LSH near-dup
    * admission path (StreamingNearDup) instead of keyed dedup: synthetic
    * 20-token docs, every 10th an exact copy of its predecessor, so ~10%
    * must be rejected on band collision. Reported rate is DOCS/sec.
    * Per-doc verdicts are combined INSIDE each micro-batch (exact: a doc's
    * band claims are emitted atomically in its arrival batch — see
    * StreamingNearDup.combine scaladoc), so the sink writes one verdict
    * row per doc instead of bands-per-doc claim rows: 4× less parquet on
    * the hot path.
    *
    * `stateful = false` is the profiling ablation (neardup_nostate): the
    * identical pipeline with the FMGWS claim stage replaced by a constant
    * verdict projection — isolates signature+band+shuffle+sink cost from
    * the stateful operator's.
    *
    * Measurement note: capacity = docs through COMPLETED data batches over
    * their processing time. The wall-clock rate under-counts by
    * construction here: offered ≫ sustained grows batches until only ~2
    * complete per window and the killed in-flight batch's work is
    * discarded — capacity is the quantization-free number (for keyed
    * dedup, which keeps up with its offered rate, the two agree). Measure
    * at a BOUNDED offered rate (SPARK_GRAFT_STREAM_RPS ≈ 1-3× expected
    * capacity): at extreme offered rates the rate source backfills the
    * first batch so far past the measurement window that no data batch
    * completes and capacity samples only warmup (the round-5 46.6k
    * reading vs 186k at 250k offered).
    */
  private def nearDup(op: String, stateful: Boolean) = StreamArm(op, "neardup_rps",
    frame = (spark, rps) => {
      val seed = when(pmod(col("value"), lit(10)) === 9, col("value") - 1)
        .otherwise(col("value"))
      // murmur3-mixed token ids: distinct docs get independent shingle sets
      // (a linear congruential stream here makes every doc collide with
      // every other — shingles must be doc-specific, not position-specific)
      val toks = (0 until 20).map(i =>
        concat(lit("w"), pmod(hash(seed, lit(i)), lit(50021))))
      val docs = rate(spark, rps).select(col("value").as("doc_id"),
          col("timestamp").as("ts"), concat_ws(" ", toks: _*).as("text"))
        .withWatermark("ts", "10 seconds")
      val bands = StreamingNearDup.bandStream(docs, col("doc_id"), col("ts"),
        col("text"))
      if (stateful) StreamingNearDup.claims(bands, Duration.parse("8h")).toDF()
      else bands.toDF().select(col("doc_id"), col("ts"), col("band_idx"),
        lit(true).as("owned"))
    },
    perBatch = StreamingNearDup.combine(_),
    value = _.sunkRows,
    fields = r => Seq("unit" -> "docs/sec", "capacity_rps" -> r.capacity,
      "docs" -> r.sunkRows, "rejected" -> r.sunkWhere(!col("kept"))))

  /** Every arm, one row per `SPARK_GRAFT_STREAM_OP` value. */
  private val arms: Seq[StreamArm] = Seq(dedup, passthrough, join, session,
    windowagg, semdedup, anomaly, bloom, funnel, strictfunnel, retention,
    dedupfunnel, funnelorderch, dedupfunnelch, seqcount, seqmatch, seqnode,
    kmv, quantile, topk, nearDup("neardup", stateful = true),
    nearDup("neardup_nostate", stateful = false))

  /** The ops `SPARK_GRAFT_STREAM_OP` accepts, in table order. */
  private[graft] def ops: Seq[String] = arms.map(_.op)

  private def armFor(op: String): StreamArm = arms.find(_.op == op)
    .getOrElse(throw new IllegalArgumentException(
      s"unknown SPARK_GRAFT_STREAM_OP '$op'; valid ops: ${ops.mkString(", ")}"))

  /** Run `op`'s arm on `spark` for `secs` at `rps` offered and return its
    * JSON line (`stateStore` is the provider label the line records).
    */
  private[graft] def runOp(spark: SparkSession, op: String, rps: Long,
                           secs: Int, stateStore: String): String =
    armFor(op).run(spark, rps, secs, stateStore)

  def main(args: Array[String]): Unit = {
    val rps = sys.env.getOrElse("SPARK_GRAFT_STREAM_RPS", "1000000").toLong
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "30").toInt
    val arm = armFor(sys.env.getOrElse("SPARK_GRAFT_STREAM_OP", "dedup"))
    val spark = GraftSession.local("graft-stream-bench")
    // State-store provider knob. The SESSION default is already RocksDB
    // (GraftSession — dedup state on local disk, the provider an 8h/100 TB
    // window needs: state = O(distinct keys in window), not bounded by
    // executor heap). SPARK_GRAFT_STATE_STORE=hdfs overrides to Spark's
    // stock heap-backed provider for an apples-to-apples throughput
    // comparison; the choice is recorded in the JSON.
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "rocksdb")
    if (stateStore.equalsIgnoreCase("hdfs"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    // Bound query.stop(): the default (0 = wait forever) hangs the bench in
    // the overload regime — offered ≫ sustained grows the in-flight batch
    // past any fixed measurement window, and stop() would wait out the whole
    // thing. 15 s lets a normal batch drain; a ballooned one is abandoned
    // (the sink only counts COMPLETED batches either way).
    spark.conf.set("spark.sql.streaming.stopTimeout", "15000")
    println(arm.run(spark, rps, secs, stateStore))
    spark.stop()
  }
}
