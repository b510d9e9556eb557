package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-ready defaults.
  *
  * Local mode sizes shuffle parallelism to the core count (Spark's 200
  * default over-partitions a single node); on a real cluster the same
  * builder is used with `master` unset and AQE coalescing the 2× initial
  * partitions down to data-proportional sizes. Streaming state goes to
  * RocksDB so 8h-window dedup state (SURVEY.md §7.4) is bounded by disk,
  * not heap.
  *
  * Local files go through [[graft.sources.NioLocalFileSystem]]
  * ([[localFileSystemConf]]). Without the native-hadoop library Hadoop's
  * local file system starts a `chmod` process for every `file:` create or
  * mkdir and a `readlink` process for every `FileContext` rename, about
  * 2 ms each, on every local write path: Spark's offset and commit logs,
  * the RocksDB changelog commits, the checkpoint checksum files, the
  * sink's epochs and the session cache's parquet. One graftbench
  * `stream_dedup` run (5,500 rows/s, RocksDB state, 2 s trigger,
  * `IdempotentParquetSink`, 4 vCPUs) started 999 processes, about 120
  * per micro-batch (672 `readlink`, 317 `chmod`); with the swap it starts
  * 10 or 11, all JVM and Spark one-offs (`setsid`, `getconf`, `env`, `rm -rf`).
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Silence the RocksDB native-side info logger. Spark derives the native
    * log level from this class's slf4j level (warn-enabled → WARN_LEVEL), so
    * at the default level every state-store instance streams WARN/header
    * traffic through rocksdbjni's LoggerJniCallback — whose native Logv has
    * crashed a StreamBench run with a SIGSEGV. OFF here leaves the native
    * level at its ERROR floor: the callback stays registered but sees no
    * routine traffic. Safe no-op if the logging backend is not log4j2.
    */
  def quietRocksDbNativeLogger(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.state.RocksDB",
      org.apache.logging.log4j.Level.OFF)
    catch { case _: Throwable => () }

  /** The Hadoop keys that resolve `file:` to the fork-free local file
    * system, for both the `FileSystem` and the `FileContext` API. Hadoop
    * caches `FileSystem` instances by scheme, authority and user, not by
    * conf: a `file:` instance obtained in this JVM before the session was
    * built stays the stock one.
    */
  val localFileSystemConf: Map[String, Any] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioChecksumFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.sources.NioLocalFs].getName)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Commit writes only the batch's changelog; full snapshots move to the
      // background maintenance thread. Without this every commit uploads a
      // full RocksDB snapshot — measured 25 s (summed across 32 partitions)
      // per batch on 1M state rows, the dominant cost of the streaming
      // near-dup stage.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.ui.enabled", "false")
      .config(localFileSystemConf)

  /** Local session: local[N] with shuffle partitions = N.
    *
    * `spark.buffer.pageSize` is pinned (default 4m, `SPARK_GRAFT_PAGE_SIZE`
    * overrides): Spark derives page size as maxMemory/cores/16 capped at
    * 64 MiB, and on this profile's ~100 GiB single-JVM heap the cap wins —
    * then EVERY sort/aggregate task allocates 64 MiB pages, which on G1
    * (32 MiB max region) are humongous objects. Round-18 measured the
    * resulting allocation storm at 26-100 task-seconds for a 5,500-row
    * keep-first dedup, with 12-21 s GC pauses and run-over-run degradation;
    * at 4 MiB the same query is stable at a tenth of that. 4 MiB is what a
    * normal 8 GiB / 4-core executor derives anyway, so cluster semantics
    * are unchanged — this only removes the big-heap pathology.
    */
  def local(appName: String = "graft"): SparkSession = {
    val n = cpus
    val s = builder(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.buffer.pageSize",
        sys.env.getOrElse("SPARK_GRAFT_PAGE_SIZE", "4m"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    quietRocksDbNativeLogger()
    s
  }

  /** Cluster profile for a multi-executor deployment (master comes from
    * spark-submit). The knobs and their reasoning, sized for ~1000 executors
    * over ~100 TB of parquet:
    *
    *  - shuffle partitions START at 2× total executor cores and AQE
    *    coalesces down per stage — starting low cannot be fixed at runtime
    *    (AQE only merges partitions, never splits a straggler);
    *  - scan splits target 128 MiB so a 100 TB table yields ~800k tasks of
    *    even size rather than a few giant row-group-bound splits;
    *  - AQE's advisory post-shuffle size of 64 MiB keeps reduce tasks
    *    executor-memory-sized with room for join/agg hash tables.
    *
    * Exposed as a Map so the profile is spec-checkable and composable with
    * spark-submit overrides (anything set on the command line wins).
    */
  def clusterConfigs(totalCores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      (64L * 1024 * 1024).toString)

  /** Cluster session: [[builder]] defaults + [[clusterConfigs]]. */
  def cluster(appName: String = "graft",
              totalCores: Int = 16000): SparkSession = {
    val b = builder(appName)
    clusterConfigs(totalCores).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    quietRocksDbNativeLogger()
    s
  }
}
