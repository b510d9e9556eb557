package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped parquet read-through cache — the one way graft builds
  * its session-shared derived tables: the near-dup pair table
  * ([[MaterializedPairs]]), the per-doc shingles ([[MaterializedShingles]])
  * and d02's overlap pairs, the recall harness's ground truth, the k-means
  * fit ([[MaterializedKMeans]]), the aligned runs
  * ([[MaterializedAlignedRuns]]), the IVF index ([[MaterializedIvfCells]])
  * and the LSH bands ([[MaterializedLshBands]]). It is always on: Verify,
  * the tests, Bench, Explain and graftbench all run the same path.
  *
  * The cache memoizes each built table's PARQUET PATH plus its resolved
  * DataFrame (round 18 — metadata only: schema + file index; execution
  * still scans the written parquet, so the bench harness's per-query
  * unpersist sweep cannot truncate anything, unlike a cached
  * localCheckpoint's blocks). Keys are a per-session-INSTANCE UUID
  * (never an identity hash: those are non-unique across live sessions and
  * reusable after GC, which could serve a stale table built under a
  * different conf), the location is shared between driver and executors
  * (`spark.graft.scale.sessionCachePath`, else warehouse-relative), and
  * every root written this JVM is swept on exit.
  *
  * Concurrency: the map holds MEMOIZED THUNKS, not eagerly-built paths.
  * `computeIfAbsent` only constructs the lazy holder — O(1) under the
  * bin lock — and the corpus scan + parquet write runs under the holder's
  * own monitor, outside the map. Two concurrent consumers of the SAME
  * (session, dir, tag) still serialize on the one build (by design: the
  * whole point is a single materialization), but a consumer of a
  * DIFFERENT key that happens to share the hash bin is never blocked for
  * the duration of a Spark job (round-11 advice item).
  */
private[graft] object SessionCache {

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), () => DataFrame]

  /** Cache roots created this JVM, swept by [[cleanupHook]] on exit. Each
    * entry carries the Hadoop conf it was written with so remote-FS roots
    * (HDFS/S3 warehouse) delete through the right filesystem.
    */
  private val cacheRoots = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.hadoop.conf.Configuration]

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      cacheRoots.forEach { (root, conf) =>
        try {
          val p = new org.apache.hadoop.fs.Path(root)
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: Throwable => () } // best-effort sweep
      }
    }, "graft-session-cache-cleanup"))

  /** A real unique id per session INSTANCE: a fresh UUID minted on first
    * use and held in a weak map (Spark's own `sessionUUID` has the
    * semantics we want but is private[sql]). Weak keys mean a dead
    * session's entry vanishes and a new session can only ever mint a NEW
    * id.
    */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String])
  private def sessionId(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Where cached tables live: `spark.graft.scale.sessionCachePath` if
    * set, else warehouse-relative
    * (`spark.sql.warehouse.dir`) — a location SHARED between driver and
    * executors on a real cluster. A `createTempDirectory` driver-local path
    * would only work when driver and executors share a filesystem (local
    * mode); on the 100 TB cluster shape this knob targets, executors
    * writing/reading a non-shared local path would fail or silently produce
    * partial reads.
    */
  private[graft] def cacheRoot(s: SparkSession): String = {
    val base = s.conf.getOption("spark.graft.scale.sessionCachePath")
      .getOrElse(s.conf.get("spark.sql.warehouse.dir"))
    s"${base.stripSuffix("/")}/graft_cache/${sessionId(s)}"
  }

  /** Build a cache tag from a base name plus EVERY knob value the build
    * reads — the [[readThrough]] invariant made mechanical. Callers fold
    * each parameter/conf that changes the built table's contents in here
    * instead of hand-concatenating (round-12 advice: nothing but caller
    * discipline kept build-affecting knobs inside the tag).
    */
  def tag(base: String, knobs: Any*): String =
    if (knobs.isEmpty) base else base + ":" + knobs.mkString("_")

  /** The cached table for (session, dir, tag), built+written by the FIRST
    * consumer and read back by every later one. `build` must be
    * deterministic for the session's conf — the round-trip parity is
    * spec-pinned per table (ScaleConfSpec).
    *
    * INVARIANT — the tag MUST encode every knob the build reads: the key
    * is (session, dir, tag) and nothing else, so a conf value that alters
    * the built table but is absent from the tag would serve a stale table
    * to a later consumer running under a different value mid-session.
    * Construct tags with [[tag]] (base + knob values) rather than a bare
    * string whenever the build takes parameters; a parameterless build
    * (e.g. MaterializedShingles' fixed k=3 shingles) may use a constant.
    */
  def readThrough(s: SparkSession, dir: String, tag: String)
                 (build: => DataFrame): DataFrame = {
    cleanupHook // register the exit sweep once
    val key = (sessionId(s), dir, tag)
    val holder = cache.computeIfAbsent(key, _ => {
      // lazy val: the build runs on FIRST dereference, under the holder's
      // monitor — NOT under the ConcurrentHashMap bin lock. The RESOLVED
      // DataFrame is memoized with the path (round 18): the written files
      // are immutable for the key's lifetime, and a fresh s.read.parquet
      // per consumer paid a ~50 ms footer-inference job — metadata reuse
      // only, execution still scans the parquet every run.
      lazy val df: DataFrame = {
        val root = cacheRoot(s)
        cacheRoots.putIfAbsent(root, s.sparkContext.hadoopConfiguration)
        // one subdir per source dir under the session root; the dir string
        // is hashed so URIs/slashes can't break the path
        val p = s"$root/${java.lang.Integer.toHexString(dir.hashCode)}/$tag"
        build.write.mode("overwrite").parquet(p)
        s.read.parquet(p)
      }
      () => df
    })
    holder()
  }

  /** Forget every table cached for `s` and delete its cache root. The
    * session then mints a new id, so the next consumer rebuilds into a
    * fresh root; a frame still holding the old files fails loudly on its
    * next scan. Stress calls this before each timed execution so every
    * query is charged its own builds.
    */
  private[graft] def clear(s: SparkSession): Unit = {
    val id = sessionId(s)
    val root = cacheRoot(s)
    cache.keySet.removeIf(_._1 == id)
    sessionIds.remove(s)
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a root whose delete fails or throws stays registered for the exit sweep
    if (fs.delete(p, true) || !fs.exists(p)) cacheRoots.remove(root)
  }
}
