package graft.config

/** The engine's scale knobs, read through Spark conf
  * (`spark.graft.scale.<knob>`) with defaults equal to the test-profile
  * values every committed oracle is pinned to — so a 100 TB profile is a
  * session setting, not a code edit.
  *
  * Both the DataFrame plan AND the generated DuckDB oracle SQL read each
  * knob at query-BUILD time (the SQL builders are defs, not init-time
  * vals), so an override can never desync the two sides of a verify run.
  *
  * Production sizing guidance lives in the README's "Scale knobs" table;
  * the short version: the fixed-K knobs (queryK, ivfK, codeK, kmK) bound
  * broadcast codebooks and map-side work — raising them changes constants,
  * never plan shapes, so the 100 TB plans are the sf0.01 plans.
  *
  * There is no cache knob: the session-shared tables (pair table,
  * shingles, ground truth, k-means fit, aligned runs, IVF index, LSH
  * bands) are always built once per session through
  * [[graft.queries.SessionCache]], and each cache tag folds in every knob
  * here that its build reads.
  */
object Scale {

  /** Latched true the first time a knob is read with NO session reachable
    * at all — the one situation where an overridden profile silently
    * degrades to test defaults. `getActiveSession` is thread-local, so a
    * pool thread created before any session existed (e.g. a lazily-built
    * executor or exchange pool) would miss it; reads therefore fall back to
    * `getDefaultSession` (JVM-global, set at session creation), which keeps
    * the conf override visible from ANY thread. Only when both are None —
    * no session anywhere in the JVM — does the knob return its test-profile
    * default, and this guard makes that case loud (one stderr line + an
    * inspectable flag) instead of a silent desync.
    */
  @volatile private var offSessionFallback = false

  /** True iff some knob read ever fell back with no session reachable. */
  def sawOffSessionFallback: Boolean = offSessionFallback

  /** Test hook: clear the latch. */
  private[graft] def resetFallbackLatch(): Unit = offSessionFallback = false

  private def get(key: String, dflt: Int): Int = {
    import org.apache.spark.sql.SparkSession
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) =>
        s.conf.getOption(s"spark.graft.scale.$key").map(_.toInt).getOrElse(dflt)
      case None =>
        if (!offSessionFallback) {
          offSessionFallback = true
          System.err.println(
            s"[graft] Scale.$key read with no SparkSession anywhere in the " +
              "JVM — using test-profile default; spark.graft.scale.* " +
              "overrides are NOT visible here")
        }
        dflt
    }
  }

  /** ANN / brute-force query sample size (s01/s02/s04/s05/s06/s12). */
  def queryK: Int = get("queryK", 50)

  /** Label-cohesion pair sample size (s03). */
  def pairSampleK: Int = get("pairSampleK", 100)

  /** IVF coarse-centroid count (s04). */
  def ivfK: Int = get("ivfK", 64)

  /** PQ sub-centroids per subspace (s08). */
  def codeK: Int = get("codeK", 8)

  /** K-means cell count (s10/s11/d15). */
  def kmK: Int = get("kmK", 8)

  /** K-means Lloyd iterations = corpus map passes (s10/s11/d15). */
  def kmIters: Int = get("kmIters", 2)

  /** Per-cell quota in cluster-balanced sampling (s11). */
  def cellQuota: Int = get("cellQuota", 10)

  /** Shingle document-frequency cap in pair generation (d02/d10): groups
    * larger than this are stop-shingles, dropped before the pair join.
    */
  def maxDf: Int = get("maxDf", 1000)
}
