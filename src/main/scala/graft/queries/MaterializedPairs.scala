package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MinHashLSH

/** Session-scoped materialization of the CANONICAL near-dup pair table —
  * the verified MinHash+LSH output (i, j, jac) at the corpus-standard
  * parameters (3-shingles, k=8 signatures, 4 bands of 2, Jaccard ≥ 0.3)
  * that SEVENTEEN queries start from: the whole graph pack (g01–g08 via
  * [[GraphQueries]]) and the dedup consumers d03/d07/d08/d17/d18/d19/
  * d21/d24/d32.
  *
  * The first consumer in a session writes the full pair table to a
  * session-scoped parquet location and every later consumer — graph or
  * dedup — reads it back: at 100 TB that is ONE corpus scan + banded join
  * for the whole downstream pack instead of seventeen. ScaleConfSpec pins
  * the read-through table equal to its direct [[build]] (the jac doubles
  * round-trip parquet exactly).
  *
  * The build starts from [[MaterializedShingles]], so the whole
  * seventeen-consumer pack costs one tokenize+shingle corpus scan AND one
  * banded join per session; cache mechanics (session-instance UUID keys,
  * shared driver+executor path, exit sweep, memoized build holder) live in
  * [[SessionCache]].
  */
object MaterializedPairs {

  /** The pair table computed directly, bypassing the cache. */
  private[graft] def build(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.nearDuplicatesFrom(
      MaterializedShingles.s3(s, dir).select(col("doc_id"), col("s3")),
      col("s3"), k = 8, r = 2, threshold = 0.3)

  /** The canonical verified near-dup pair table (i < j, exact jac ≥ 0.3),
    * materialized once per (session, sfDir).
    */
  def nearDup(s: SparkSession, dir: String): DataFrame =
    SessionCache.readThrough(s, dir, "pairs")(build(s, dir))
}
