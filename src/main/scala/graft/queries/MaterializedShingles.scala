package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ShingleHashes, TextFunctions}

/** Session-scoped materialization of the CANONICAL per-doc shingle table —
  * `(doc_id, lang, source, s3)` where `s3` is the distinct hashed
  * word-3-shingle array (60-bit md5-derived longs, see ShingleHashes) —
  * the frame SEVEN pair-generating pipelines start from: d02 (and d10's
  * pairs through it), d12, d14, d23, d25, d27, d29, plus the near-dup
  * pair-table build itself ([[MaterializedPairs]], feeding its seventeen
  * downstream consumers).
  *
  * Tokenize + shingle-hash is the per-row cost that dominates these
  * queries' corpus scan (one md5 per shingle); the first consumer in a
  * session writes the table to a session-scoped parquet location and every
  * later consumer reads it back — at 100 TB that is ONE tokenize+shingle
  * scan of the corpus for the whole dedup pack instead of seven.
  * ScaleConfSpec pins the read-through table equal to its direct [[build]]
  * (longs and arrays of longs round-trip parquet exactly, and parquet
  * preserves array element order).
  *
  * NOT covered, deliberately: d09/d20/d22 (5-gram shingles — different n,
  * one consumer each), d26 (winnowing selects window-minima over
  * POSITIONAL grams — a different kernel), d31 (positional grams with
  * multiplicity and offsets — the distinct-set table cannot express it).
  * Each already materializes its own frame within its plan; a session
  * cache with a single consumer would add a parquet write for nothing.
  */
object MaterializedShingles {

  /** The shingle table computed directly, bypassing the cache. */
  private[graft] def build(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        ShingleHashes(TextFunctions.tokens(col("text")), 3).as("s3"))

  /** The canonical distinct-3-shingle table, materialized once per
    * (session, sfDir).
    */
  def s3(s: SparkSession, dir: String): DataFrame =
    SessionCache.readThrough(s, dir, "sh3")(build(s, dir))
}
