package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ST1 — windowed deduplication, the reference's central operator
  * (reference: config/glassflow/deduplication_pipeline.json:44-49 — keep the
  * first occurrence per `id_field` within `time_window`; later duplicates
  * dropped; oracle: sink rows == unique generated,
  * src/pipeline_test.py:21-23).
  *
  * Batch forms (this file) + streaming form (graft.streaming.StreamingDedup,
  * `dropDuplicatesWithinWatermark`). Every batch keep-first is one
  * `row_number() = 1` over (key ORDER BY ts, tiebreak), which Spark plans as
  * Sort → WindowGroupLimit(Partial) → Exchange(hash key) → Sort →
  * WindowGroupLimit(Final): one exchange on the key, a map-side cut to one
  * row per key per upstream partition before it, codegen'd UnsafeRow sorts
  * on both sides — the plan a 1000-executor cluster wants (state partitions
  * by key; no driver involvement; AQE can coalesce/split skewed partitions).
  */
object Dedup {

  /** Keep the first occurrence per key, globally (the window ≫ data horizon
    * case — the reference's actual regime: 8h window vs minutes of data).
    * The first occurrence is the least (ts, tiebreak), nulls first; the
    * window-group-limit plan (see the header) carries plain rows, so
    * Catalyst prunes columns nobody reads downstream through the dedup.
    */
  def keepFirst(df: DataFrame, key: Seq[String], ts: Column,
                tiebreak: Column): DataFrame =
    df.withColumn("__rn", row_number().over(byKeyInOrder(key, ts, tiebreak)))
      .where(col("__rn") === 1)
      .drop("__rn")

  private def byKeyInOrder(key: Seq[String], ts: Column, tiebreak: Column) =
    Window.partitionBy(key.map(col): _*).orderBy(ts, tiebreak)

  /** Tumbling-window dedup: keep the first occurrence per (key, window
    * bucket). The deterministic batch analog of "suppress duplicates within
    * time_window": duplicates landing in the same `windowMillis` bucket as
    * the original are dropped; a re-occurrence in a later bucket is kept as
    * new (matching GlassFlow's bounded dedup horizon).
    */
  def tumbling(df: DataFrame, key: Seq[String], ts: Column,
               windowMillis: Long, tiebreak: Column): DataFrame = {
    val bucket = floor(unix_millis(ts) / lit(windowMillis)).as("__bucket")
    val withBucket = df.withColumn("__bucket", bucket)
    keepFirst(withBucket, key :+ "__bucket", ts, tiebreak).drop("__bucket")
  }

  /** The full ranking: every row with its `occurrence` number per key in
    * (ts, tiebreak) order — for when the ranking itself is the output.
    * Filtering it to `occurrence = 1` plans exactly like [[keepFirst]];
    * unfiltered, it sorts every row of a key in one task.
    */
  def rankDuplicates(df: DataFrame, key: Seq[String], ts: Column,
                     tiebreak: Column): DataFrame =
    df.withColumn("occurrence", row_number().over(byKeyInOrder(key, ts, tiebreak)))

  /** Skew-hardened keep-first: [[keepFirst]] twice. Phase 1 keeps the first
    * row per (key, salt) where salt = hash(tiebreak) mod `saltBuckets` — a
    * hot key's rows spread over `saltBuckets` reducers; phase 2 keeps the
    * first of the per-salt winners per key. The first of the firsts is the
    * first, so the result is EXACTLY keepFirst's (property-tested).
    *
    * Measured (stress skew arm, results/stress_skew_2m_wgl.json + README):
    * [[keepFirst]] needs no salting — its partial WindowGroupLimit already
    * cuts a hot key to one row per upstream partition before the shuffle,
    * so the hot reducer receives #partitions rows, not the hot key's share
    * of the corpus. This form pays a second exchange and two more sorts for
    * a spread the partial limit already gives: at 2M rows with a 10% hot
    * key it takes 1.6–1.9× keepFirst's time.
    */
  def keepFirstSalted(df: DataFrame, key: Seq[String], ts: Column,
                      tiebreak: Column, saltBuckets: Int): DataFrame = {
    require(saltBuckets > 1, "saltBuckets must be > 1")
    val salted = df.withColumn("__salt", pmod(hash(tiebreak), lit(saltBuckets)))
    keepFirst(keepFirst(salted, key :+ "__salt", ts, tiebreak), key, ts, tiebreak)
      .drop("__salt")
  }
}
