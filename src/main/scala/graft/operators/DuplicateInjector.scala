package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S2 — duplicate injector.
  *
  * The reference re-emits a fraction of events keyed by `key_field` within the
  * dedup window; arithmetic: unique = sent/(1+ratio), duplicates =
  * unique*ratio (reference: src/generate_events.py:31-43, verified against
  * results/19_05_001_results.csv:2; `harness.Metrics.uniqueOf`/`duplicatesOf`).
  *
  * Every mode is one in-stage expansion of a single scan: each row explodes a
  * constant copy array, `[0, 1]` when it is re-emitted and `[0]` otherwise,
  * and the copy column is dropped. The literal arrays fold to constants and
  * the `Generate` runs inside the input's whole-stage codegen stage, so the
  * source is read once, with no shuffle and no driver involvement. A
  * duplicate lands right after its original in the same partition — where a
  * re-emitting producer puts it — so a map-side partial dedup
  * (`Dedup.keepFirst`'s partial WindowGroupLimit) drops it before the key
  * exchange. A row whose re-emit predicate is null is emitted once.
  *
  *  - `injectEveryK`: fully deterministic — re-emit every k-th row (ratio =
  *    1/k), spreading copies evenly over the partitions. No oracle-checked
  *    query uses it; the benchmark's batch pipeline and the tests do.
  *  - `injectFirst`: re-emit the rows with `rowId < n` — the exact reference
  *    arithmetic, sent = unique + duplicates, and the form
  *    [[graft.ReferencePipeline]] uses.
  *  - `injectSampled`: seeded Bernoulli draw, the production analog of the
  *    reference's random re-emission.
  */
object DuplicateInjector {

  private val Copy = "__graft_copy"
  private val Draw = "__graft_draw"

  /** Re-emit rows where rowId % k == 0. Exact ratio 1/k. */
  def injectEveryK(df: DataFrame, rowId: Column, k: Int): DataFrame =
    reemit(df, pmod(rowId, lit(k)) === 0)

  /** Re-emit rows where rowId < n. */
  def injectFirst(df: DataFrame, rowId: Column, n: Long): DataFrame =
    reemit(df, rowId < n)

  /** Re-emit a ~`ratio` Bernoulli sample (seeded, without replacement). The
    * draw is projected below the expansion: `Generate` must not hold a
    * nondeterministic expression.
    */
  def injectSampled(df: DataFrame, ratio: Double, seed: Long): DataFrame =
    reemit(df.withColumn(Draw, rand(seed) < ratio), col(Draw)).drop(Draw)

  private def reemit(df: DataFrame, twice: Column): DataFrame =
    df.select(col("*"),
      explode(when(twice, array(lit(0), lit(1))).otherwise(array(lit(0)))).as(Copy))
      .drop(Copy)
}
