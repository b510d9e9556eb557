package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Query packs, one per operator family (SURVEY.md §2). */
  private def packs: Seq[QueryPack] =
    Seq(CoreQueries, TextQueries, DedupQueries, SimilarityQueries, JoinQueries,
      MultimodalQueries, RelationalQueries, GraphQueries)

  // a def, not a lazy val: the oracle SQL builders read the graft.scale.*
  // conf knobs at build time, so the registry must re-evaluate per access —
  // caching would freeze the first session's knob values forever
  private def all: Seq[QueryDef] = packs.flatMap(_.defs)

  /** Flagship: the reference's whole pipeline, batch form — the
    * [[ReferencePipeline]] over 1000 unique events plus 100 re-emitted
    * copies, deduped back to the 1000 in the reference sink schema.
    * Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = ReferencePipeline(spark, 1000, 100)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** LINEAR alternate oracles for queries whose registry oracle is a
    * deliberately super-linear readable spec (r27/r32/r33's step-join
    * EXISTS forms) — used by the ×10 overflow correctness gate, where
    * the quadratic/cubic forms are infeasible at ~10k events/user.
    * `graft.Verify` overlays these when SPARK_GRAFT_ORACLE_LINEAR=1;
    * the driver's own rounds always see [[oracleSql]] unchanged.
    */
  def oracleSqlLinear: Map[String, String] = RelationalQueries.linearOracles
}
