package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries._

/** The query registry as the benchmark sees it: every query of
  * `SparkEntry.queries`, tagged with the pack that defines it.
  */
object Sweep {

  val packs: Seq[(String, QueryPack)] = Seq(
    "core" -> CoreQueries, "text" -> TextQueries, "dedup" -> DedupQueries,
    "similarity" -> SimilarityQueries, "join" -> JoinQueries,
    "multimodal" -> MultimodalQueries, "relational" -> RelationalQueries,
    "graph" -> GraphQueries)

  /** Query name -> pack name, for every registered query. */
  lazy val packOf: Map[String, String] =
    packs.flatMap { case (p, qp) => qp.defs.map(_.name -> p) }.toMap

  /** The session caches, switched on as `graft.Bench` switches them. */
  val cacheKnobs: Seq[String] = Seq(
    "graphEdgeCache", "shingleCache", "groundTruthCache", "kmeansCache",
    "alignCache", "ivfCache", "lshBandsCache")

  def cachesOn(spark: SparkSession): Unit =
    cacheKnobs.foreach(k => spark.conf.set(s"spark.graft.scale.$k", "1"))

  def query(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Drop the blocks a query materialized, as `graft.Bench` does between
    * queries; the session caches live in parquet and survive this.
    */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
