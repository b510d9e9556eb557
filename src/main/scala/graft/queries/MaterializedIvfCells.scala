package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped materialization of the cosine IVF index — the '#ivf'
  * codebook and the corpus-wide cell assignment `(vec_id, v, nrm, cell)`
  * that s04 (IVF ANN search) and s21 (nprobe recall sweep) both build,
  * and which IS the "build the index once, probe it many times" contract
  * a deployed IVF store runs (the assignment is the index).
  *
  * The first consumer writes the assignment (and the exploded codebook
  * rows) to the session-scoped parquet location and the other reads them
  * back — ONE corpus assignment fold per sweep instead of two. Quantized
  * longs and IEEE doubles round-trip parquet exactly, and the codebook's
  * one-row candidate array is rebuilt with the same c_id-keyed sort_array
  * (c_id is the struct's unique leading field); ScaleConfSpec pins both
  * read-through tables equal to their direct builds. IvfK is folded into
  * the tags.
  */
object MaterializedIvfCells {

  private def base(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
  }

  /** The one-row broadcastable codebook (c_id-sorted candidate array).
    * Cached as its ≤IvfK exploded rows; the array rebuild is the same
    * deterministic sort_array.
    */
  def codebook(s: SparkSession, dir: String): DataFrame = {
    val rows = SessionCache.readThrough(s, dir,
      SessionCache.tag("ivfcents", graft.config.Scale.ivfK)) {
      buildCodebook(s, dir)
        .select(explode(col("cands")).as("c"))
        .select(col("c.c_id"), col("c.c_v"), col("c.c_nrm"))
    }
    rows.agg(sort_array(collect_list(struct(col("c_id"),
      col("c_v"), col("c_nrm")))).as("cands"))
  }

  /** The corpus-wide cell assignment `(vec_id, v, nrm, cell)`. */
  def assigned(s: SparkSession, dir: String): DataFrame =
    SessionCache.readThrough(s, dir,
      SessionCache.tag("ivfcells", graft.config.Scale.ivfK))(
      buildAssigned(s, dir, codebook(s, dir)))

  /** The codebook computed directly, bypassing the cache. */
  private[graft] def buildCodebook(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.ivfCodebook(base(s, dir))

  /** The assignment against codebook `cents`, bypassing the cache. */
  private[graft] def buildAssigned(s: SparkSession, dir: String,
                                   cents: DataFrame): DataFrame =
    SimilarityQueries.ivfAssign(base(s, dir), cents)
}
