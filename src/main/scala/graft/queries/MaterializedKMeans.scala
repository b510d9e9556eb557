package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.quantize

/** Session-scoped materialization of the CANONICAL k-means fit — the final
  * Lloyd assignment `(vec_id, v, c_id, d2)` over the quantized embeddings
  * table — shared by the THREE clustering consumers: s10 (the cell census),
  * s11 (cluster-balanced sampling), d15 (SemDeDup cluster-then-dedup).
  *
  * Each consumer previously ran its own KmIters-pass Lloyd fit over the
  * same corpus with identical knobs (r15 VERDICT task 2: s10/s11/d15 were
  * three of the sweep's most expensive queries, each paying T corpus scans
  * plus T driver codebook materializations). The first consumer in a
  * session writes the assignment to a session-scoped parquet location and
  * the rest read it back — at 100 TB that is ONE k-means fit per pipeline
  * instead of three. The fit is deterministic (lowest-k-by-md5 seeds,
  * exact integer arithmetic — see [[graft.operators.KMeans]]) and
  * longs/long-arrays round-trip parquet exactly; ScaleConfSpec pins the
  * read-through table equal to its direct [[build]].
  *
  * The tag folds in every knob the build reads (kmK, kmIters; Dims and the
  * quantization scale are compile-time constants of the embeddings table),
  * per the [[SessionCache.readThrough]] invariant.
  */
object MaterializedKMeans {

  /** Quantized embedding vectors: `(vec_id, v: array<long>)`. */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))

  /** The fit computed directly, bypassing the cache. */
  private[graft] def build(s: SparkSession, dir: String): DataFrame =
    graft.operators.KMeans.cluster(vecs(s, dir).localCheckpoint(), dims = 64,
      k = graft.config.Scale.kmK, iters = graft.config.Scale.kmIters)

  /** The final k-means assignment `(vec_id, v, c_id, d2)`, materialized
    * once per (session, sfDir, kmK, kmIters).
    */
  def cells(s: SparkSession, dir: String): DataFrame =
    SessionCache.readThrough(s, dir, SessionCache.tag("kmcells",
      graft.config.Scale.kmK, graft.config.Scale.kmIters))(build(s, dir))
}
