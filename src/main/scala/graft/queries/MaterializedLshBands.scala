package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Session-scoped materialization of the banded sign-LSH index — every
  * embedding's quantized components, norm, and its (band, value) bucket
  * keys — shared by the ANN probes (s02 single-probe, s06 multi-probe),
  * the s05 recall harness's two LSH arms, and d11's semantic-dedup
  * candidate generator, which all start from the identical
  * `posexplode(lshBandVals(v, LshBands, planesFor(n), 64))` frame.
  *
  * The first consumer writes the banded table to the session-scoped
  * parquet location and the rest read it back — ONE corpus signature pass
  * (Bands × planesFor(n) exact integer dot products per vector, the
  * dominant per-row cost of each pipeline) per session instead of four.
  * Quantized longs, long arrays and IEEE-double norms round-trip parquet
  * exactly (ScaleConfSpec pins the read-through table equal to its direct
  * [[build]]). LshBands and planesFor(n) are folded into the tag (the
  * SessionCache invariant).
  */
object MaterializedLshBands {

  /** The banded corpus frame `(vec_id, v, nrm, bi, bv)`. */
  def bands(s: SparkSession, dir: String): DataFrame =
    SessionCache.readThrough(s, dir,
      SessionCache.tag("lshbands", LshBands, planes(s, dir)))(build(s, dir))

  private def planes(s: SparkSession, dir: String): Int =
    planesFor(graft.Tables.rowCount(s, dir, "embeddings"))

  /** The banded frame computed directly, bypassing the cache. */
  private[graft] def build(s: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(lshBandVals(col("v"), LshBands, planes(s, dir), 64))
          .as(Seq("bi", "bv")))
}
