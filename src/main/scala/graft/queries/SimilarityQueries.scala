package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TopKByScore
import graft.functions.TextFunctions.distinctTokens
import graft.functions.VectorFunctions._

/** Similarity search over the embeddings table (64-dim float vectors).
  *
  * s01 is the exact brute-force baseline (bounded query set × all vectors);
  * s02 is the scale path — random-hyperplane LSH buckets turn the O(n²)
  * search into an equi-join on bucket id. Both use quantized-integer dot
  * products (exact, order-independent) so results are bit-identical to the
  * SQL oracle.
  */
object SimilarityQueries extends QueryPack {

  private val Dims = 64

  /** Planes per band at the VERIFY scale (sf0.01/sf0.001, ≤2000 vectors —
    * `planesFor` stays at its MinPlanes floor). The DataFrame side computes
    * `planesFor(count)` at runtime so bucket count grows with the corpus
    * (bounded occupancy, see VectorFunctions); the SQL oracle is a static
    * string, so it pins the floor value. If the verify corpus ever grows past
    * 2^MinPlanes·TargetBucketSize (16384 rows) the oracle diverges loudly
    * (hash mismatch), not silently.
    */
  private val SqlPlanes = graft.functions.VectorFunctions.MinPlanes
  private val Bands = graft.functions.VectorFunctions.LshBands

  /** Fixed sizes for the measurement query/pair samples. A modulus filter
    * (`vec_id % 25`) selects n/25 queries — measurement cost O(n²/25), still
    * quadratic at 100×. A fixed-size sample keeps brute-force ground truth
    * and recall measurement O(k·n) at any corpus size. k is sized for the
    * test tables; a production deployment would raise it (~1000) without
    * changing the plan shape.
    */
  private def QueryK: Int = graft.config.Scale.queryK
  private def PairSampleK: Int = graft.config.Scale.pairSampleK

  /** The k vec_ids with the smallest md5(vec_id) — a deterministic,
    * size-fixed, engine-portable sample. Plans as TakeOrderedAndProject
    * (per-partition top-k, no global sort) over a vec_id-only pruned scan,
    * and is broadcast to consumers: the big side never shuffles for the
    * sample join.
    */
  private def sampleIds(s: SparkSession, dir: String, k: Int): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)

  /** DuckDB rendering of [[sampleIds]] (same md5-of-decimal-string order). */
  private def sampleSql(k: Int): String =
    s"SELECT vec_id FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k"

  /** Rank candidate pairs (query_id, neighbor_id, cos) down to per-query
    * top-k via the partial-combinable TopKByScore aggregator — the shuffle
    * carries ≤ k rows per (map partition × query) instead of the whole
    * candidate matrix a window row_number would sort (see TopKByScore).
    * Output ordering is identical to ROW_NUMBER(ORDER BY cos DESC, id).
    */
  private def topkRank(pairs: DataFrame, k: Int): DataFrame = {
    val topk = TopKByScore(k)
    pairs.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cos")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos"))
  }

  /** The shared vector base every similarity pipeline starts from: quantized
    * components + precomputed norm. Each standalone query builds its own;
    * s05/s14/s16 read it ONCE per session ([[recallBase]]) and feed every
    * pipeline from it — at 100 TB that is the difference between one corpus
    * scan and four.
    */
  private def baseVecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))

  /** s01 — brute-force cosine top-k: a fixed QueryK-vector sample is the
    * query set; rank all other vectors by exact quantized cosine, keep top 5.
    * Cost is O(k·n) — the definitional ground truth stays affordable at any
    * corpus size because k is fixed, not a fraction of n.
    */
  /** Brute-force scored (query_id, neighbor_id, cos) pairs: fixed-k
    * broadcast query sample × corpus, one map-side O(k·n) scoring pass.
    * The single source of the exact-cosine formula for s01's top-k, s12's
    * radius filter, and (through s01From) s05's ground truth.
    */
  private def bruteScoredPairs(q: DataFrame, ids: DataFrame): DataFrame = {
    val queries = q.join(broadcast(ids), "vec_id")
    queries.as("a").join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
  }

  private def s01From(q: DataFrame, ids: DataFrame): DataFrame =
    topkRank(bruteScoredPairs(q, ids), 5).orderBy(col("query_id"), col("rk"))

  private def s01(s: SparkSession, dir: String): DataFrame =
    s01From(baseVecs(s, dir), sampleIds(s, dir, QueryK))

  private def s01Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |qs AS (${sampleSql(QueryK)}),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
      |r AS (SELECT query_id, neighbor_id, cos,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      | FROM p)
      |SELECT query_id, rk, neighbor_id, cos FROM r WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Shared banded-LSH candidate generator: every vector hashes into
    * [[Bands]] independent sign-LSH bands ([[lshBandVals]], `p` planes each,
    * `p = planesFor(n)` so per-band bucket occupancy is bounded by a
    * constant at any corpus size); candidates are the DISTINCT union over
    * bands of same-(band, value) pairs with the fixed QueryK query sample —
    * an equi-join on (band_idx, band_val), never a cartesian. Multi-probe
    * additionally probes the p buckets at Hamming distance 1 within each
    * band (one flipped sign bit) — the standard recall/cost knob for sign
    * LSH.
    *
    * Scale shape: the corpus side never shuffles — its banded frame (vectors
    * included: a pure projection feeding the map-side probe of a broadcast
    * hash join costs nothing on the wire) streams through one
    * BroadcastHashJoin against the tiny query side (fixed-k × bands ×
    * probes, query vectors attached), scores in the same stage, and the only
    * exchanges in the whole candidate pipeline are the pair-dedup DISTINCT
    * and topkRank's final aggregation — both over ≤ QueryK · Bands · probes
    * · TargetBucketSize candidate rows. Scoring before the distinct is safe:
    * a pair colliding in several bands produces bit-identical cos values.
    */
  private def lshPairsFromBands(bands: DataFrame, ids: DataFrame, p: Int,
                                multiProbe: Boolean): DataFrame = {
    val own = bands.join(broadcast(ids), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bi"), col("bv"))
    val qBands =
      if (!multiProbe) own
      else {
        val masks = array(lit(0L) +: (0 until p).map(h => lit(1L << h)): _*)
        own.select(col("query_id"), col("qv"), col("qnrm"), col("bi"),
          explode(transform(masks, m => col("bv").bitwiseXOR(m))).as("bv"))
      }
    bands.as("b").join(broadcast(qBands.as("a")),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
        col("query_id") =!= col("b.vec_id"))
      .select(col("query_id"), col("b.vec_id").as("neighbor_id"),
        (dotLong(col("qv"), col("b.v")).cast("double")
          / (col("qnrm") * col("b.nrm"))).as("cos"))
      .distinct()
  }

  /** Banded (band_idx, band_val) SQL CTE over the quantized CTE `q` — the
    * shared renderer, so this oracle and d11's can't drift apart.
    */
  private def bandsCteSql(p: Int): String =
    graft.functions.VectorFunctions.lshBandsCteSql(Bands, p, Dims)

  /** s02 — banded-LSH ANN: [[Bands]] sign-LSH bands of `planesFor(n)`
    * deterministic md5-derived hyperplanes each; candidates from the
    * (band, value) equi-join unioned across bands, then exact top-3 re-rank.
    * Same query set as s01, so recall is directly observable (s05).
    */
  private def s02(s: SparkSession, dir: String): DataFrame = {
    val p = planesFor(Tables.rowCount(s, dir, "embeddings"))
    topkRank(lshPairsFromBands(MaterializedLshBands.bands(s, dir),
      sampleIds(s, dir, QueryK), p, multiProbe = false), 3)
      .orderBy(col("query_id"), col("rk"))
  }

  private val s02Sql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |${bandsCteSql(SqlPlanes)},
       |qs AS (${sampleSql(QueryK)}),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       | FROM bands a JOIN bands b
       |   ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id <> b.vec_id
       | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
       |p AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_dot_product(x.v::DOUBLE[], y.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(x.v::DOUBLE[], x.v::DOUBLE[])) *
       |   sqrt(list_dot_product(y.v::DOUBLE[], y.v::DOUBLE[]))) AS cos
       | FROM cand JOIN q x ON x.vec_id = cand.query_id
       |           JOIN q y ON y.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       | FROM p)
       |SELECT query_id, rk, neighbor_id, cos FROM r WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin

  /** s03 — label-cohesion analytics: mean within- vs cross-label cosine over
    * a fixed-size deterministic sample (PairSampleK vectors → k(k-1)/2 pairs
    * regardless of corpus size; a mod-filter sample would grow the pair count
    * quadratically with n). Mean of exact-int-derived doubles is
    * decimal-summed for order-independence.
    */
  private def s03(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .join(broadcast(sampleIds(s, dir, PairSampleK)), "vec_id")
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select((col("a.label") === col("b.label")).as("same_label"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .groupBy(col("same_label"))
      .agg(
        count(lit(1)).as("n_pairs"),
        // exact path to a cross-engine-stable mean: round each cosine to 6
        // decimals (deterministic on identical double bits), sum as exact
        // integers, divide once at the end
        (sum(round(col("cos") * 1000000).cast("long")).cast("double")
          / count(lit(1)) / 1000000.0).as("mean_cos_r6"))
      .orderBy(col("same_label"))
  }

  private def s03Sql: String =
    s"""WITH qs AS (${sampleSql(PairSampleK)}),
      |q AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings WHERE vec_id IN (SELECT vec_id FROM qs)),
      |p AS (SELECT a.label = b.label AS same_label,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id < b.vec_id)
      |SELECT same_label, COUNT(*) AS n_pairs,
      |  CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS DOUBLE)
      |    / COUNT(*) / 1000000.0 AS mean_cos_r6
      |FROM p GROUP BY same_label ORDER BY same_label""".stripMargin

  /** Fixed centroid count for s04 — a constant, never a corpus fraction:
    * the broadcast codebook is provably O(IvfK) at any scale.
    */
  private def IvfK: Int = graft.config.Scale.ivfK
  private val NProbe = 2

  /** s04 — IVF-style ANN, s08's codebook shape: the centroid set is a
    * FIXED-[[IvfK]] lowest-k-by-salted-md5 sample (the same engine-portable
    * sampler as [[sampleIds]]; '#ivf' salt decorrelates it from the query
    * sample), collapsed into ONE broadcast frame holding the sorted
    * candidate array. Cell assignment is a per-row argmax fold over the
    * broadcast array — the corpus NEVER shuffles and the broadcast never
    * grows with n (the previous modulus sample was n/97 rows: an unbounded
    * broadcast plus an O(n²/97) crossJoin score matrix). A query probes its
    * [[NProbe]] nearest cells and exact-ranks only those cells' members,
    * via a broadcast of the (query × probe-cell) list against the assigned
    * corpus — again no corpus shuffle. The inverted-file layout is the
    * scale path when hyperplane LSH (s02) recall is too coarse: cells adapt
    * to the data distribution.
    */
  /** The '#ivf' codebook as ONE broadcastable row — the c_id-sorted
    * (c_id, c_v, c_nrm) candidate array (fixed-IvfK salted sample).
    */
  private[queries] def ivfCodebook(q: DataFrame): DataFrame = {
    val centIds = q.select(col("vec_id"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("#ivf"))),
        col("vec_id"))
      .limit(IvfK)
    q.join(broadcast(centIds), "vec_id")
      .agg(sort_array(collect_list(struct(col("vec_id").as("c_id"),
        col("v").as("c_v"), col("nrm").as("c_nrm")))).as("cands"))
  }

  /** Cosine-nearest cell assignment over the whole corpus:
    * (vec_id, v, nrm, cell). Per-row argmax-ccos fold over the broadcast
    * codebook (candidates are c_id-sorted and the comparison is strict,
    * so exact double ties keep the smaller c_id — the same rule as the
    * oracle's ROW_NUMBER(ORDER BY ccos DESC, c_id)); the corpus never
    * shuffles.
    */
  private[queries] def ivfAssign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("best", aggregate(col("cands"),
        named_struct(lit("ccos"), lit(-2.0), lit("cell"), lit(-1L)),
        (acc, c) => {
          val ccos = dotLong(col("v"), c.getField("c_v")).cast("double") /
            (col("nrm") * c.getField("c_nrm"))
          when(ccos > acc.getField("ccos"),
            named_struct(lit("ccos"), ccos, lit("cell"), c.getField("c_id")))
            .otherwise(acc)
        }))
      .select(col("vec_id"), col("v"), col("nrm"), col("best.cell").as("cell"))

  /** IVF search over the corpus-side frames [[MaterializedIvfCells]]
    * shares between s04, s05's IVF arm and s21.
    */
  private def s04From(q: DataFrame, ids: DataFrame, withCell: DataFrame,
                      cents: DataFrame): DataFrame = {
    // query probes: explode the codebook only for the fixed-k query rows
    val topc = TopKByScore(NProbe)
    val probes = q.join(broadcast(ids), "vec_id")
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), explode(col("cands")).as("c"))
      .select(col("vec_id").as("query_id"), col("c.c_id").as("c_id"),
        (dotLong(col("v"), col("c.c_v")).cast("double") /
          (col("nrm") * col("c.c_nrm"))).as("ccos"))
      .groupBy(col("query_id"))
      .agg(topc(col("c_id"), col("ccos")).as("pc"))
      .select(col("query_id"), explode(col("pc.id")).as("p_cell"))
    val qv = q.join(broadcast(ids), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val pairs = withCell.as("nn")
      .join(broadcast(probes.join(broadcast(qv), "query_id")),
        col("p_cell") === col("nn.cell") &&
        col("nn.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("nn.vec_id").as("neighbor_id"),
        (dotLong(col("qv"), col("nn.v")).cast("double")
          / (col("qnrm") * col("nn.nrm"))).as("cos"))
    topkRank(pairs, 3).orderBy(col("query_id"), col("rk"))
  }

  private def s04(s: SparkSession, dir: String): DataFrame = {
    s04From(baseVecs(s, dir), sampleIds(s, dir, QueryK),
      MaterializedIvfCells.assigned(s, dir),
      MaterializedIvfCells.codebook(s, dir))
  }

  private def s04Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |cid AS (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ivf'), vec_id LIMIT $IvfK),
      |c AS (SELECT q.vec_id AS c_id, q.v AS c_v FROM q
      |  WHERE q.vec_id IN (SELECT vec_id FROM cid)),
      |qs AS (${sampleSql(QueryK)}),
      |score AS (SELECT q.vec_id, q.v, c.c_id,
      |  list_dot_product(q.v::DOUBLE[], c.c_v::DOUBLE[]) /
      |  (sqrt(list_dot_product(q.v::DOUBLE[], q.v::DOUBLE[])) *
      |   sqrt(list_dot_product(c.c_v::DOUBLE[], c.c_v::DOUBLE[]))) AS ccos
      | FROM q CROSS JOIN c),
      |assign AS (SELECT vec_id, c_id AS cell FROM (
      |  SELECT vec_id, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn
      |  FROM score) WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, c_id AS cell FROM (
      |  SELECT vec_id, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn
      |  FROM score WHERE vec_id IN (SELECT vec_id FROM qs)) WHERE rn <= 2),
      |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      | FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.query_id),
      |pr AS (SELECT cand.query_id, cand.neighbor_id,
      |  list_dot_product(x.v::DOUBLE[], y.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(x.v::DOUBLE[], x.v::DOUBLE[])) *
      |   sqrt(list_dot_product(y.v::DOUBLE[], y.v::DOUBLE[]))) AS cos
      | FROM cand JOIN q x ON x.vec_id = cand.query_id
      |           JOIN q y ON y.vec_id = cand.neighbor_id),
      |r AS (SELECT query_id, neighbor_id, cos,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      | FROM pr)
      |SELECT query_id, rk, neighbor_id, cos FROM r WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  /** s06 — multi-probe banded-LSH ANN: s02 plus Hamming-1 probe buckets
    * within each band. Compare the s05 recall rows to see what the extra
    * probes buy.
    */
  private def s06(s: SparkSession, dir: String): DataFrame = {
    val p = planesFor(Tables.rowCount(s, dir, "embeddings"))
    topkRank(lshPairsFromBands(MaterializedLshBands.bands(s, dir),
      sampleIds(s, dir, QueryK), p, multiProbe = true), 3)
      .orderBy(col("query_id"), col("rk"))
  }

  private val s06Sql: String = {
    val maskList =
      (0L +: (0 until SqlPlanes).map(h => 1L << h)).mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |${bandsCteSql(SqlPlanes)},
       |qs AS (${sampleSql(QueryK)}),
       |mk AS (SELECT unnest($maskList) AS m),
       |qp AS (SELECT vec_id, bi, xor(CAST(bv AS BIGINT), CAST(m AS BIGINT)) AS bv
       | FROM bands, mk WHERE vec_id IN (SELECT vec_id FROM qs)),
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       | FROM qp a JOIN bands b
       |   ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id <> b.vec_id),
       |p AS (SELECT cand.query_id, cand.neighbor_id,
       |  list_dot_product(x.v::DOUBLE[], y.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(x.v::DOUBLE[], x.v::DOUBLE[])) *
       |   sqrt(list_dot_product(y.v::DOUBLE[], y.v::DOUBLE[]))) AS cos
       | FROM cand JOIN q x ON x.vec_id = cand.query_id
       |           JOIN q y ON y.vec_id = cand.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
       | FROM p)
       |SELECT query_id, rk, neighbor_id, cos FROM r WHERE rk <= 3
       |ORDER BY query_id, rk""".stripMargin
  }

  /** One recall row (method, n_queries, n_hits, n_possible, recall) for an
    * ANN result set against a materialized exact ground truth — hit counting
    * is a left-semi join on (query_id, neighbor_id); `base` is the 1-row
    * (n_queries, n_possible) aggregate cross-joined in. Shared by s05 (ANN
    * methods) and s14 (truncated-dimension sweeps).
    */
  /** The recall harness's shared inputs — quantized base vectors, the
    * fixed QueryK query sample, the exact full-dimension top-3 ground
    * truth, and its 1-row (n_queries, n_possible) totals — identical in
    * s05, s14 and s16. The four tables read through the session parquet
    * cache, so separated bench passes and the three consumers share ONE
    * O(k·n) exact scoring pass — the shape a 100 TB vector deployment uses
    * (ground truth computed once, every ANN/truncation/projection arm
    * scored against the same table). QueryK is folded into every cache tag
    * (the SessionCache invariant: a knob the build reads must key the
    * cache).
    */
  private[graft] def recallBase(s: SparkSession, dir: String)
    : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val k = QueryK
    def cached(name: String)(build: => DataFrame): DataFrame =
      SessionCache.readThrough(s, dir, SessionCache.tag(name, k))(build)
    val vecs = cached("rbvecs")(baseVecs(s, dir))
    val ids = cached("rbids")(sampleIds(s, dir, k))
    val exact = cached("rbexact")(recallExact(vecs, ids))
    (vecs, ids, exact, cached("rbbase")(recallTotals(exact)))
  }

  /** [[recallBase]]'s four tables computed directly, bypassing the cache. */
  private[graft] def recallBuild(s: SparkSession, dir: String)
    : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val vecs = baseVecs(s, dir)
    val ids = sampleIds(s, dir, QueryK)
    val exact = recallExact(vecs, ids)
    (vecs, ids, exact, recallTotals(exact))
  }

  /** The exact top-3 ground truth of `ids` over `vecs`. */
  private def recallExact(vecs: DataFrame, ids: DataFrame): DataFrame =
    s01From(vecs, ids).filter(col("rk") <= 3)
      .select(col("query_id"), col("neighbor_id"))

  /** The 1-row (n_queries, n_possible) totals of a ground-truth table. */
  private def recallTotals(exact: DataFrame): DataFrame =
    exact.agg(countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_possible"))

  private def recallStats(exact: DataFrame, base: DataFrame,
      ann: DataFrame, name: String): DataFrame = {
    // both sides are ≤ QueryK·k rows by construction (exact is the top-3
    // truth, ann a per-query top-k) — broadcast the probe side explicitly:
    // the planner can't see the bound through the ANN pipeline and planned
    // a SortMergeJoin (sort + exchange per arm) in the round-18 shape
    val hits = exact.join(
      broadcast(ann.select(col("query_id"), col("neighbor_id"))),
      Seq("query_id", "neighbor_id"), "left_semi")
    base.crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(lit(name).as("method"), col("n_queries"), col("n_hits"),
        col("n_possible"),
        (col("n_hits").cast("double") / col("n_possible")).as("recall"))
  }

  /** s05 — recall@3 of each ANN method against the exact brute-force ground
    * truth (s01's top-3, same query set): the measurement a 100 TB ANN
    * deployment tunes probes/cells against. Hit counting is exact set
    * intersection per query; one integer-ratio row per method.
    *
    * Plan reuse (the round-2 verdict's top item): the quantized vector base,
    * the query-id sample, the ground truth and its (n_queries, n_possible)
    * totals come from [[recallBase]]'s session cache, and the banded LSH
    * and IVF indexes from [[MaterializedLshBands]] / [[MaterializedIvfCells]],
    * so every pipeline — exact ground truth and all three ANN methods —
    * reads materialized frames. The only remaining executions are the four
    * measurements themselves, each exactly once.
    */
  private def s05(s: SparkSession, dir: String): DataFrame = {
    val p = planesFor(Tables.rowCount(s, dir, "embeddings"))
    val (vecs, ids, exact, base) = recallBase(s, dir)
    def stats(ann: DataFrame, name: String): DataFrame =
      recallStats(exact, base, ann, name)
    // one banded index feeds BOTH probe variants: the session-materialized
    // table s02/s06/d11 read — no per-run checkpoint at all
    val bands = MaterializedLshBands.bands(s, dir)
    val lsh = topkRank(lshPairsFromBands(bands, ids, p, multiProbe = false), 3)
    val lshMp = topkRank(lshPairsFromBands(bands, ids, p, multiProbe = true), 3)
    // the IVF arm shares s04's session-materialized index (round 19): a
    // self-built arm re-ran the codebook aggregate and the O(n·IvfK)
    // assignment fold inside every s05 execution
    val ivf = s04From(vecs, ids, MaterializedIvfCells.assigned(s, dir),
      MaterializedIvfCells.codebook(s, dir))
    stats(lsh, "lsh")
      .unionAll(stats(lshMp, "lsh_mp"))
      .unionAll(stats(ivf, "ivf"))
      .orderBy(col("method"))
  }

  private val s05Sql: String =
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($s01Sql) WHERE rk <= 3),
       |a_lsh AS (SELECT query_id, neighbor_id FROM ($s02Sql)),
       |a_mp AS (SELECT query_id, neighbor_id FROM ($s06Sql)),
       |a_ivf AS (SELECT query_id, neighbor_id FROM ($s04Sql)),
       |base AS (SELECT COUNT(DISTINCT query_id) AS n_queries,
       |                COUNT(*) AS n_possible FROM ex)
       |SELECT method, n_queries, n_hits, n_possible,
       |  CAST(n_hits AS DOUBLE) / n_possible AS recall
       |FROM (
       |  SELECT 'lsh' AS method, base.n_queries,
       |    (SELECT COUNT(*) FROM ex JOIN a_lsh USING (query_id, neighbor_id)) AS n_hits,
       |    base.n_possible FROM base
       |  UNION ALL
       |  SELECT 'lsh_mp', base.n_queries,
       |    (SELECT COUNT(*) FROM ex JOIN a_mp USING (query_id, neighbor_id)),
       |    base.n_possible FROM base
       |  UNION ALL
       |  SELECT 'ivf', base.n_queries,
       |    (SELECT COUNT(*) FROM ex JOIN a_ivf USING (query_id, neighbor_id)),
       |    base.n_possible FROM base)
       |ORDER BY method""".stripMargin

  /** s07 — per-dimension embedding statistics: exact quantized mean, min,
    * max for each of the 64 dimensions — the drift/health monitor an
    * embedding pipeline runs per batch (a shifted dimension means a broken
    * encoder). posexplode + one map-side-combined aggregation; output is
    * dims rows regardless of corpus size.
    */
  private def s07(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(posexplode(quantize(col("embedding"))).as(Seq("dim", "vq")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        (sum(col("vq")).cast("double") / count(lit(1)) / 10000.0).as("mean_v"),
        (min(col("vq")).cast("double") / 10000.0).as("min_v"),
        (max(col("vq")).cast("double") / 10000.0).as("max_v"))
      .orderBy(col("dim"))

  private def s07Sql: String =
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |d AS (SELECT unnest(v) AS vq,
      |             CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim
      |      FROM q)
      |SELECT dim, COUNT(*) AS n,
      |  CAST(SUM(vq) AS DOUBLE) / COUNT(*) / 10000.0 AS mean_v,
      |  CAST(MIN(vq) AS DOUBLE) / 10000.0 AS min_v,
      |  CAST(MAX(vq) AS DOUBLE) / 10000.0 AS max_v
      |FROM d GROUP BY dim ORDER BY dim""".stripMargin

  private val SubSpaces = 4
  private val SubDim = 16 // Dims / SubSpaces
  private def CodeK: Int = graft.config.Scale.codeK

  /** s08 — product-quantization codes (the IVF-PQ compression path): split
    * each 64-dim vector into 4 subspaces of 16 dims, assign every subvector
    * to its nearest of 8 deterministic sub-centroids (exact integer L2², tie
    * → smaller centroid id), and report the resulting code-cell histogram
    * with mean quantization distortion — the codebook-health check a PQ
    * index build runs before swapping in a new codebook.
    *
    * Scale shape: the codebook (4×8 subvectors from a fixed-size
    * lowest-k-by-md5 sample) collapses to ONE 4-row broadcast frame holding
    * each subspace's candidate array, so code assignment is per-row — the
    * corpus never shuffles; argmin runs as an array fold over the 8
    * candidates (centroid-id-sorted, strict-less keeps the smaller id on
    * ties). The only exchange is the final ≤32-row histogram aggregation.
    * L2² uses the ‖a‖²−2a·b+‖b‖² identity over exact quantized-int dot
    * products, so cells and distortion are bit-identical cross-engine.
    */
  private def s08(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    val centIds = vecs.select(col("vec_id"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("#pq"))),
        col("vec_id"))
      .limit(CodeK)
    // The CodeK sub-centroids per subspace are FIXED once the seed sample
    // is drawn, so (like KMeans.assign) they are materialized once on the
    // driver and each subspace's assignment is a NearestCell codegen
    // expression over the row's slice — same exact-int (d2, c_id) rule as
    // the interpreted fold this replaces (spec-pinned in TextVectorSpec),
    // but the whole encode is ONE whole-stage-codegen projection: no
    // per-sub explode-join against a broadcast codebook frame.
    val centsBySub = pqCodebooks(vecs, centIds)
    val perSub = array((0 until SubSpaces).map { i =>
      val sub = centsBySub(i)
      val best = graft.functions.NearestCell.withD2(
        slice(col("v"), i * SubDim + 1, SubDim),
        sub.map(_._1), sub.map(_._2))
      struct(lit(i.toLong).as("sub"), best.getField("c_id").as("code"),
        best.getField("d2").as("d2"))
    }: _*)
    vecs.select(explode(perSub).as("a"))
      .groupBy(col("a.sub").as("sub"), col("a.code").as("code"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("a.d2")).cast("double") / count(lit(1))).as("mean_d2"))
      .orderBy(col("sub"), col("code"))
  }

  /** Driver-materialized per-subspace PQ codebooks: sub index →
    * c_id-sorted (c_id, sub-centroid) array — the reference-object form
    * the NearestCell codegen encoders in s08/s13 ship to executors.
    * CodeK rows collected once; ordering matches the sort_array(struct)
    * book the LUT side still builds.
    */
  private def pqCodebooks(vecs: DataFrame, centIds: DataFrame)
    : Map[Int, Array[(Long, Array[Long])]] =
    vecs.join(broadcast(centIds), "vec_id").collect()
      .flatMap { r =>
        val cid = r.getLong(0)
        val v = r.getSeq[Long](1)
        (0 until SubSpaces).map(i =>
          (i, (cid, v.slice(i * SubDim, (i + 1) * SubDim).toArray)))
      }
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).sortBy(_._1) }

  private def s08Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |ss AS (SELECT unnest([0, 1, 2, 3]) AS sub),
      |sl AS (SELECT vec_id, sub,
      |  list_slice(v, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS sv
      | FROM q, ss),
      |cid AS (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#pq'), vec_id LIMIT $CodeK),
      |c AS (SELECT sub, vec_id AS c_id, sv AS c_sv FROM sl
      |  WHERE vec_id IN (SELECT vec_id FROM cid)),
      |d AS (SELECT sl.vec_id, sl.sub, c.c_id,
      |  CAST(list_dot_product(sl.sv::DOUBLE[], sl.sv::DOUBLE[])
      |     - 2 * list_dot_product(sl.sv::DOUBLE[], c.c_sv::DOUBLE[])
      |     + list_dot_product(c.c_sv::DOUBLE[], c.c_sv::DOUBLE[]) AS BIGINT)
      |    AS d2
      | FROM sl JOIN c ON sl.sub = c.sub),
      |a AS (SELECT vec_id, sub, c_id, d2,
      |  ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_id) AS rn
      | FROM d)
      |SELECT CAST(sub AS BIGINT) AS sub, c_id AS code, COUNT(*) AS n_vecs,
      |  CAST(SUM(d2) AS DOUBLE) / COUNT(*) AS mean_d2
      |FROM a WHERE rn = 1
      |GROUP BY sub, c_id ORDER BY sub, code""".stripMargin

  /** s09 — int8 scalar quantization (the 4× embedding-compression path a
    * 100 TB vector store runs before PQ/IVF even enter the picture): each
    * dimension's global [min, max] maps to 256 uniform cells, every value
    * becomes its cell index, and the per-vector L1 reconstruction error
    * (against cell midpoints) is reported alongside the codes.
    *
    * Scale shape: the per-dim min/max aggregate reduces to 64 rows, is
    * collapsed into ONE dim-sorted broadcast array (the s08 codebook
    * collapse), and encoding is a per-row `transform` over that array — the
    * corpus never shuffles; the only exchange is the 64-row stats agg.
    * All arithmetic is exact-int or a single long/long division whose
    * quotient is ≥5e-6 away from any integer (numerators < 2^53), so
    * `floor` is the true mathematical floor in both engines — codes and
    * errors are bit-identical cross-engine with no rounding-mode hazard.
    * Codes are emitted as one comma-joined string per vector (not an array
    * column) so the verification harness can sort and hash the frame.
    */
  private def s09(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("vq"))
    val mm = vecs
      .select(posexplode(col("vq")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mn"), col("mx"))))
        .as("mm"))
    vecs.crossJoin(broadcast(mm))
      .withColumn("pairs", transform(col("vq"), (x, i) => {
        val e = element_at(col("mm"), i + 1)
        val mn = e.getField("mn")
        val span = e.getField("mx") - mn + lit(1L)
        val code = floor((x - mn) * lit(256L) / span)
        val recon = mn + floor((code * lit(2L) + lit(1L)) * span / lit(512L))
        struct(code.as("code"), abs(x - recon).as("d"))
      }))
      .select(col("vec_id"),
        concat_ws(",", col("pairs.code").cast("array<string>")).as("codes"),
        aggregate(col("pairs"), lit(0L), (a, p) => a + p.getField("d"))
          .as("err"))
      .orderBy(col("vec_id"))
  }

  private def s09Sql: String =
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS vq
      | FROM embeddings),
      |d AS (SELECT vec_id, unnest(vq) AS v,
      |  CAST(generate_subscripts(vq, 1) AS BIGINT) AS dim FROM q),
      |mm AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM d GROUP BY dim),
      |c AS (SELECT vec_id, dim, v, mn, mx,
      |  CAST(floor((v - mn) * 256 / (mx - mn + 1)) AS BIGINT) AS code
      | FROM d JOIN mm USING (dim)),
      |r AS (SELECT vec_id, dim, code,
      |  ABS(v - (mn + CAST(floor((code * 2 + 1) * (mx - mn + 1) / 512) AS BIGINT))) AS e
      | FROM c)
      |SELECT vec_id, array_to_string(list(code ORDER BY dim), ',') AS codes,
      |  CAST(SUM(e) AS BIGINT) AS err
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin

  private[queries] def KmK: Int = graft.config.Scale.kmK
  private[queries] def KmIters: Int = graft.config.Scale.kmIters

  /** s10 — quantized Lloyd k-means (the clustering pass a SemDeDup-style
    * semantic-curation pipeline runs over the whole corpus before
    * within-cluster dedup/pruning): KmK deterministic seeds, KmIters
    * assignment+update rounds, then the final cell census — members, lowest
    * member id, exact inertia, mean squared distance per cluster.
    *
    * Scale shape: each iteration is ONE corpus map pass (the codebook
    * collapses to a single broadcast row of ≤KmK (c_id, centroid) structs;
    * assignment is s08's per-row argmin fold — the corpus never shuffles)
    * plus one ≤KmK-row map-side-combined aggregation for the centroid
    * update, so T iterations cost exactly T scans — the textbook
    * distributed-k-means plan. KmK is sized for the test tables; a 100 TB
    * run raises it without changing the plan shape, exactly like
    * QueryK/PairSampleK.
    *
    * Determinism: seeds are lowest-k-by-md5 (engine-portable); distances are
    * exact quantized-int L2² via the ‖a‖²−2a·b+‖b‖² identity (ties → smaller
    * c_id, matching ROW_NUMBER); updated centroids are re-quantized to
    * integers with one round(sum/count) per dimension — both engines round
    * half away from zero, and every sum/count is exact, so centroids,
    * assignments, and inertia are bit-identical cross-engine at every
    * iteration.
    */
  private def s10(s: SparkSession, dir: String): DataFrame = {
    MaterializedKMeans.cells(s, dir)
      .groupBy(col("c_id"))
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("rep_vec_id"),
        sum(col("d2")).as("inertia"),
        (sum(col("d2")).cast("double") / count(lit(1))).as("mean_d2"))
      .orderBy(col("c_id"))
  }

  /** One oracle assignment round: exact L2² against centroid CTE `cents`,
    * keep the (d2, c_id)-smallest cell per vector.
    */
  private def kmAssignSql(k: Int, cents: String): String =
    s"""dist$k AS (SELECT q.vec_id, q.v, c.c_id,
       |  CAST(list_dot_product(q.v::DOUBLE[], q.v::DOUBLE[])
       |     - 2 * list_dot_product(q.v::DOUBLE[], c.cv::DOUBLE[])
       |     + list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]) AS BIGINT) AS d2
       | FROM q CROSS JOIN $cents c),
       |asg$k AS (SELECT vec_id, v, c_id, d2 FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
       |   FROM dist$k) WHERE rn = 1)""".stripMargin

  /** One oracle centroid update: per-dimension exact integer sums over the
    * round-`k` assignment, re-quantized with round(sum/count).
    */
  private def kmUpdateSql(k: Int): String =
    s"""sums$k AS (SELECT c_id, i, SUM(v[i]) AS sv, COUNT(*) AS n
       |  FROM asg$k, (SELECT unnest(range(1, ${Dims + 1})) AS i) ii
       |  GROUP BY c_id, i),
       |cent${k + 1} AS (SELECT c_id,
       |  list(CAST(round(CAST(sv AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
       |  FROM sums$k GROUP BY c_id)""".stripMargin

  /** Name of the final assignment CTE produced by [[kmCellsCte]] —
    * `asg<KmIters>` (vec_id, v, c_id, d2); consumers (s10/s11, d15's
    * SemDeDup oracle) reference it through this def so a KmIters override
    * renames it consistently everywhere.
    */
  private[queries] def kmFinalAsg: String = s"asg$KmIters"

  /** The full k-means pipeline as a WITH prelude ending at [[kmFinalAsg]] —
    * one assign+update round per KmIters plus the final assignment, the
    * chain length derived from the same knob the DataFrame side reads.
    */
  private[queries] def kmCellsCte: String = {
    val rounds = (0 until KmIters).map(i =>
      s"${kmAssignSql(i, s"cent$i")},\n${kmUpdateSql(i)}").mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |cid AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#km'), vec_id LIMIT $KmK),
       |cent0 AS (SELECT vec_id AS c_id, v AS cv FROM q
       |  WHERE vec_id IN (SELECT vec_id FROM cid)),
       |$rounds,
       |${kmAssignSql(KmIters, s"cent$KmIters")}""".stripMargin
  }

  private def s10Sql: String =
    s"""$kmCellsCte
       |SELECT c_id, COUNT(*) AS n_members, MIN(vec_id) AS rep_vec_id,
       |  CAST(SUM(d2) AS BIGINT) AS inertia,
       |  CAST(SUM(d2) AS DOUBLE) / COUNT(*) AS mean_d2
       |FROM $kmFinalAsg GROUP BY c_id ORDER BY c_id""".stripMargin

  private def CellQuota: Int = graft.config.Scale.cellQuota

  /** s11 — cluster-balanced sample: exactly min(CellQuota, |cell|) vectors
    * per k-means cell, selected by smallest salted md5 — the "balanced
    * subset across semantic clusters" op a curation pipeline runs so rare
    * modes survive downsampling (uniform sampling keeps cluster mass
    * proportional; this caps every cluster at the same quota). Composes
    * KMeans.cluster with t16's quota machinery: the partial-combinable
    * TopKByScore aggregator ships ≤ quota rows per (map partition × cell)
    * instead of sorting whole cells in window partitions.
    */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val cells = MaterializedKMeans.cells(s, dir)
      .select(col("vec_id"), col("c_id"))
    val h = conv(substring(md5(concat(col("vec_id").cast("string"),
      lit("#cb"))), 1, 13), 16, 10).cast("long")
    val topk = TopKByScore(CellQuota)
    cells
      .select(col("c_id"), col("vec_id"), (-h.cast("double")).as("score"))
      .groupBy(col("c_id"))
      .agg(topk(col("vec_id"), col("score")).as("tk"))
      .select(col("c_id"), posexplode(col("tk")))
      .select(col("c_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("vec_id"))
      .orderBy(col("c_id"), col("rk"))
  }

  private def s11Sql: String = kmCellsCte +
    s""",
       |h AS (SELECT c_id, vec_id,
       |  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#cb'), 1, 13)) AS BIGINT) AS hv
       | FROM $kmFinalAsg),
       |r AS (SELECT c_id, vec_id,
       |  ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY hv, vec_id) AS rk FROM h)
       |SELECT c_id, rk, vec_id FROM r WHERE rk <= $CellQuota
       |ORDER BY c_id, rk""".stripMargin

  /** Cosine radius for s12's range search — the "sufficiently close" ball.
    * Production tunes this per embedding model; 0.3 gives each test query a
    * non-trivial but bounded neighbor set.
    */
  private val RangeTau = 0.3

  /** s12 — radius (range) search: every corpus vector within cosine ≥
    * [[RangeTau]] of each query in the fixed QueryK sample — the "find ALL
    * sufficiently close" API (recall-oriented retrieval, near-dup audits,
    * dataset contamination sweeps), complementing s01's top-k. Identical
    * scale shape to s01: the query side is a fixed-k broadcast, scoring is
    * one map-side pass over the corpus (O(k·n), no corpus shuffle), and the
    * threshold filter bounds output by the τ-ball sizes instead of k·5.
    */
  private def s12(s: SparkSession, dir: String): DataFrame =
    bruteScoredPairs(baseVecs(s, dir), sampleIds(s, dir, QueryK))
      .filter(col("cos") >= RangeTau)
      .orderBy(col("query_id"), col("neighbor_id"))

  private def s12Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |qs AS (${sampleSql(QueryK)}),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs))
      |SELECT query_id, neighbor_id, cos FROM p WHERE cos >= $RangeTau
      |ORDER BY query_id, neighbor_id""".stripMargin

  /** s13 — PQ asymmetric-distance (ADC) top-k search: the retrieval half of
    * the product-quantization story s08 starts (s08 builds/validates the
    * codebook; s13 searches with it). Every corpus vector is compressed to
    * [[SubSpaces]] sub-centroid codes; each query precomputes one lookup
    * table of exact L2² distances to all sub-centroids; the approximate
    * query↔vector distance is then the sum of [[SubSpaces]] table lookups —
    * the classic Jégou-style ADC scan that searches a 100 TB corpus while
    * touching only its codes.
    *
    * Scale shape: the codebook collapses to ONE broadcast row (array of
    * per-subspace candidate arrays), so corpus encoding is a per-row
    * argmin fold — the corpus never shuffles and the full-precision vectors
    * are dropped before scoring. The QueryK lookup tables (QueryK ×
    * SubSpaces × CodeK longs) are a second broadcast; scoring is one
    * map-side pass over codes with [[SubSpaces]] map lookups per pair, and
    * top-k reduction is the partial-combinable [[TopKByScore]] (≤ k rows
    * per map partition × query on the wire). All distances are exact
    * quantized-int L2² via the ‖a‖²−2a·b+‖b‖² identity, so codes, ADC sums,
    * and ranks are bit-identical cross-engine.
    */
  private def s13(s: SparkSession, dir: String): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    // ONE setup collect (round 19): the CodeK '#pq' codebook sample and the
    // QueryK query vectors are both fixed-k — gather them through one
    // role-tagged broadcast join (the before-shape paid a separate codebook
    // collect AND re-derived the same codebook a second time as the in-plan
    // `book` aggregate feeding the LUT subtree, with two more corpus scans
    // for the query side).
    val roles = vecs.select(col("vec_id"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("#pq"))),
        col("vec_id"))
      .limit(CodeK)
      .select(col("vec_id"), lit("pq").as("role"))
      .unionAll(sampleIds(s, dir, QueryK)
        .select(col("vec_id"), lit("q").as("role")))
    val sampled: Array[(String, Long, Array[Long])] =
      vecs.join(broadcast(roles), "vec_id").collect()
        .map(r => (r.getString(2), r.getLong(0), r.getSeq[Long](1).toArray))
    def byRole(role: String): Array[(Long, Array[Long])] =
      sampled.collect { case (`role`, id, v) => id -> v }.sortBy(_._1)
    // per-subspace codebooks, c_id-sorted (same order pqCodebooks produced)
    val pq = byRole("pq")
    val centsBySub: IndexedSeq[Array[(Long, Array[Long])]] =
      (0 until SubSpaces).map(i =>
        pq.map { case (id, v) => (id, v.slice(i * SubDim, (i + 1) * SubDim)) })
    // Corpus → codes: the O(n) hot pass — per-subspace NearestCell codegen
    // argmin (same strict-less / smaller-c_id tie rule as the interpreted
    // fold it replaces); with the LUT side now driver-built this is the
    // ONLY corpus pass in the plan.
    val coded = vecs
      .select(col("vec_id"), array((0 until SubSpaces).map { i =>
        val sub = centsBySub(i)
        graft.functions.NearestCell(
          slice(col("v"), i * SubDim + 1, SubDim),
          sub.map(_._1), sub.map(_._2))
      }: _*).as("codes"))
    // Query lookup tables: luts[sub] = map(c_id → L2²(query_sv, c_sv)),
    // computed driver-side over the collected fixed-k sample in the same
    // exact integer arithmetic (Σ(a−b)² ≡ ‖a‖²−2a·b+‖b‖² on longs) and
    // shipped as a QueryK-row local relation (j20/s18 bounded-collect
    // discipline).
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val lutRows: Seq[(Long, Seq[Map[Long, Long]])] =
      byRole("q").toSeq.map { case (qid, qv) =>
        val luts = (0 until SubSpaces).map { si =>
          val sv = qv.slice(si * SubDim, (si + 1) * SubDim)
          centsBySub(si).map { case (cid, csv) => cid -> l2(sv, csv) }.toMap
        }
        (qid, luts)
      }
    val luts = s.createDataFrame(lutRows).toDF("query_id", "luts")
    val pairs = coded.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-aggregate(
          zip_with(col("codes"), col("luts"), (code, m) => element_at(m, code)),
          lit(0L), (a, x) => a + x)).cast("double").as("cos"))
    topkRank(pairs, 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        (-col("cos")).cast("long").as("adc_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def s13Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |ss AS (SELECT unnest([0, 1, 2, 3]) AS sub),
      |sl AS (SELECT vec_id, sub,
      |  list_slice(v, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS sv
      | FROM q, ss),
      |cid AS (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#pq'), vec_id LIMIT $CodeK),
      |c AS (SELECT sub, vec_id AS c_id, sv AS c_sv FROM sl
      |  WHERE vec_id IN (SELECT vec_id FROM cid)),
      |d AS (SELECT sl.vec_id, sl.sub, c.c_id,
      |  CAST(list_dot_product(sl.sv::DOUBLE[], sl.sv::DOUBLE[])
      |     - 2 * list_dot_product(sl.sv::DOUBLE[], c.c_sv::DOUBLE[])
      |     + list_dot_product(c.c_sv::DOUBLE[], c.c_sv::DOUBLE[]) AS BIGINT)
      |    AS d2
      | FROM sl JOIN c ON sl.sub = c.sub),
      |codes AS (SELECT vec_id, sub, c_id FROM
      |  (SELECT vec_id, sub, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_id) AS rn
      |   FROM d) WHERE rn = 1),
      |qs AS (${sampleSql(QueryK)}),
      |lut AS (SELECT vec_id AS query_id, sub, c_id, d2 FROM d
      |  WHERE vec_id IN (SELECT vec_id FROM qs)),
      |adc AS (SELECT l.query_id, n.vec_id AS neighbor_id,
      |  CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      | FROM codes n JOIN lut l ON n.sub = l.sub AND n.c_id = l.c_id
      | WHERE n.vec_id <> l.query_id
      | GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, adc_d2,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_d2, neighbor_id) AS rk
      | FROM adc)
      |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, adc_d2
      |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Truncation levels s14 sweeps — prefixes of the embedding, Matryoshka
    * style. Full dimensionality (64 here) is the s01 ground truth itself.
    */
  private val MrlDims = Seq(8, 16, 32)

  /** s14 — truncated-dimension recall (the Matryoshka-representation
    * measurement that decides how many leading dimensions a 100 TB vector
    * store can drop): brute-force top-3 neighbors computed from only the
    * first d ∈ [[MrlDims]] dimensions, scored for recall against the
    * full-dimension exact top-3 — one row per truncation level. Storing
    * 8 of 64 dims is an 8× index shrink; this table says what it costs.
    *
    * Scale shape: s05's harness — the quantized base and query sample are
    * session-cached ([[recallBase]]), each truncated pipeline is a fixed-k
    * broadcast-sample map-side O(k·n) scoring pass (slice + re-norm is a
    * projection; no extra scan, no shuffle beyond topkRank's bounded agg),
    * and recall joins are left-semi on (query_id, neighbor_id).
    */
  private def s14(s: SparkSession, dir: String): DataFrame = {
    val (vecs, ids, exact, base) = recallBase(s, dir)
    def truncTopk(d: Int): DataFrame = {
      val t = vecs.select(col("vec_id"), slice(col("v"), 1, d).as("v"))
        .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
      topkRank(bruteScoredPairs(t, ids), 3)
    }
    MrlDims.map(d => recallStats(exact, base, truncTopk(d), s"mrl_$d"))
      .reduce(_.unionAll(_))
      .orderBy(col("method"))
  }

  private def s14Sql: String = {
    def truncSql(d: Int): String =
      s"""SELECT query_id, neighbor_id FROM (
         |  WITH q AS (SELECT vec_id,
         |    list_slice(list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)), 1, $d) AS v
         |   FROM embeddings),
         |  qs AS (${sampleSql(QueryK)})
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
         |      (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
         |       sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) DESC,
         |      b.vec_id) AS rk
         |  FROM q a JOIN q b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM qs)) WHERE rk <= 3""".stripMargin
    val arms = MrlDims.map(d =>
      s"""SELECT 'mrl_$d' AS method, base.n_queries,
         |    (SELECT COUNT(*) FROM ex JOIN t$d USING (query_id, neighbor_id))
         |      AS n_hits,
         |    base.n_possible FROM base""".stripMargin)
      .mkString("\n  UNION ALL\n  ")
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($s01Sql) WHERE rk <= 3),
       |base AS (SELECT COUNT(DISTINCT query_id) AS n_queries,
       |                COUNT(*) AS n_possible FROM ex),
       |${MrlDims.map(d => s"t$d AS (${truncSql(d)})").mkString(",\n")}
       |SELECT method, n_queries, n_hits, n_possible,
       |  CAST(n_hits AS DOUBLE) / n_possible AS recall
       |FROM (
       |  $arms)
       |ORDER BY method""".stripMargin
  }

  /** s15 — maximum-inner-product top-k (MIPS): rank the corpus for each of
    * the fixed query sample by RAW integer dot product instead of cosine —
    * the retrieval metric recommendation/reranking systems use when vector
    * magnitude carries signal (popularity, confidence) that cosine's
    * normalization erases. Scores are exact quantized-integer dots (≤ 64 ·
    * 10⁸ < 2⁵³, so the double rank key is exact), ties broken by smaller
    * neighbor_id — bit-identical in any engine.
    *
    * Scale shape: identical to s01 — fixed-k broadcast query side, one
    * map-side O(k·n) scoring pass, TopKByScore partial-combining rank (≤ k
    * rows per map partition per query on the wire), corpus never shuffles.
    */
  private def s15(s: SparkSession, dir: String): DataFrame = {
    val q = baseVecs(s, dir)
    val queries = q.join(broadcast(sampleIds(s, dir, QueryK)), "vec_id")
    val pairs = queries.as("a").join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        dotLong(col("a.v"), col("b.v")).cast("double").as("cos"))
    topkRank(pairs, 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("cos").cast("long").as("dot"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def s15Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |qs AS (${sampleSql(QueryK)}),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  CAST(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) AS BIGINT) AS dot
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
      |r AS (SELECT query_id, neighbor_id, dot,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS rk
      | FROM p)
      |SELECT query_id, rk, neighbor_id, dot FROM r WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Output dimensionality of the s16 sparse random projection. */
  private val JlDims = 16

  /** Achlioptas sparse sign s(i,j) ∈ {+1, −1, 0} (density 1/3) from pure
    * integer arithmetic — the "database-friendly random projection"
    * construction (Achlioptas 2003) with the random draw replaced by a
    * fixed integer hash so BOTH engines (and every executor) materialize
    * the identical matrix from the formula alone: no seed shipping, no
    * broadcast of a driver-sampled matrix, no RNG ordering hazard.
    */
  private def jlSign(i: Int, j: Int): Long =
    ((i * 7919L + j * 104729L) % 6) match {
      case 0 => 1L
      case 1 => -1L
      case _ => 0L
    }

  /** Row j of the Dims×JlDims sign matrix (1-based j). */
  private def jlRow(j: Int): Seq[Long] = (1 to Dims).map(i => jlSign(i, j))

  /** s16 — Johnson–Lindenstrauss random-projection recall: project the
    * 64-dim corpus to [[JlDims]] dims through the sparse ±1 sign matrix
    * [[jlSign]], rank by cosine in the projected space, and score recall@3
    * against the full-dimension exact top-3 — the measurement that decides
    * whether a 100 TB vector store can serve candidate generation from a
    * 4× smaller projected index (the JL alternative to s14's prefix
    * truncation: truncation assumes Matryoshka-trained embeddings, a
    * random projection works on ANY embedding).
    *
    * Determinism: projected components are exact integer dots of the
    * quantized vector with a constant ±1/0 row (|p_j| ≤ 64·10⁴ — far
    * inside 2⁵³ for the projected-space dot), so both engines rank
    * identical doubles.
    *
    * Scale shape: s14's harness — base/sample/ground-truth materialized
    * once; the projection itself is 16 codegen'd constant-vector dots
    * inside the corpus scan (a projection, no shuffle, no matrix join);
    * the projected ranking is the same fixed-k broadcast-sample map-side
    * O(k·n) pass with TopKByScore's bounded partial-combining rank.
    */
  private def s16(s: SparkSession, dir: String): DataFrame = {
    val (vecs, ids, exact, base) = recallBase(s, dir)
    val projCols = (1 to JlDims).map(j => dotLong(col("v"), typedLit(jlRow(j))))
    val proj = vecs.select(col("vec_id"), array(projCols: _*).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    recallStats(exact, base, topkRank(bruteScoredPairs(proj, ids), 3),
        s"jl_$JlDims")
      .orderBy(col("method"))
  }

  private def s16Sql: String = {
    val rows = (1 to JlDims).map { j =>
      val cs = jlRow(j).mkString("[", ",", "]")
      s"CAST(list_dot_product(v::DOUBLE[], $cs::DOUBLE[]) AS BIGINT)"
    }.mkString(",\n    ")
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |pj AS (SELECT vec_id, [
       |    $rows] AS v FROM q),
       |qs AS (${sampleSql(QueryK)}),
       |ex AS (SELECT query_id, neighbor_id FROM ($s01Sql) WHERE rk <= 3),
       |base AS (SELECT COUNT(DISTINCT query_id) AS n_queries,
       |                COUNT(*) AS n_possible FROM ex),
       |ann AS (SELECT query_id, neighbor_id FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |      list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
       |      (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
       |       sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) DESC,
       |      b.vec_id) AS rk
       |  FROM pj a JOIN pj b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id IN (SELECT vec_id FROM qs)) WHERE rk <= 3)
       |SELECT 'jl_$JlDims' AS method, n_queries,
       |  (SELECT COUNT(*) FROM ex JOIN ann USING (query_id, neighbor_id))
       |    AS n_hits,
       |  n_possible,
       |  CAST((SELECT COUNT(*) FROM ex JOIN ann USING (query_id, neighbor_id))
       |    AS DOUBLE) / n_possible AS recall
       |FROM base ORDER BY method""".stripMargin
  }

  /** Neighbors consulted per query in s17 — odd, so binary label splits
    * can't tie; multi-way ties still break to the smallest label.
    */
  private val KnnVoteK = 9

  /** s17 — kNN label classification audit: predict each sampled vector's
    * label by majority vote over its [[KnnVoteK]] exact-cosine nearest
    * neighbors, then report per-label accuracy. The standard
    * auto-labeling / label-noise probe a training-data pipeline runs over
    * an embedded corpus: a label whose members' neighborhoods disagree
    * with it is mislabeled or semantically incoherent (the actionable
    * complement of s03's cohesion score).
    *
    * Scale shape: the expensive stage is s01's fixed-k broadcast scoring
    * pass (O(k·n), corpus never shuffles); everything after ranks within
    * ≤ QueryK·KnnVoteK rows — votes, the per-query winner window, and a
    * 10-row label rollup are all negligible at any corpus size.
    */
  private def s17(s: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val ids = sampleIds(s, dir, QueryK)
    val nn = topkRank(bruteScoredPairs(baseVecs(s, dir), ids), KnnVoteK)
    val votes = nn
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    val pred = votes.withColumn("vr", row_number().over(w))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("label").as("pred_label"))
    pred
      .join(labels.withColumnRenamed("vec_id", "query_id"), "query_id")
      .groupBy(col("label").as("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_queries"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_queries").cast("double"))
          .as("accuracy"))
      .orderBy(col("true_label"))
  }

  private def s17Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |qs AS (${sampleSql(QueryK)}),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
      |r AS (SELECT query_id, neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      | FROM p),
      |v AS (SELECT r.query_id, CAST(e.label AS BIGINT) AS label,
      |    COUNT(*) AS votes
      |  FROM r JOIN embeddings e ON e.vec_id = r.neighbor_id
      |  WHERE r.rk <= $KnnVoteK
      |  GROUP BY r.query_id, CAST(e.label AS BIGINT)),
      |pw AS (SELECT query_id, label,
      |  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
      | FROM v),
      |pred AS (SELECT query_id, label AS pred_label FROM pw WHERE vr = 1)
      |SELECT CAST(t.label AS BIGINT) AS true_label,
      |  CAST(COUNT(*) AS BIGINT) AS n_queries,
      |  CAST(SUM(CASE WHEN pred.pred_label = CAST(t.label AS BIGINT)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(SUM(CASE WHEN pred.pred_label = CAST(t.label AS BIGINT)
      |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
      |FROM pred JOIN embeddings t ON t.vec_id = pred.query_id
      |GROUP BY CAST(t.label AS BIGINT)
      |ORDER BY true_label""".stripMargin

  /** MMR pool size / picks / λ·10 for s18 (λ = 0.7 in tenths so the score
    * arithmetic stays a fixed two-term double expression).
    */
  private val MmrPool = 50
  private val MmrK = 5

  /** s18 — maximal marginal relevance (MMR) diverse selection (Carbonell &
    * Goldstein 1998): from the [[MmrPool]] nearest neighbors of a probe
    * vector, greedily pick [[MmrK]] items maximizing 0.7·relevance −
    * 0.3·max-similarity-to-already-picked — the diverse-exemplar sampler
    * an eval-set builder runs so near-duplicate neighbors don't all get
    * picked (the selection-side complement of d15's SemDeDup eviction).
    *
    * Determinism: relevance and pairwise similarity are exact quantized-
    * integer cosines; each greedy step is an argmax with a (score desc,
    * vec_id) total tiebreak; the oracle unrolls the same [[MmrK]] steps as
    * chained CTEs.
    *
    * Scale shape: ONE fixed-k brute scoring pass against the corpus
    * (O(n), map-side, the s01 machinery) builds the pool; everything after
    * — the pool×pool similarity matrix and the greedy loop — touches ≤
    * MmrPool² rows of driver-free DataFrame work regardless of corpus
    * size. The greedy loop is inherently sequential (each pick conditions
    * the next), so it runs over the TINY pool, never the corpus.
    */
  private def s18(s: SparkSession, dir: String): DataFrame = {
    val base = baseVecs(s, dir)
    // the probe row straight off the quantized base (same md5-order row
    // sampleIds picks, with v/nrm already attached — saves the join-back)
    val probe = base
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(1)
    val rel = base.as("b")
      .join(broadcast(probe.as("a")), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("rel"),
        col("b.v").as("v"), col("b.nrm").as("nrm"))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrPool)
    // ONE job: the O(n) corpus scoring pass builds the pool, and the ≤
    // MmrPool-row pool (ids, relevances, quantized vectors, norms) is a
    // bounded collect — the same discipline as the codebook collects. The
    // pool×pool similarity matrix and the inherently-sequential greedy
    // argmax loop then run driver-side over ≤ MmrPool² doubles with
    // bit-identical arithmetic (exact long dots; rel·0.7 − maxSim·0.3 in
    // the same IEEE order), replacing the former per-step DataFrame
    // iteration (2 localCheckpoints + MmrK−1 join/argmax/checkpoint rounds
    // ≈ 20 scheduled jobs for ≤ 50 live rows — round-18 measured 1.2 s of
    // pure orchestration on a 0.03 s-of-task query).
    val pool = rel
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Long](2).toArray, r.getDouble(3)))
      .sortBy(p => (-p._2, p._1)) // (rel DESC, vec_id) — the argmax order
    def sim(i: Int, j: Int): Double = {
      val (vi, ni) = (pool(i)._3, pool(i)._4)
      val (vj, nj) = (pool(j)._3, pool(j)._4)
      var d = 0L; var k = 0
      val n = math.min(vi.length, vj.length)
      while (k < n) { d += vi(k) * vj(k); k += 1 }
      d.toDouble / (ni * nj)
    }
    val selIdx = scala.collection.mutable.ArrayBuffer(0) // head = top rel
    val out = scala.collection.mutable.ArrayBuffer(
      (1L, pool(0)._1, pool(0)._2, pool(0)._2)) // first pick: mmr = rel
    for (step <- 2 to MmrK) {
      var bi = -1; var bMmr = 0.0
      for (c <- pool.indices if !selIdx.contains(c)) {
        var ms = Double.NegativeInfinity
        selIdx.foreach { j => val sv = sim(c, j); if (sv > ms) ms = sv }
        val mmr = pool(c)._2 * 0.7 - ms * 0.3
        // (mmr DESC, vec_id ASC) argmax; pool order already breaks rel ties
        if (bi == -1 || mmr > bMmr ||
            (mmr == bMmr && pool(c)._1 < pool(bi)._1)) { bi = c; bMmr = mmr }
      }
      selIdx += bi
      out += ((step.toLong, pool(bi)._1, pool(bi)._2, bMmr))
    }
    import s.implicits._
    out.toSeq.toDF("rank", "vec_id", "rel", "mmr")
      .orderBy(col("rank"))
  }

  private def s18Sql: String = {
    val steps = (2 to MmrK).map { k =>
      val prev = (1 until k).map(i => s"SELECT vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      s"""sel$k AS (SELECT r.vec_id, r.rel,
         |  r.rel * 0.7 - ms.max_sim * 0.3 AS mmr, CAST($k AS BIGINT) AS rank
         | FROM rel r
         | JOIN (SELECT i, MAX(sim) AS max_sim FROM pp
         |        WHERE j IN ($prev) GROUP BY i) ms ON ms.i = r.vec_id
         | WHERE r.vec_id NOT IN ($prev)
         | ORDER BY mmr DESC, r.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |probe AS (${sampleSql(1)}),
       |rel AS (SELECT b.vec_id,
       |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
       |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS rel
       | FROM q a JOIN q b ON a.vec_id <> b.vec_id
       | WHERE a.vec_id IN (SELECT vec_id FROM probe)
       | ORDER BY rel DESC, b.vec_id LIMIT $MmrPool),
       |pool AS (SELECT q.vec_id, q.v FROM q
       |  WHERE q.vec_id IN (SELECT vec_id FROM rel)),
       |pp AS (SELECT a.vec_id AS i, b.vec_id AS j,
       |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
       |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS sim
       | FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
       |sel1 AS (SELECT vec_id, rel, rel AS mmr, CAST(1 AS BIGINT) AS rank
       | FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT rank, vec_id, rel, mmr FROM (
       |  ${(1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("s01_knn_bruteforce", s01, Some(s01Sql)),
    QueryDef("s02_ann_lsh", s02, Some(s02Sql)),
    QueryDef("s03_label_cohesion", s03, Some(s03Sql)),
    QueryDef("s04_ann_ivf", s04, Some(s04Sql)),
    QueryDef("s05_ann_recall", s05, Some(s05Sql)),
    QueryDef("s06_ann_lsh_mp", s06, Some(s06Sql)),
    QueryDef("s07_dim_stats", s07, Some(s07Sql)),
    QueryDef("s08_pq_codes", s08, Some(s08Sql)),
    QueryDef("s09_sq_codes", s09, Some(s09Sql)),
    QueryDef("s10_kmeans", s10, Some(s10Sql)),
    QueryDef("s11_cluster_sample", s11, Some(s11Sql)),
    QueryDef("s12_range_search", s12, Some(s12Sql)),
    QueryDef("s13_adc_topk", s13, Some(s13Sql)),
    QueryDef("s14_mrl_recall", s14, Some(s14Sql)),
    QueryDef("s15_mips_topk", s15, Some(s15Sql)),
    QueryDef("s16_jl_recall", s16, Some(s16Sql)),
    QueryDef("s17_knn_classify", s17, Some(s17Sql)),
    QueryDef("s18_mmr_diversity", s18, Some(s18Sql)),
    QueryDef("s19_hamming_knn", s19, Some(s19Sql)),
    QueryDef("s20_ivfpq", s20, Some(s20Sql)),
    QueryDef("s21_nprobe_sweep", s21, Some(s21Sql)),
    QueryDef("s22_hybrid_rrf", s22, Some(s22Sql)),
    QueryDef("s23_hard_negatives", s23, Some(s23Sql)))

  /** s23 — hard-negative mining triplets: for each query in the fixed
    * sample, the top same-label neighbor by exact cosine is the POSITIVE
    * and the top-3 different-label neighbors are the HARD NEGATIVES — the
    * (anchor, positive, negative, margin) table a contrastive-training
    * pipeline (sentence embedders, rerankers, CLIP-style dual encoders)
    * mines from its own corpus before every training round. A small (or
    * negative) margin marks the pairs that teach the model the most.
    *
    * Scale shape: s01's harness — fixed-k broadcast query side with labels
    * attached BEFORE scoring (the label join must never touch the k·n
    * scored pairs), one map-side O(k·n) labeled scoring pass, per-(query,
    * same_label) top-k via the partial-combinable TopKByScore (≤ 2k groups
    * on the wire), and the positive/negative recombination is a join of
    * two ≤ k·3-row frames. The corpus never shuffles.
    *
    * Determinism: cosines are exact-int-derived doubles, ties break toward
    * the smaller neighbor id (TopKByScore = ROW_NUMBER(ORDER BY cos DESC,
    * id)), and margin is one double subtraction of bit-identical operands.
    */
  private def s23(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    val queries = base.join(broadcast(sampleIds(s, dir, QueryK)), "vec_id")
    val pairs = queries.as("a")
      .join(base.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
        (col("a.label") === col("b.label")).as("same_label"),
        col("b.vec_id").as("neighbor_id"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
    val topk = TopKByScore(3)
    val ranked = pairs.groupBy(col("query_id"), col("same_label"))
      .agg(topk(col("neighbor_id"), col("cos")).as("tk"))
    val pos = ranked.filter(col("same_label"))
      .select(col("query_id"),
        element_at(col("tk"), 1).getField("id").as("pos_id"),
        element_at(col("tk"), 1).getField("score").as("pos_cos"))
    val negs = ranked.filter(!col("same_label"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("neg_rk"),
        col("col.id").as("neg_id"), col("col.score").as("neg_cos"))
    pos.join(negs, "query_id")
      .select(col("query_id"), col("neg_rk"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy(col("query_id"), col("neg_rk"))
  }

  private def s23Sql: String =
    s"""WITH q AS (SELECT vec_id, label,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |qs AS (${sampleSql(QueryK)}),
       |p AS (SELECT a.vec_id AS query_id, a.label = b.label AS same_label,
       |  b.vec_id AS neighbor_id,
       |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
       |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
       | FROM q a JOIN q b ON a.vec_id <> b.vec_id
       | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
       |r AS (SELECT query_id, same_label, neighbor_id, cos,
       |  ROW_NUMBER() OVER (PARTITION BY query_id, same_label
       |    ORDER BY cos DESC, neighbor_id) AS rk
       | FROM p),
       |pos AS (SELECT query_id, neighbor_id AS pos_id, cos AS pos_cos
       | FROM r WHERE same_label AND rk = 1),
       |neg AS (SELECT query_id, rk AS neg_rk, neighbor_id AS neg_id,
       |  cos AS neg_cos FROM r WHERE NOT same_label AND rk <= 3)
       |SELECT pos.query_id, neg.neg_rk, pos.pos_id, pos.pos_cos, neg.neg_id,
       |  neg.neg_cos, pos.pos_cos - neg.neg_cos AS margin
       |FROM pos JOIN neg ON pos.query_id = neg.query_id
       |ORDER BY pos.query_id, neg.neg_rk""".stripMargin

  /** s22 — hybrid retrieval with reciprocal-rank fusion (RRF, Cormack &
    * Clarke's 1/(60+rank)): the modern RAG retrieval shape — a LEXICAL arm
    * (idf-weighted token overlap, integer weights 1e6 DIV df, stopwords
    * df-capped out) and a SEMANTIC arm (exact quantized cosine, s01's
    * machinery) each produce a per-query top-10; fusion sums each arm's
    * reciprocal rank and keeps the fused top-5. Lexical-only hits (exact
    * keywords the embedding smears) and semantic-only hits (paraphrases
    * sharing no tokens) both survive — the reason production retrieval
    * runs both arms. Queries are the fixed sample; vec_id ≡ doc_id is the
    * fixture convention (q13).
    *
    * The df cap (round 14): tokens in more than 1/5 of the corpus are
    * STOPWORDS — their idf weight is ≤ 1e6·5/|docs| (~0 at scale) but
    * their posting-list JOIN volume is proportional to the whole corpus,
    * which made the uncapped join this registry's most expensive stage.
    * Capping df ≤ |docs|/5 removes them from BOTH the query tokens and
    * the candidate side before any row materializes; the oracle SQL
    * mirrors the cap, so the check stays value-exact (the lexical arm is
    * now stopword-pruned BM25-style scoring — the standard production
    * form — rather than all-token overlap).
    *
    * Scale shape: both arms are fixed-k probes (semantic: broadcast
    * queries × corpus map pass; lexical: broadcast query token sets,
    * token-keyed equi-join whose posting list excludes df > |docs|/5
    * tokens — join volume rides the capped df, never the corpus size);
    * ranks ride query-keyed windows over ≤10·k rows; fusion is a keyed
    * full-outer join of two top-10 lists.
    */
  private def s22(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = sampleIds(s, dir, QueryK).localCheckpoint() // both arms probe it
    val sem = topkRank(bruteScoredPairs(baseVecs(s, dir), ids), 10)
      .select(col("query_id"), col("neighbor_id").as("cand_id"),
        col("rk").as("sem_rank"))
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), explode(distinctTokens(col("text"))).as("w"))
      // referenced THREE times below (df table, query tokens, candidate
      // side of the lexical join): one tokenize+explode pass, not three
      .localCheckpoint()
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val dfw = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs)) // 1-row total
      .filter(col("df") * lit(5) <= col("n_docs"))
      .select(col("w"), col("df"))
    val qtok = tok
      .join(broadcast(ids.select(col("vec_id").as("doc_id"))), "doc_id")
      .select(col("doc_id").as("query_id"), col("w"))
    val lw = Window.partitionBy(col("query_id"))
      .orderBy(col("lex_score").desc, col("cand_id"))
    val lex = qtok.join(dfw, Seq("w")) // cap + weight BEFORE the posting join
      .join(tok, Seq("w"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("1000000 DIV df")).as("lex_score"))
      .withColumnRenamed("doc_id", "cand_id")
      .withColumn("lex_rank", row_number().over(lw).cast("long"))
      .filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("cand_id"), col("lex_rank"))
    val fw = Window.partitionBy(col("query_id"))
      .orderBy(col("fused").desc, col("cand_id"))
    sem.join(lex, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("fused",
        coalesce(lit(1.0) / (col("sem_rank") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("lex_rank") + 60), lit(0.0)))
      .withColumn("rk", row_number().over(fw).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("cand_id"), col("fused"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def s22Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |qs AS (${sampleSql(QueryK)}),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
      |sem AS (SELECT query_id, cand_id,
      |  CAST(rk AS BIGINT) AS sem_rank FROM (
      |    SELECT query_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY cos DESC, cand_id) AS rk FROM p) WHERE rk <= 10),
      |tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
      |  AS w FROM documents),
      |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |dfw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY w),
      |dfk AS (SELECT w, df FROM dfw, nd WHERE df * 5 <= n_docs),
      |qt AS (SELECT doc_id AS query_id, w FROM tok
      |  WHERE doc_id IN (SELECT vec_id FROM qs)),
      |sc AS (SELECT qt.query_id, t.doc_id AS cand_id,
      |    CAST(SUM(1000000 // d.df) AS BIGINT) AS lex_score
      |  FROM qt JOIN dfk d ON d.w = qt.w
      |  JOIN tok t ON t.w = qt.w AND t.doc_id <> qt.query_id
      |  GROUP BY qt.query_id, t.doc_id),
      |lex AS (SELECT query_id, cand_id,
      |  CAST(rk AS BIGINT) AS lex_rank FROM (
      |    SELECT query_id, cand_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY lex_score DESC, cand_id) AS rk FROM sc) WHERE rk <= 10),
      |f AS (SELECT COALESCE(sem.query_id, lex.query_id) AS query_id,
      |    COALESCE(sem.cand_id, lex.cand_id) AS cand_id,
      |    COALESCE(CAST(1 AS DOUBLE) / (sem.sem_rank + 60), 0)
      |      + COALESCE(CAST(1 AS DOUBLE) / (lex.lex_rank + 60), 0) AS fused
      |  FROM sem FULL OUTER JOIN lex
      |    ON sem.query_id = lex.query_id AND sem.cand_id = lex.cand_id),
      |r AS (SELECT query_id, cand_id, fused,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY fused DESC, cand_id) AS BIGINT) AS rk FROM f)
      |SELECT query_id, rk, cand_id, fused FROM r WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** s21 — nprobe tuning curve for the IVF index (the ANN analogue of
    * d23's LSH banding sweep): for each exact top-3 neighbor of each query,
    * in which PROBE-RANKED cell does it live? cov_p = fraction of true
    * neighbors whose cell is among the query's first p probes — the exact
    * recall CEILING of s04's search at nprobe = p (IVF can never return a
    * neighbor it didn't probe), i.e. the curve nprobe is actually tuned
    * against before paying for a full search per setting.
    *
    * Scale shape: corpus assignment is the s04 broadcast-codebook fold
    * (map-side, no shuffle); probe ranks are a fixed k×IvfK frame with a
    * query-keyed window; the ground truth is the fixed-k broadcast brute
    * pass; the final join touches 3·k rows. One output row.
    */
  private def s21(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = baseVecs(s, dir).localCheckpoint()
    val ids = sampleIds(s, dir, QueryK)
    val cents = MaterializedIvfCells.codebook(s, dir)
    val withCell = MaterializedIvfCells.assigned(s, dir)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val probeRank = q.join(broadcast(ids), "vec_id")
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("v"), col("nrm"),
        explode(col("cands")).as("c"))
      .select(col("query_id"), col("c.c_id").as("cell"),
        (dotLong(col("v"), col("c.c_v")).cast("double") /
          (col("nrm") * col("c.c_nrm"))).as("ccos"))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("ccos").desc, col("cell"))).cast("long"))
    val truth = topkRank(bruteScoredPairs(q, ids), 3)
      .select(col("query_id"), col("neighbor_id"))
    def cov(p: Int) =
      sum(when(col("probe_rank") <= p, 1L).otherwise(0L)).as(s"cov_$p")
    // truth (3·k rows) and probe ranks (k·IvfK rows) are both fixed-size:
    // broadcast them so the corpus-sized assignment frame never shuffles
    withCell.join(broadcast(truth), Seq("neighbor_id"))
      .join(broadcast(probeRank
          .select(col("query_id"), col("cell"), col("probe_rank"))),
        Seq("query_id", "cell"))
      .agg(count(lit(1)).as("n_true"), cov(1), cov(2), cov(4))
      .select(col("n_true"), col("cov_1"), col("cov_2"), col("cov_4"),
        (col("cov_1").cast("double") / col("n_true")).as("rate_1"),
        (col("cov_2").cast("double") / col("n_true")).as("rate_2"),
        (col("cov_4").cast("double") / col("n_true")).as("rate_4"))
  }

  private def s21Sql: String =
    s"""WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |cid AS (SELECT vec_id FROM embeddings
      |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ivf'), vec_id LIMIT $IvfK),
      |c AS (SELECT q.vec_id AS c_id, q.v AS c_v FROM q
      |  WHERE q.vec_id IN (SELECT vec_id FROM cid)),
      |qs AS (${sampleSql(QueryK)}),
      |score AS (SELECT q.vec_id, c.c_id,
      |  list_dot_product(q.v::DOUBLE[], c.c_v::DOUBLE[]) /
      |  (sqrt(list_dot_product(q.v::DOUBLE[], q.v::DOUBLE[])) *
      |   sqrt(list_dot_product(c.c_v::DOUBLE[], c.c_v::DOUBLE[]))) AS ccos
      | FROM q CROSS JOIN c),
      |assign AS (SELECT vec_id AS neighbor_id, c_id AS cell FROM (
      |  SELECT vec_id, c_id,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS rn
      |  FROM score) WHERE rn = 1),
      |pr AS (SELECT vec_id AS query_id, c_id AS cell,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY ccos DESC, c_id) AS BIGINT) AS probe_rank
      |  FROM score WHERE vec_id IN (SELECT vec_id FROM qs)),
      |p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id <> b.vec_id
      | WHERE a.vec_id IN (SELECT vec_id FROM qs)),
      |truth AS (SELECT query_id, neighbor_id FROM (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, neighbor_id) AS rk
      |  FROM p) WHERE rk <= 3),
      |j AS (SELECT t.query_id, t.neighbor_id, pr.probe_rank
      |  FROM truth t JOIN assign a ON a.neighbor_id = t.neighbor_id
      |  JOIN pr ON pr.query_id = t.query_id AND pr.cell = a.cell)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN probe_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS cov_1,
      |  CAST(SUM(CASE WHEN probe_rank <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS cov_2,
      |  CAST(SUM(CASE WHEN probe_rank <= 4 THEN 1 ELSE 0 END) AS BIGINT) AS cov_4,
      |  CAST(SUM(CASE WHEN probe_rank <= 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS rate_1,
      |  CAST(SUM(CASE WHEN probe_rank <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS rate_2,
      |  CAST(SUM(CASE WHEN probe_rank <= 4 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*) AS rate_4
      |FROM j""".stripMargin

  /** Probed cells per query for s20 (of [[IvfK]] IVF cells). */
  private val IvfPqProbe = 4

  /** s20 — IVF-PQ (IVFADC, Jégou et al. 2011): the composition the
    * separate stages rehearse — s04's inverted-file coarse quantizer picks
    * WHICH vectors to score, s13's product-quantization ADC decides HOW to
    * score them, and the PQ codes encode the RESIDUAL v − centroid(cell)
    * (residuals concentrate near 0, so the same [[CodeK]] sub-centroids
    * quantize far finer than they would raw vectors). This is the
    * architecture a 100 TB vector store actually deploys: 8 bytes of codes
    * + 1 cell id per vector in RAM, exact vectors cold.
    *
    * Scale shape: both codebooks are FIXED-size (IvfK cells, CodeK
    * sub-centroids) — collected once, shipped as expression literals, so
    * cell assignment and code encoding are per-row NearestCell codegen
    * folds: the corpus never shuffles and nothing driver-side grows with
    * n. The search never scans the corpus either: candidates come from an
    * EQUI-JOIN on the cell id against the broadcast (query × probed-cell)
    * LUT table — the inverted-file contract — and per-query top-5 rides
    * the partial-combinable TopKByScore.
    *
    * Determinism: every distance is exact integer L2² (quantized ints;
    * residual subtraction exact); every argmin breaks ties toward the
    * smaller id (NearestCell's strict-less rule = the oracle's
    * ROW_NUMBER(ORDER BY d2, c_id); the driver-side sample assignment
    * replicates the same rule in plain Scala).
    */
  private def s20(s: SparkSession, dir: String): DataFrame = {
    val vq = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    // ONE setup collect (round 19): the '#ivf'/'#pq' codebook samples and
    // the QueryK query vectors are all fixed-k — gather them through one
    // role-tagged broadcast join instead of two separate collect jobs plus
    // an in-plan query side (the before-plan re-scanned embeddings five
    // times inside the final job alone; now the only corpus pass left is
    // the encode itself).
    def salted(salt: String, k: Int): DataFrame =
      vq.select(col("vec_id"))
        .orderBy(md5(concat(col("vec_id").cast("string"), lit(salt))),
          col("vec_id"))
        .limit(k)
    val roles = salted("#ivf", IvfK).select(col("vec_id"), lit("ivf").as("role"))
      .unionAll(salted("#pq", CodeK).select(col("vec_id"), lit("pq").as("role")))
      .unionAll(sampleIds(s, dir, QueryK)
        .select(col("vec_id"), lit("q").as("role")))
    val sampled: Array[(String, Long, Array[Long])] =
      vq.join(broadcast(roles), "vec_id").collect()
        .map(r => (r.getString(2), r.getLong(0), r.getSeq[Long](1).toArray))
    def byRole(role: String): Array[(Long, Array[Long])] =
      sampled.collect { case (`role`, id, v) => id -> v }.sortBy(_._1)
    // IVF codebook: fixed-IvfK salted sample (O(IvfK·64))
    val cents = byRole("ivf")
    val cIds = cents.map(_._1)
    val cVecs = cents.map(_._2)
    def l2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // driver-side nearest cell, same strict-less / smaller-id rule
    def nearestCell(v: Array[Long]): Int = {
      var best = 0; var bd = l2(v, cVecs(0)); var i = 1
      while (i < cVecs.length) {
        val d = l2(v, cVecs(i)); if (d < bd) { bd = d; best = i }; i += 1
      }
      best
    }
    // PQ codebook over RESIDUALS of the '#pq'-salted CodeK sample
    val pqSample: Array[(Long, Array[Long])] =
      byRole("pq").map { case (id, v) =>
        val cv = cVecs(nearestCell(v))
        id -> v.indices.map(i => v(i) - cv(i)).toArray
      }
    val subBooks: IndexedSeq[(Array[Long], Array[Array[Long]])] =
      (0 until SubSpaces).map { i =>
        (pqSample.map(_._1),
          pqSample.map(_._2.slice(i * SubDim, (i + 1) * SubDim)))
      }
    // centroid lookup map literal: cell id → centroid vector. ONE MapType
    // Literal node (typedLit), not a map_from_arrays tree of IvfK·64
    // element literals — the tree form made plan analysis the dominant
    // per-execution cost (Explain showed build ≈ half of s20's wall).
    val centMap = typedLit(cIds.zip(cVecs.map(_.toSeq)).toMap)
    // corpus hot pass: one cell NearestCell + residual + 4 code NearestCells,
    // all inside whole-stage codegen, zero shuffle
    val assigned = vq
      .withColumn("cell", graft.functions.NearestCell(col("v"), cIds, cVecs))
      .withColumn("r",
        zip_with(col("v"), element_at(centMap, col("cell")), (a, b) => a - b))
    val coded = assigned.select(col("vec_id"), col("cell"),
      array((0 until SubSpaces).map { i =>
        graft.functions.NearestCell(
          slice(col("r"), i * SubDim + 1, SubDim),
          subBooks(i)._1, subBooks(i)._2)
      }: _*).as("codes"))
    // query side, all driver-side over the collected fixed-k sample
    // (round 19 — the j20/s18 bounded-collect discipline): probe the
    // IvfPqProbe nearest cells per query (same (d2 asc, cell asc) order the
    // TopKByScore form used — its score was the exact double −d2), build
    // one LUT per (query, probed cell) from the query's residual AGAINST
    // THAT CELL in the identical exact integer L2² arithmetic, and ship the
    // QueryK·IvfPqProbe-row result as a local relation. This removes the
    // probe/LUT subtree's four extra corpus scans, its SortMergeJoin, and
    // two ObjectHashAggregate exchanges from every run.
    def l2sub(a: Array[Long], b: Array[Long]): Long = l2(a, b)
    val lutRows: Seq[(Long, Long, Seq[Map[Long, Long]])] =
      byRole("q").toSeq.flatMap { case (qid, qvec) =>
        val probes = cIds.indices
          .map(i => (l2(qvec, cVecs(i)), cIds(i), i))
          .sortBy(t => (t._1, t._2))
          .take(IvfPqProbe)
        probes.map { case (_, cellId, ci) =>
          val cv = cVecs(ci)
          val qr = Array.tabulate(qvec.length)(i => qvec(i) - cv(i))
          val luts = (0 until SubSpaces).map { si =>
            val ids = subBooks(si)._1
            val svs = subBooks(si)._2
            val sv = qr.slice(si * SubDim, (si + 1) * SubDim)
            ids.indices.map(j => ids(j) -> l2sub(sv, svs(j))).toMap
          }
          (qid, cellId, luts)
        }
      }
    val luts = s.createDataFrame(lutRows)
      .toDF("query_id", "cell", "luts")
    // the IVF payoff: candidates via EQUI-JOIN on the cell id
    val pairs = coded.join(broadcast(luts), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-aggregate(
          zip_with(col("codes"), col("luts"), (code, m) => element_at(m, code)),
          lit(0L), (a, x) => a + x)).cast("double").as("cos"))
    topkRank(pairs, 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        (-col("cos")).cast("long").as("adc_d2"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def s20Sql: String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |cid AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#ivf'), vec_id LIMIT $IvfK),
       |cent AS (SELECT vec_id AS cell, v AS cv FROM q
       |  WHERE vec_id IN (SELECT vec_id FROM cid)),
       |ad AS (SELECT q.vec_id, cent.cell, cent.cv,
       |  CAST(list_dot_product(q.v::DOUBLE[], q.v::DOUBLE[])
       |     - 2 * list_dot_product(q.v::DOUBLE[], cent.cv::DOUBLE[])
       |     + list_dot_product(cent.cv::DOUBLE[], cent.cv::DOUBLE[]) AS BIGINT)
       |    AS d2
       | FROM q, cent),
       |asg AS (SELECT vec_id, cell, cv FROM (
       |    SELECT vec_id, cell, cv,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ad) WHERE rn = 1),
       |res AS (SELECT q.vec_id, asg.cell,
       |  list_transform(range(1, 65), i -> q.v[i] - asg.cv[i]) AS r
       | FROM q JOIN asg ON q.vec_id = asg.vec_id),
       |pqid AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#pq'), vec_id LIMIT $CodeK),
       |ss AS (SELECT unnest([0, 1, 2, 3]) AS sub),
       |pcb AS (SELECT sub, res.vec_id AS c_id,
       |  list_slice(r, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS c_sv
       | FROM res, ss WHERE res.vec_id IN (SELECT vec_id FROM pqid)),
       |rsl AS (SELECT vec_id, cell, sub,
       |  list_slice(r, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS sv
       | FROM res, ss),
       |cd AS (SELECT rsl.vec_id, rsl.cell, rsl.sub, pcb.c_id,
       |  CAST(list_dot_product(rsl.sv::DOUBLE[], rsl.sv::DOUBLE[])
       |     - 2 * list_dot_product(rsl.sv::DOUBLE[], pcb.c_sv::DOUBLE[])
       |     + list_dot_product(pcb.c_sv::DOUBLE[], pcb.c_sv::DOUBLE[])
       |    AS BIGINT) AS d2
       | FROM rsl JOIN pcb ON rsl.sub = pcb.sub),
       |codes AS (SELECT vec_id, cell, sub, c_id FROM (
       |    SELECT vec_id, cell, sub, c_id,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_id)
       |        AS rn FROM cd) WHERE rn = 1),
       |qs AS (${sampleSql(QueryK)}),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       |    SELECT vec_id, cell,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |    FROM ad WHERE vec_id IN (SELECT vec_id FROM qs))
       |  WHERE rn <= $IvfPqProbe),
       |qres AS (SELECT p.query_id, p.cell,
       |  list_transform(range(1, 65), i -> q.v[i] - cent.cv[i]) AS qr
       | FROM probes p JOIN q ON q.vec_id = p.query_id
       |   JOIN cent ON cent.cell = p.cell),
       |qsl AS (SELECT query_id, cell, sub,
       |  list_slice(qr, sub * $SubDim + 1, sub * $SubDim + $SubDim) AS sv
       | FROM qres, ss),
       |lut AS (SELECT qsl.query_id, qsl.cell, qsl.sub, pcb.c_id,
       |  CAST(list_dot_product(qsl.sv::DOUBLE[], qsl.sv::DOUBLE[])
       |     - 2 * list_dot_product(qsl.sv::DOUBLE[], pcb.c_sv::DOUBLE[])
       |     + list_dot_product(pcb.c_sv::DOUBLE[], pcb.c_sv::DOUBLE[])
       |    AS BIGINT) AS d2
       | FROM qsl JOIN pcb ON qsl.sub = pcb.sub),
       |adc AS (SELECT l.query_id, n.vec_id AS neighbor_id,
       |  CAST(SUM(l.d2) AS BIGINT) AS adc_d2
       | FROM codes n JOIN lut l
       |   ON n.cell = l.cell AND n.sub = l.sub AND n.c_id = l.c_id
       | WHERE n.vec_id <> l.query_id
       | GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adc_d2,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY adc_d2, neighbor_id) AS rk FROM adc)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, adc_d2
       |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** s19 — binary-code nearest neighbors: 64-bit sign binarization
    * (bit i = embedding[i] > 0 — the 1-bit quantizer of LSH/ITQ binary
    * embedding schemes) packed into two 32-bit words, then exact top-5 by
    * Hamming distance for the standard query sample. The cheapest ANN
    * memory tier: 8 bytes/vector (32× smaller than float32) and distance
    * is two XOR+popcount ops — the code layout a 100 TB store would keep
    * in RAM as the first-pass filter before exact re-ranking (s13's ADC is
    * the multi-bit refinement of the same idea).
    *
    * Scale shape: code packing is a per-row integer expression inside
    * WholeStageCodegen; the fixed-k probe set broadcasts into one linear
    * corpus scan (O(k·n) popcounts, no shuffle of the corpus); per-query
    * top-5 rides the partial-combinable TopKByScore aggregator.
    */
  private def s19(s: SparkSession, dir: String): DataFrame = {
    def word(off: Int): Column = aggregate(
      transform(sequence(lit(0), lit(31)), i =>
        when(element_at(col("embedding"), (i + lit(off + 1)).cast("int")) > 0,
          pow(lit(2.0), i).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    val codes = Tables.embeddings(s, dir)
      .select(col("vec_id"), word(0).as("w0"), word(32).as("w1"))
    val probes = codes.join(broadcast(sampleIds(s, dir, QueryK)), "vec_id")
      .select(col("vec_id").as("query_id"),
        col("w0").as("q0"), col("w1").as("q1"))
    val scored = codes.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(col("q0").bitwiseXOR(col("w0"))) +
          bit_count(col("q1").bitwiseXOR(col("w1")))).cast("long").as("ham"))
    val topk = graft.functions.TopKByScore(5)
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), -col("ham").cast("double")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("neighbor_id"),
        (-col("col.score")).cast("long").as("ham"))
      .orderBy(col("query_id"), col("rk"))
  }

  private def s19Sql: String =
    s"""WITH c AS (SELECT vec_id,
       |  CAST(list_sum(list_transform(range(0, 32), i ->
       |    CASE WHEN embedding[i + 1] > 0
       |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS w0,
       |  CAST(list_sum(list_transform(range(0, 32), i ->
       |    CASE WHEN embedding[i + 33] > 0
       |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS w1
       | FROM embeddings),
       |qs AS (${sampleSql(QueryK)}),
       |p AS (SELECT q.vec_id AS query_id, q.w0 AS q0, q.w1 AS q1
       |      FROM c q WHERE q.vec_id IN (SELECT vec_id FROM qs)),
       |sc AS (SELECT p.query_id, c.vec_id AS neighbor_id,
       |  CAST(bit_count(xor(p.q0, c.w0)) + bit_count(xor(p.q1, c.w1))
       |    AS BIGINT) AS ham
       | FROM c, p WHERE c.vec_id <> p.query_id),
       |r AS (SELECT query_id, neighbor_id, ham,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY ham, neighbor_id) AS rk FROM sc)
       |SELECT query_id, rk, neighbor_id, ham FROM r WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin
}
