package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.ShingleHashes
import graft.functions.TextFunctions._
import graft.operators.{ConnectedComponents, MinHashLSH, SimHash}

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale discipline: every pair-finding query except the two explicitly
  * "brute-force baseline" ones generates candidates via an equi-join
  * (shared shingle / LSH band / SimHash segment) — O(n·k) candidate rows —
  * never a cartesian.
  */
object DedupQueries extends QueryPack {

  /** d01 — exact dedup by normalized-content hash: inject exact copies
    * (every 5th doc re-appears under a new id), group by fingerprint, keep
    * the smallest doc_id. Copies collapse, n_copies records the multiplicity.
    */
  private def d01(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val copies = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.unionAll(copies)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  private val d01Sql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      |)
      |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM all_docs
      |GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
      |ORDER BY doc_id""".stripMargin

  /** Common SQL prelude: distinct hashed word-3-shingle sets per document —
    * the 60-bit shingle hash of graft.functions.ShingleHashes (first 15 hex
    * digits of md5 of the space-joined shingle).
    */
  private val shingleCte =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT))) AS s3
      | FROM w)""".stripMargin

  /** d02 — n-gram Jaccard near-dup: candidates via shared-shingle equi-join
    * (each common shingle contributes one joined row, so COUNT(*) per pair
    * is exactly |A∩B|), then Jaccard from per-doc set sizes. Equivalent to
    * all-pairs Jaccard ≥ 0.3 — pairs sharing no shingle have J = 0. The
    * join/shuffle carries 8-byte shingle hashes, not strings (ShingleHashes).
    */
  private def d02(s: SparkSession, dir: String): DataFrame =
    d02Pairs(s, dir, maxDf = DefaultMaxDf)

  /** Document-frequency cap for d02: shingles shared by more than this many
    * documents are dropped before pair expansion (standard MinHash/suffix-
    * array practice — such "stop-shingles" carry no near-dup signal but emit
    * df·(df−1)/2 candidate pairs). Recall effect: a dropped shingle stops
    * counting toward the pair intersection, so only pairs whose shared
    * shingles are predominantly corpus-wide stop-shingles can fall below the
    * threshold — genuine near-dups share many document-specific shingles.
    * PropertySpec pins capped == uncapped at small sf where no group exceeds
    * the cap, and that a synthetic stop-shingle group is dropped.
    */
  def DefaultMaxDf: Int = graft.config.Scale.maxDf

  private[graft] def d02Pairs(s: SparkSession, dir: String, maxDf: Int): DataFrame =
    d02PairsUnordered(s, dir, maxDf).orderBy(col("i"), col("j"))

  /** d02's pair set WITHOUT the presentation sort — for consumers (d23's
    * truth set) that only join/count it: `orderBy` plans a RangePartitioner
    * whose bounds-sampling pass is an extra job per execution, pure waste
    * when the result feeds a hash join.
    */
  private def d02PairsUnordered(s: SparkSession, dir: String, maxDf: Int): DataFrame =
    // derived from the family's session-shared candidate table
    withJac(overlapPairs(s, dir, maxDf))
      .select(col("i"), col("j"), col("jac"))
      .filter(col("jac") >= 0.3)

  /** Exact-Jaccard column over an [[overlapPairsFrom]] row — derived from
    * the integer (c, n_i, n_j) at read time, so the cached parquet carries
    * only integers and the doubles are computed identically on both the
    * cached and inline paths (bit-identical by construction, not by
    * round-trip).
    */
  private def withJac(p: DataFrame): DataFrame =
    p.withColumn("jac", col("c").cast("double") /
      (col("n_i") + col("n_j") - col("c")).cast("double"))

  /** The shingle-set overlap family's SHARED candidate pair table:
    * `(i, j, c, n_i, n_j)` — exact intersection count and both set sizes
    * for every df-capped candidate pair that passes EITHER report
    * predicate of the family (d02/d23-truth's jac ≥ 0.3, d25's one-sided
    * containment ≥ [[ContainmentMin]]); each consumer re-applies its exact
    * predicate, so pre-filtering to the UNION keeps the materialized table
    * output-sized (the unfiltered candidate set — every pair sharing one
    * shingle — is the one intermediate you never want on disk at 100 TB).
    * The table is built once per (session, sfDir, maxDf) and d02, d23's
    * truth set, and d25 all read it back: one explode + two shuffles for
    * the family instead of three. The maxDf knob value is part of the
    * cache tag — a mid-session conf change can never serve a stale cap.
    */
  private[graft] def overlapPairs(s: SparkSession, dir: String, maxDf: Int): DataFrame =
    SessionCache.readThrough(s, dir, SessionCache.tag("ovp", maxDf))(
      overlapPairsFrom(MaterializedShingles.s3(s, dir), maxDf))

  /** [[overlapPairs]] computed directly from a `(doc_id, s3)` table. */
  private[graft] def overlapPairsFrom(sh: DataFrame, maxDf: Int): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("s3")).as("sng"))
    val sizes = sh.select(col("doc_id"), size(col("s3")).as("n"))
    // Group-pairs form, not a self-join: Spark doesn't reuse the exploded
    // exchange across self-join sides, so grouping each shingle's (sorted)
    // doc list once and emitting its in-group pairs halves the shuffled
    // volume — one shuffle on sng, one on the pair. Per-group pair count is
    // df·(df−1)/2, bounded by the df cap below; CollectCapped bounds the
    // aggregation buffer itself to O(cap) so a corpus-wide stop-shingle
    // can't blow executor memory before the filter drops it.
    val cl = graft.functions.CollectCapped(maxDf)
    val groups = ex.groupBy(col("sng"))
      .agg(sort_array(cl(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .filter(size(col("ds")) <= maxDf)
    // pair generation via the SortedPairs kernel (round 19): one exact-size
    // array per group instead of the flatten/transform/slice chain's ~4×
    // object churn — same pair multiset, same order
    val pairs = groups
      .select(explode(graft.functions.SortedPairs(col("ds"))).as("p"))
      .groupBy(col("p.pa").as("i"), col("p.pb").as("j"))
      .agg(count(lit(1)).as("c"))
    val c = col("c").cast("double")
    pairs
      .join(sizes.as("ca"), col("i") === col("ca.doc_id"))
      .join(sizes.as("cb"), col("j") === col("cb.doc_id"))
      .select(col("i"), col("j"), col("c"),
        col("ca.n").cast("long").as("n_i"),
        col("cb.n").cast("long").as("n_j"))
      .filter(
        c / (col("n_i") + col("n_j") - col("c")).cast("double") >= 0.3 ||
        c / col("n_i").cast("double") >= ContainmentMin ||
        c / col("n_j").cast("double") >= ContainmentMin)
  }

  private val d02Sql = shingleCte +
    """
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |  CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
      |  CAST(len(a.s3) + len(b.s3) - len(list_intersect(a.s3, b.s3)) AS DOUBLE) AS jac
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
      |      CAST(len(a.s3) + len(b.s3) - len(list_intersect(a.s3, b.s3)) AS DOUBLE) >= 0.3
      |ORDER BY i, j""".stripMargin

  /** d03 — MinHash+LSH near-dup: k=8 minhashes from one md5 per shingle
    * (Kirsch–Mitzenmacher double hashing — see MinHashLSH), 4 bands of 2,
    * band equi-join candidates, exact-Jaccard verification ≥ 0.3. The oracle
    * reproduces the identical integer hash family, so the candidate set —
    * including its probabilistic misses — matches exactly.
    */
  private def d03(s: SparkSession, dir: String): DataFrame =
    MaterializedPairs.nearDup(s, dir)
      .orderBy(col("i"), col("j"))

  /** The full MinHash+LSH pair query (no ORDER BY) — shared by d03 and the
    * clustering oracle d07, which embeds it as a derived table.
    */
  private val minhashBandsCte = shingleCte +
    """,
      |hh AS (SELECT doc_id, s % 4294967296 AS h1, (s >> 28) | 1 AS h2
      | FROM (SELECT doc_id, unnest(s3) AS s FROM sh)),
      |sig AS (SELECT doc_id,
      |  min(h1 % 4294967296) AS m0, min((h1 + h2) % 4294967296) AS m1,
      |  min((h1 + 2*h2) % 4294967296) AS m2, min((h1 + 3*h2) % 4294967296) AS m3,
      |  min((h1 + 4*h2) % 4294967296) AS m4, min((h1 + 5*h2) % 4294967296) AS m5,
      |  min((h1 + 6*h2) % 4294967296) AS m6, min((h1 + 7*h2) % 4294967296) AS m7
      | FROM hh GROUP BY doc_id),
      |bands AS (SELECT doc_id,
      |  unnest([0, 1, 2, 3]) AS bi,
      |  unnest([m0*1000003 + m1, m2*1000003 + m3, m4*1000003 + m5, m6*1000003 + m7]) AS bv
      | FROM sig)""".stripMargin

  private[queries] val minhashPairsCore = minhashBandsCte +
    """,
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
      |SELECT i, j,
      |  CAST(len(list_intersect(x.s3, y.s3)) AS DOUBLE) /
      |  CAST(len(x.s3) + len(y.s3) - len(list_intersect(x.s3, y.s3)) AS DOUBLE) AS jac
      |FROM cand JOIN sh x ON x.doc_id = i JOIN sh y ON y.doc_id = j
      |WHERE CAST(len(list_intersect(x.s3, y.s3)) AS DOUBLE) /
      |      CAST(len(x.s3) + len(y.s3) - len(list_intersect(x.s3, y.s3)) AS DOUBLE) >= 0.3""".stripMargin

  private val d03Sql = minhashPairsCore + "\nORDER BY i, j"

  /** SQL prelude: 60-bit SimHash per doc (bit b set iff Σ±1 over token-hash
    * bit b is positive) — the exact math of SimHash.aggregator.
    */
  private val simhashCte =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hv FROM tok),
      |bits AS (SELECT doc_id, b,
      |  SUM(CASE WHEN (hv >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      | FROM h, (SELECT unnest(range(0, 60)) AS b) bs GROUP BY doc_id, b),
      |sig AS (SELECT doc_id,
      |  SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS simhash
      | FROM bits GROUP BY doc_id)""".stripMargin

  /** d04 — SimHash signatures (single-pass typed Aggregator). */
  private def d04(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    SimHash.signatures(docs, col("doc_id"), col("toks"))
      .orderBy(col("doc_id"))
  }

  private val d04Sql = simhashCte +
    """
      |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sig ORDER BY doc_id""".stripMargin

  /** d05 — SimHash near-dup pairs within Hamming ≤ 5 via banded segments
    * (6 segments of 10 bits; pigeonhole ⇒ every qualifying pair collides on
    * ≥ 1 segment). Oracle brute-forces all pairs — results must agree.
    */
  private def d05(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val sig = SimHash.signatures(docs, col("doc_id"), col("toks"))
    SimHash.pairsWithin(sig, maxHamming = 5)
      .select(col("i"), col("j"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("i"), col("j"))
  }

  private val d05Sql = simhashCte +
    """
      |SELECT a.doc_id AS i, b.doc_id AS j,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
      |ORDER BY i, j""".stripMargin

  /** d06 — embedding-cosine near-dup, brute-force baseline (the exact
    * definition): quantized-int dot products, pairs with cosine ≥ 0.45.
    * The LSH-bucketed scale path is s02 in SimilarityQueries.
    */
  private def d06(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    // norm once per vector (not per pair): the O(n²) join then does exactly
    // one codegen'd dot per pair — sqrt(aa)*sqrt(bb) reuses the same IEEE
    // values the inline form would compute, so results are bit-identical.
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= 0.45)
      .orderBy(col("i"), col("j"))
  }

  private val d06Sql =
    """WITH q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
      | FROM embeddings),
      |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
      |  (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
      |   sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) AS cos
      | FROM q a JOIN q b ON a.vec_id < b.vec_id)
      |SELECT i, j, cos FROM p WHERE cos >= 0.45 ORDER BY i, j""".stripMargin

  /** d07 — near-dup clustering: the MinHash pair set (d03) condensed into
    * duplicate groups via min-label connected components — the step that
    * turns pairwise hits into "keep one per group". The oracle computes the
    * same components with a recursive transitive-closure CTE.
    */
  private def d07(s: SparkSession, dir: String): DataFrame = {
    val pairs = MaterializedPairs.nearDup(s, dir)
      .select(col("i"), col("j"))
    ConnectedComponents.components(pairs)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  private val d07Sql =
    s"""WITH RECURSIVE pairs AS (SELECT i, j FROM ($minhashPairsCore)),
       |e2 AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
       |  UNION
       |  SELECT e2.a, reach.lbl FROM e2 JOIN reach ON e2.b = reach.id
       |)
       |SELECT id AS doc_id, MIN(lbl) AS component
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** d08 — the end-to-end corpus dedup: near-dup clusters (d07) each keep
    * their best-quality member (t03's score; ties → smaller doc_id),
    * unclustered docs are their own singleton component. This is the
    * composite a training-data pipeline actually ships: pairs → groups →
    * one kept representative per group.
    */
  private def d08(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = tokens(col("text"))
    val quality = (size(array_distinct(ws)).cast("double") / size(ws)) *
      least(lit(1.0), size(ws).cast("double") / 50.0)
    val qual = docs.select(col("doc_id"), quality.as("quality"))
    val pairs = MaterializedPairs.nearDup(s, dir)
      .select(col("i"), col("j"))
    val comp = ConnectedComponents.components(pairs)
    val withComp = qual.join(comp, qual("doc_id") === comp("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"),
        col("quality"))
    withComp.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("kept_doc"))
      .filter(col("cluster_size") > 1) // clusters only: singleton rows are the identity
      .orderBy(col("component"))
  }

  private val d08Sql =
    s"""WITH RECURSIVE pairs AS (SELECT i, j FROM ($minhashPairsCore)),
       |e2 AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
       |  UNION
       |  SELECT e2.a, reach.lbl FROM e2 JOIN reach ON e2.b = reach.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
       |qual AS (SELECT doc_id,
       |  (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |     / len(string_split(text, ' ')))
       |  * least(CAST(1.0 AS DOUBLE),
       |          CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) AS quality
       | FROM documents),
       |wc AS (SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component, q.quality
       | FROM qual q LEFT JOIN comp c ON c.id = q.doc_id),
       |r AS (SELECT doc_id, component, quality,
       |  ROW_NUMBER() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
       | FROM wc)
       |SELECT component, COUNT(*) AS cluster_size,
       |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc
       |FROM r GROUP BY component HAVING COUNT(*) > 1
       |ORDER BY component""".stripMargin

  /** d10 — verbatim-overlap detection: documents sharing whole 64-token
    * chunks (stride 48, t14's chunking) — catches long quoted/partially
    * copied passages that 3-gram Jaccard (d02) dilutes below threshold.
    * Partial copies are planted (every 9th doc's first 96 tokens + a unique
    * suffix) so the detector has ground truth: each plant shares exactly
    * its aligned first chunk with its source. Same group-pairs shape as
    * d02 (capped, 8-byte chunk-hash keys).
    */
  private def d10(s: SparkSession, dir: String): DataFrame = {
    val stride = 48
    val chunkLen = 64
    val ws = tokens(col("text"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val partial = docs.filter(pmod(col("doc_id"), lit(9)) === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat_ws(" ", concat_ws(" ", slice(ws, 1, 96)),
          concat(lit("uniq"), col("doc_id").cast("string"))).as("text"))
    val all = docs.unionAll(partial)
    // the chunk lambda slices a NAMED token-array column (multi-referenced
    // alias, kept materialized by CollapseProject) — not the unnamed
    // tokenizer subtree, which would re-run per chunk (the d26 trap)
    val wsc = col("wsc")
    val nChunksC = floor((size(wsc) - 1).cast("double") / stride).cast("int") + 1
    val chunkHash = (i: Column) =>
      conv(substring(md5(concat_ws(" ",
        slice(wsc, i * stride + 1, lit(chunkLen)))), 1, 15), 16, 10).cast("long")
    val ex = all.withColumn("wsc", tokens(col("text")))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(0), nChunksC - 1), chunkHash))).as("ch"))
    val cl = graft.functions.CollectCapped(DefaultMaxDf)
    val groups = ex.groupBy(col("ch"))
      .agg(sort_array(cl(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .filter(size(col("ds")) <= DefaultMaxDf)
    groups.select(explode(graft.functions.SortedPairs(col("ds"))).as("p"))
      .groupBy(col("p.pa").as("i"), col("p.pb").as("j"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("i"), col("j"))
  }

  private val d10Sql =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000 AS doc_id,
      |    array_to_string(list_slice(string_split(text, ' '), 1, 96), ' ')
      |      || ' uniq' || doc_id AS text
      |  FROM documents WHERE doc_id % 9 = 0),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM base),
      |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(0, CAST(floor(CAST(len(ws) - 1 AS DOUBLE) / 48) AS BIGINT) + 1),
      |    i -> CAST(('0x' || substr(md5(array_to_string(
      |           list_slice(ws, i*48 + 1, i*48 + 64), ' ')), 1, 15)) AS BIGINT)))) AS ch
      | FROM w)
      |SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n_shared
      |FROM c a JOIN c b ON a.ch = b.ch AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |ORDER BY i, j""".stripMargin

  /** d11 — semantic corpus dedup, the end-to-end scale pipeline the
    * embedding family builds toward: banded LSH sign-buckets (candidate
    * pairs come from a (band, value) equi-join with size-adaptive bucket
    * width, never all-pairs — d06 is the declared brute baseline) →
    * exact quantized cosine ≥ 0.45 threshold graph → connected components
    * ([[ConnectedComponents.components]]: propagation with star-contraction
    * fallback) → one kept representative (min vec_id) per cluster with its
    * size. The oracle reproduces the identical hyperplanes and verifies the
    * clustering with a recursive transitive-closure CTE (d07's pattern).
    */
  private def d11(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    // Bucket width adapts to corpus size (MaterializedLshBands' planesFor:
    // expected per-band occupancy ≤ TargetBucketSize at any n — never the
    // O(n²/2^const) of a fixed plane count); LshBands independent bands
    // keep recall. The SQL oracle pins the MinPlanes floor, which planesFor
    // returns at every verify scale (see SimilarityQueries.SqlPlanes).
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    // candidate side: the session-materialized banded index (the identical
    // lshBandVals frame s02/s05/s06 read), projected to the bucket keys
    val bands = MaterializedLshBands.bands(s, dir)
      .select(col("vec_id"), col("bi"), col("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .distinct()
    val pairs = cand
      .join(q.as("x"), col("i") === col("x.vec_id"))
      .join(q.as("y"), col("j") === col("y.vec_id"))
      .filter((dotLong(col("x.v"), col("y.v")).cast("double")
        / (col("x.nrm") * col("y.nrm"))) >= 0.45)
      .select(col("i"), col("j"))
    ConnectedComponents.components(pairs)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("rep_vec_id"))
      .orderBy(col("component"))
  }

  private val d11Sql: String = {
    import graft.functions.VectorFunctions.{LshBands, MinPlanes, lshBandsCteSql}
    s"""WITH RECURSIVE q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |${lshBandsCteSql(LshBands, MinPlanes, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
       | FROM bands a JOIN bands b
       |   ON a.bi = b.bi AND a.bv = b.bv AND a.vec_id < b.vec_id),
       |pairs AS (SELECT i, j
       | FROM cand JOIN q x ON x.vec_id = cand.i JOIN q y ON y.vec_id = cand.j
       | WHERE list_dot_product(x.v::DOUBLE[], y.v::DOUBLE[]) /
       |  (sqrt(list_dot_product(x.v::DOUBLE[], x.v::DOUBLE[])) *
       |   sqrt(list_dot_product(y.v::DOUBLE[], y.v::DOUBLE[]))) >= 0.45),
       |e2 AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
       |  UNION
       |  SELECT e2.a, reach.lbl FROM e2 JOIN reach ON e2.b = reach.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id)
       |SELECT component, COUNT(*) AS n_members,
       |  MIN(id) AS rep_vec_id
       |FROM comp GROUP BY component ORDER BY component""".stripMargin
  }

  /** d12 — greedy band-claim dedup: the batch form of the STREAMING
    * near-dup admission policy (`StreamingNearDup`, agreement spec-pinned).
    * Each LSH band key is owned by its first presenter (min doc_id — the
    * batch stand-in for arrival order); a doc is kept iff it owns all its
    * bands. One pass, no candidate pairs, no connected components: bands →
    * map-side-combined MIN per key → equi-join back → per-doc bool_and.
    * Shuffles carry only (band, doc_id) longs, so the certificate costs
    * O(n·bands) at any scale — the cheap greedy alternative to d08's exact
    * cluster-representative dedup.
    */
  private def d12(s: SparkSession, dir: String): DataFrame = {
    val sh = MaterializedShingles.s3(s, dir)
    val bands = MinHashLSH.banded(
      MinHashLSH.signatures(sh, col("doc_id"), col("s3"), 8), 8, 2)
    val owners = bands.groupBy(col("band_idx"), col("band_val"))
      .agg(min(col("doc_id")).as("owner"))
    bands.join(owners, Seq("band_idx", "band_val"))
      .groupBy(col("doc_id"))
      .agg(bool_and(col("owner") === col("doc_id")).as("kept"),
        sum(when(col("owner") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_foreign_bands"))
      .orderBy(col("doc_id"))
  }

  private val d12Sql = minhashBandsCte +
    """,
      |own AS (SELECT bi, bv, MIN(doc_id) AS owner FROM bands GROUP BY bi, bv)
      |SELECT b.doc_id, BOOL_AND(o.owner = b.doc_id) AS kept,
      |  CAST(SUM(CASE WHEN o.owner <> b.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign_bands
      |FROM bands b JOIN own o ON b.bi = o.bi AND b.bv = o.bv
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** d13 — prefix-fingerprint dedup: cluster docs by the md5 of their first
    * 16 tokens, catching truncation and shared-boilerplate copies that
    * full-content exact dedup (d01) misses — same opening, divergent tails.
    * O(n): one per-row fingerprint inside codegen, one map-side-combined
    * agg on a 32-char key; in a crawl pipeline this is the cheap pass
    * between exact dedup and MinHash. Reports only colliding clusters with
    * the keep-min representative.
    */
  private def d13(s: SparkSession, dir: String): DataFrame = {
    val pfx = md5(concat_ws(" ", slice(tokens(col("text")), 1, 16)))
    Tables.documents(s, dir)
      .select(col("doc_id"), pfx.as("prefix_md5"))
      .groupBy(col("prefix_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("prefix_md5"))
  }

  private val d13Sql =
    """WITH p AS (SELECT doc_id,
      |  md5(array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')) AS prefix_md5
      | FROM documents)
      |SELECT prefix_md5, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      |FROM p GROUP BY prefix_md5 HAVING COUNT(*) > 1
      |ORDER BY prefix_md5""".stripMargin

  /** d21 — cross-source duplication matrix (the provenance audit a corpus
    * curator runs before mixing sources: which source pairs share
    * near-duplicate content, i.e. where is scraped/syndicated overlap or
    * benchmark leakage coming from): d03's MinHash+LSH verified pairs, each
    * attributed to its unordered (source, source) cell with pair count and
    * the Jaccard range. min/max over jac (not a mean) keeps the aggregate
    * order-independent — summing doubles would make the hash
    * nondeterministic under shuffle reordering.
    *
    * Scale shape: pair generation is d03's banded equi-join (never
    * all-pairs); the source attach joins the slim (doc_id, source)
    * projection on each pair endpoint; the final matrix is a
    * map-side-combined groupBy on a ≤|sources|² key.
    */
  private def d21(s: SparkSession, dir: String): DataFrame = {
    val pairs = MaterializedPairs.nearDup(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("i"), col("source").as("src_i")), "i")
      .join(src.select(col("doc_id").as("j"), col("source").as("src_j")), "j")
      .select(least(col("src_i"), col("src_j")).as("src_a"),
        greatest(col("src_i"), col("src_j")).as("src_b"), col("jac"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("jac")).as("min_jac"), max(col("jac")).as("max_jac"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val d21Sql =
    s"""WITH pr AS (SELECT i, j, jac FROM ($minhashPairsCore)),
       |ds AS (SELECT doc_id, source FROM documents),
       |m AS (SELECT LEAST(a.source, b.source) AS src_a,
       |  GREATEST(a.source, b.source) AS src_b, jac
       | FROM pr JOIN ds a ON a.doc_id = pr.i JOIN ds b ON b.doc_id = pr.j)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  MIN(jac) AS min_jac, MAX(jac) AS max_jac
       |FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin

  /** Band widths d23 sweeps (k = 8 signatures: 8×1, 4×2, 2×4 bands). */
  private val BandSweepRs = Seq(1, 2, 4)

  /** d23 — LSH banding parameter sweep: candidate recall AND precision of
    * each (bands × rows) configuration of the k=8 MinHash signature
    * against the exact Jaccard ≥ 0.3 truth set (d02's full pair
    * computation) — the measured S-curve every LSH deployment tunes r
    * against (narrow bands → high recall / low precision → more exact
    * verifications; wide bands → the reverse). Band keys are the
    * comma-joined signature components (strings, not the packed-long form
    * used operationally) so every width is overflow-free and
    * engine-portable.
    *
    * Scale shape: the corpus is tokenized+shingled ONCE per session (the
    * [[MaterializedShingles]] `(doc_id, s3)` table behind both the truth
    * set and the signatures); the truth set is d02's session-shared pair
    * table, materialized ONCE per run (localCheckpoint, unsorted — it only
    * feeds a hash join); all three arm widths explode
    * from ONE signature scan into (r, bi, bv) band keys, so a single
    * self-equi-join on (r, bi, bv) generates every arm's candidates in one
    * shuffle — the d03 candidate plan at three widths, no cartesian
    * anywhere — and ONE left-outer join + groupBy(r) counts candidates and
    * truth hits per arm. Versus the per-arm form (3 joins, 3 checkpoints,
    * 9 count jobs) this is 2 jobs on the same shuffled volume: the arm
    * dimension rides the band key, it never widens the data.
    */
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val sh = MaterializedShingles.s3(s, dir)
    // the truth reads the session-shared overlap-pair table outright — the
    // whole d02 pair build, not just the shingle scan, is paid once per
    // session across d02/d23/d25
    val truth = d02PairsUnordered(s, dir, DefaultMaxDf)
      .select(col("i"), col("j")).localCheckpoint()
    val sig = MinHashLSH.signatures(sh, col("doc_id"), col("s3"), 8)
    val bandCols = BandSweepRs.flatMap { r =>
      (0 until 8 / r).map { b =>
        val cs = (b * r until (b + 1) * r).map(j => col(s"m$j").cast("string"))
        struct(lit(r).as("r"), lit(b).as("bi"), concat_ws(",", cs: _*).as("bv"))
      }
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.r").as("r"),
        col("band.bi").as("bi"), col("band.bv").as("bv"))
    val cands = bands.as("l").join(bands.as("rr"),
        col("l.r") === col("rr.r") && col("l.bi") === col("rr.bi") &&
        col("l.bv") === col("rr.bv") && col("l.doc_id") < col("rr.doc_id"))
      .select(col("l.r").as("r"), col("l.doc_id").as("i"), col("rr.doc_id").as("j"))
      .distinct()
    val stats = cands
      .join(truth.withColumn("hit", lit(1L)), Seq("i", "j"), "left_outer")
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_cands"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
    // static arm axis, so a zero-candidate arm still emits its row
    import s.implicits._
    val arms = BandSweepRs
      .map(r => (r.toLong, (8 / r).toLong)).toDF("r", "bands")
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    arms.join(stats, Seq("r"), "left_outer").crossJoin(nTruth)
      .select(col("r"), col("bands"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .select(col("r"), col("bands"), col("n_cands"), col("n_truth"),
        col("n_hits"),
        when(col("n_truth") > 0,
          col("n_hits").cast("double") / col("n_truth").cast("double"))
          .otherwise(0.0).as("recall"),
        when(col("n_cands") > 0,
          col("n_hits").cast("double") / col("n_cands").cast("double"))
          .otherwise(0.0).as("precision"))
      .orderBy(col("r"))
  }

  private def d23Sql: String = {
    def bandCte(r: Int): String = {
      val nb = 8 / r
      val bis = (0 until nb).mkString("[", ",", "]")
      val bvs = (0 until nb).map { b =>
        (b * r until (b + 1) * r).map(j => s"CAST(m$j AS VARCHAR)")
          .mkString(" || ',' || ")
      }.mkString("[", ", ", "]")
      s"""band$r AS (SELECT doc_id, unnest($bis) AS bi, unnest($bvs) AS bv
         | FROM sig),
         |c$r AS (SELECT DISTINCT l.doc_id AS i, rr.doc_id AS j
         | FROM band$r l JOIN band$r rr
         |   ON l.bi = rr.bi AND l.bv = rr.bv AND l.doc_id < rr.doc_id)""".stripMargin
    }
    val arms = BandSweepRs.map { r =>
      s"""SELECT CAST($r AS BIGINT) AS r, CAST(${8 / r} AS BIGINT) AS bands,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$r) AS n_cands,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c$r JOIN truth USING (i, j))
         |    AS n_hits""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    minhashBandsCte +
      s""",
         |truth AS (SELECT i, j FROM ($d02Sql)),
         |${BandSweepRs.map(bandCte).mkString(",\n")},
         |a AS (
         |  $arms)
         |SELECT r, bands, n_cands, n_truth, n_hits,
         |  CASE WHEN n_truth > 0
         |    THEN CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    ELSE 0.0 END AS recall,
         |  CASE WHEN n_cands > 0
         |    THEN CAST(n_hits AS DOUBLE) / CAST(n_cands AS DOUBLE)
         |    ELSE 0.0 END AS precision
         |FROM a ORDER BY r""".stripMargin
  }

  /** d27 Jaccard threshold. Prefix filtering's selectivity is 1 − τ of
    * each doc (prefix length |d| − ⌈τ|d|⌉ + 1), so LOW τ is its
    * structurally degenerate regime — at τ=0.3 the prefix is 70% of the
    * doc and the candidate join approaches all-pairs on a shared-template
    * vocabulary (measured: ×20 stress ratio 1.89, superlinear). τ=0.7 is
    * the algorithm's intended operating point AND the realistic eviction
    * threshold: d27 is the exact high-τ eviction join; low-τ discovery
    * belongs to d02's df-capped candidates and d03's LSH S-curve.
    */
  private[graft] val ApssTau = 0.7

  /** d27 — all-pairs similarity self-join with PREFIX FILTERING (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007):
    * d02's exact shingle-set Jaccard join, made exact-AND-scalable by the
    * canonical-order prefix bound instead of d02's df-cap heuristic. Every
    * doc's distinct 3-gram shingle hashes are ranked by ascending global
    * document frequency (rarest first, ties by hash); a pair with
    * Jaccard ≥ τ must share ≥ ⌈τ·|d|⌉ shingles with any partner, so its
    * first |d| − ⌈τ·|d|⌉ + 1 ranked shingles (the PREFIX) must intersect
    * the partner's prefix — candidates are generated by an equi-join on
    * prefix shingles only, the length bound τ·|a| ≤ |b| ≤ |a|/τ prunes
    * again, and an exact intersection count verifies. Sound (prefix length
    * is the conservative per-doc bound), so unlike d02's `Scale.maxDf` cut
    * this provably never drops a true pair.
    *
    * Scale shape: candidate volume collapses because prefixes hold each
    * doc's RAREST shingles — the df-ascending canonical order is itself
    * the skew defense (a boilerplate shingle shared by half the corpus
    * never lands in a prefix unless the doc is mostly boilerplate). All
    * joins are keyed equi-joins on 8-byte hashes; the rank window is
    * doc-keyed. The VERIFY stage joins each candidate pair to its two
    * pre-computed distinct shingle ARRAYS and counts the intersection
    * per-row (`size(array_intersect)`) — O(|a|+|b|) CPU per pair in one
    * projection, instead of re-exploding both docs' posting lists through
    * a (candidates × doc-length)-row shuffle + count aggregation (the
    * round-8 form, whose verify dominated on duplicate-heavy corpora: the
    * ×20 stress corpus multiplies true-pair volume quadratically in
    * cluster size, and every true pair pays the full verify).
    */
  private def d27(s: SparkSession, dir: String): DataFrame = {
    // referenced THREE times (posting-list explode + both verify-side
    // array joins): tokenize+shingle the corpus once, materialized
    // (session-shared, MaterializedShingles)
    val sh = MaterializedShingles.s3(s, dir)
      .select(col("doc_id"), col("s3").as("sh"))
    val tok = sh.select(col("doc_id"), size(col("sh")).cast("long").as("len"),
      explode(col("sh")).as("w"))
    val dfw = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfw, Seq("w"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))))
    // NOTE (round 19, measured negative result): materializing the prefix
    // table (localCheckpoint before the self-join) looks like the §2.4 win —
    // the textual plan carries the tokenize→df→rank→window pipeline twice —
    // but AQE's exchange/stage reuse already deduplicates the identical
    // subtrees at runtime: task time was unchanged (≈1.9 s warm) while the
    // forced materialization added ~0.65 s of build wall and the same at
    // x20. Kept lazy deliberately.
    val prefix = ranked.filter(
      col("rn") <= col("len") - ceil(lit(ApssTau) * col("len")) + 1)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id") &&
          lit(ApssTau) * col("a.len") <= col("b.len") &&
          lit(ApssTau) * col("b.len") <= col("a.len"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.len").as("la"), col("b.len").as("lb"))
      .distinct()
    cand.join(sh.as("sa"), col("da") === col("sa.doc_id"))
      .join(sh.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"),
        size(array_intersect(col("sa.sh"), col("sb.sh")))
          .cast("long").as("n_inter"),
        col("la"), col("lb"))
      .select(col("da"), col("db"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("la") + col("lb") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= ApssTau)
      .orderBy(col("da"), col("db"))
  }

  private val d27Sql =
    s"""WITH ww AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |tok AS (SELECT doc_id,
       |  unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT)))) AS w
       | FROM ww),
       |dfw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY w),
       |l AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
       |  FROM tok GROUP BY doc_id),
       |r AS (SELECT t.doc_id, t.w, l.len,
       |    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.w) AS rn
       |  FROM tok t JOIN dfw d ON t.w = d.w JOIN l ON t.doc_id = l.doc_id),
       |p AS (SELECT * FROM r WHERE rn <= len - ceil($ApssTau * len) + 1),
       |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
       |    a.len AS la, b.len AS lb
       |  FROM p a JOIN p b ON a.w = b.w AND a.doc_id < b.doc_id
       |  WHERE $ApssTau * a.len <= b.len AND $ApssTau * b.len <= a.len),
       |i AS (SELECT c.da, c.db, c.la, c.lb, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM cand c JOIN tok ta ON ta.doc_id = c.da
       |  JOIN tok tb ON tb.doc_id = c.db AND tb.w = ta.w
       |  GROUP BY c.da, c.db, c.la, c.lb)
       |SELECT da, db, n_inter,
       |  CAST(n_inter AS DOUBLE) / CAST(la + lb - n_inter AS DOUBLE) AS jaccard
       |FROM i
       |WHERE CAST(n_inter AS DOUBLE) / CAST(la + lb - n_inter AS DOUBLE)
       |  >= $ApssTau
       |ORDER BY da, db""".stripMargin

  /** d28 — content-defined chunking (CDC) cross-document dedup: the
    * storage-dedup shape (LBFS/rsync lineage) at token granularity. Chunk
    * boundaries are declared by CONTENT, not position — a boundary falls
    * after any token whose md5 starts with '0' or '1' (P = 1/8, mean chunk
    * ≈ 8 tokens) — so an insertion early in a copied passage shifts every
    * fixed-width chunk (t34's failure mode) but leaves all CDC chunks
    * after the next boundary untouched. Chunks are fingerprinted and
    * counted across the corpus; the top-20 most-replicated chunks surface
    * shared boilerplate (headers, navigation, license blocks) that
    * whole-doc dedup structurally cannot see.
    *
    * Scale shape: positional explode is linear; the boundary prefix-sum is
    * a doc-keyed window; chunk assembly buffers are chunk-bounded
    * (geometric, mean 8 tokens); the fingerprint count is one map-side-
    * combined agg; top-20 plans as TakeOrderedAndProject. No joins at all.
    */
  private def d28(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val flagged = tok.withColumn("b",
      when(substring(md5(col("w")), 1, 1).isin("0", "1"), 1L).otherwise(0L))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    flagged
      .withColumn("chunk", coalesce(sum(col("b")).over(win), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("w")))),
          c => c.getField("w"))).as("chunk_text"))
      .groupBy(md5(col("chunk_text")).as("fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("chunk_text")).as("chunk_text"))
      .filter(col("n_copies") >= 2)
      .select(col("fp"), col("n_copies"), col("n_docs"), col("chunk_text"))
      .orderBy(col("n_copies").desc, col("fp"))
      .limit(20)
  }

  private val d28Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(list_transform(range(0, len(ws)),
      |    i -> {'pos': i, 'w': ws[i + 1]})) AS t FROM d),
      |tw AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM tok),
      |f AS (SELECT doc_id, pos, w,
      |  CASE WHEN substr(md5(w), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS b
      | FROM tw),
      |c AS (SELECT doc_id, pos, w,
      |  COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      | FROM f),
      |ch AS (SELECT doc_id, chunk, string_agg(w, ' ' ORDER BY pos) AS chunk_text
      |  FROM c GROUP BY doc_id, chunk),
      |g AS (SELECT md5(chunk_text) AS fp, CAST(COUNT(*) AS BIGINT) AS n_copies,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    MIN(chunk_text) AS chunk_text
      |  FROM ch GROUP BY md5(chunk_text) HAVING COUNT(*) >= 2)
      |SELECT fp, n_copies, n_docs, chunk_text FROM g
      |ORDER BY n_copies DESC, fp LIMIT 20""".stripMargin

  /** d29 signature width (source-level MinHash slots). */
  private val OvK = 16

  /** d29 — sketch-only source-overlap estimation: how much does each pair
    * of SOURCES overlap, estimated WITHOUT any pairwise document work?
    * Each source's MinHash signature is the slot-wise min of its documents'
    * per-row signatures (min is mergeable, so the source signature is one
    * map-side-combined agg over per-row codegen signatures — the union
    * sketch of the source's shingle set). Estimated Jaccard = fraction of
    * agreeing slots; the exact source-level shingle Jaccard rides along
    * (shingle-keyed equi-join) so the artifact reports the estimator's
    * error. This is the triage a 100 TB pipeline runs FIRST: rank source
    * pairs by estimated overlap from k·|sources| longs of state, and only
    * send the hot pairs (d21's matrix) into pairwise candidate generation.
    *
    * Scale shape: signatures are per-row codegen + one tiny agg keyed by
    * source; the pair grid is a self-join of the |sources|-row aggregate
    * (20 rows here — post-aggregation, deliberately not a corpus join);
    * the exact-Jaccard check is a shingle-keyed equi-join whose build side
    * is |distinct (source, shingle)| — vocabulary-scaled, not doc-scaled.
    */
  private def d29(s: SparkSession, dir: String): DataFrame = {
    // the cached table carries `source`, so both the signature scan and
    // the exact-Jaccard posting list derive from the one shingle pass
    val docs = MaterializedShingles.s3(s, dir)
    val sh = col("s3")
    val sigs = docs.filter(size(sh) > 0)
      .select(col("source"), graft.functions.MinHashSig(sh, OvK).as("sig"))
    val srcSig = sigs.groupBy(col("source"))
      .agg(min(col("sig").getItem(0)).as("m0"),
        (1 until OvK).map(j => min(col("sig").getItem(j)).as(s"m$j")): _*)
    val ds = docs.select(col("source"), explode(sh).as("s")).distinct()
    val sizes = ds.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = ds.as("x").join(ds.as("y"),
        col("x.s") === col("y.s") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
      .agg(count(lit(1)).as("n_inter"))
    val estMatch = (0 until OvK)
      .map(j => when(col(s"a.m$j") === col(s"b.m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    srcSig.as("a").join(srcSig.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        estMatch.as("est_match"))
      .join(sizes.as("za"), col("sa") === col("za.source"))
      .join(sizes.as("zb"), col("sb") === col("zb.source"))
      .join(inter, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"), col("est_match"),
        (col("est_match").cast("double") / OvK.toDouble).as("est_jaccard"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("za.n") + col("zb.n") - coalesce(col("n_inter"), lit(0L)))
            .cast("double")).as("exact_jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
      .orderBy(col("sa"), col("sb"))
  }

  private val d29Sql = {
    val mins = (0 until OvK).map(j =>
      if (j == 0) "min(h1 % 4294967296) AS m0"
      else s"min((h1 + $j*h2) % 4294967296) AS m$j").mkString(", ")
    val matches = (0 until OvK).map(j =>
      s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
       |  FROM documents),
       |sh AS (SELECT doc_id, source,
       |  list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT))) AS s3
       | FROM w),
       |ds AS (SELECT DISTINCT source, s FROM (
       |    SELECT source, unnest(s3) AS s FROM sh)),
       |hh AS (SELECT source, s % 4294967296 AS h1, (s >> 28) | 1 AS h2
       |  FROM ds),
       |sig AS (SELECT source, $mins FROM hh GROUP BY source),
       |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ds
       |  GROUP BY source),
       |iv AS (SELECT x.source AS sa, y.source AS sb,
       |    CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ds x JOIN ds y ON x.s = y.s AND x.source < y.source
       |  GROUP BY x.source, y.source),
       |p AS (SELECT a.source AS sa, b.source AS sb,
       |    CAST($matches AS BIGINT) AS est_match
       |  FROM sig a JOIN sig b ON a.source < b.source)
       |SELECT p.sa, p.sb, p.est_match,
       |  CAST(p.est_match AS DOUBLE) / $OvK.0 AS est_jaccard,
       |  COALESCE(iv.n_inter, 0) AS n_inter,
       |  CAST(COALESCE(iv.n_inter, 0) AS DOUBLE)
       |    / CAST(za.n + zb.n - COALESCE(iv.n_inter, 0) AS DOUBLE)
       |    AS exact_jaccard,
       |  abs(CAST(p.est_match AS DOUBLE) / $OvK.0
       |    - CAST(COALESCE(iv.n_inter, 0) AS DOUBLE)
       |      / CAST(za.n + zb.n - COALESCE(iv.n_inter, 0) AS DOUBLE))
       |    AS abs_err
       |FROM p JOIN sz za ON za.source = p.sa JOIN sz zb ON zb.source = p.sb
       |LEFT JOIN iv ON iv.sa = p.sa AND iv.sb = p.sb
       |ORDER BY p.sa, p.sb""".stripMargin
  }

  /** d30 — CDC chunk-dedup yield: the ACTION to d28's report. Every
    * document is cut into content-defined chunks (d28's boundary rule);
    * each distinct chunk fingerprint keeps only its first occurrence
    * corpus-wide (smallest (doc_id, chunk index) — the RefinedWeb/CCNet
    * line-dedup policy at chunk granularity), and the per-document token
    * yield after sub-document dedup is reported. This is what whole-doc
    * dedup (d01/t26) cannot give: a doc that is 40% shared boilerplate
    * survives d01 untouched but pays its true token price here.
    *
    * Scale shape: d28's shapes (linear explode, doc-keyed windows,
    * chunk-bounded buffers) plus ONE fingerprint-keyed keeper window
    * (partitions by fp — hash-distributed) and a doc-keyed final agg.
    * Still no joins.
    */
  private def d30(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "w")))
    val flagged = tok.withColumn("b",
      when(substring(md5(col("w")), 1, 1).isin("0", "1"), 1L).otherwise(0L))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = flagged
      .withColumn("chunk", coalesce(sum(col("b")).over(win), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(concat_ws(" ",
        transform(sort_array(collect_list(struct(col("pos"), col("w")))),
          c => c.getField("w"))).as("chunk_text"))
    val keepWin = Window.partitionBy(md5(col("chunk_text")))
      .orderBy(col("doc_id"), col("chunk"))
    chunks
      .withColumn("kept", when(row_number().over(keepWin) === 1, 1L)
        .otherwise(0L))
      .withColumn("toks", size(split(col("chunk_text"), " ")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("kept")).as("n_kept"),
        sum(col("toks")).as("toks_total"),
        sum(col("kept") * col("toks")).as("toks_kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        col("toks_total"), col("toks_kept"),
        (col("toks_kept").cast("double") / col("toks_total").cast("double"))
          .as("yield_ratio"))
      .orderBy(col("doc_id"))
  }

  private val d30Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(list_transform(range(0, len(ws)),
      |    i -> {'pos': i, 'w': ws[i + 1]})) AS t FROM d),
      |tw AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM tok),
      |f AS (SELECT doc_id, pos, w,
      |  CASE WHEN substr(md5(w), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS b
      | FROM tw),
      |c AS (SELECT doc_id, pos, w,
      |  COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      | FROM f),
      |ch AS (SELECT doc_id, chunk, string_agg(w, ' ' ORDER BY pos) AS chunk_text
      |  FROM c GROUP BY doc_id, chunk),
      |k AS (SELECT doc_id, chunk, chunk_text,
      |  CASE WHEN ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
      |    ORDER BY doc_id, chunk) = 1 THEN 1 ELSE 0 END AS kept,
      |  CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS toks
      | FROM ch)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(toks) AS BIGINT) AS toks_total,
      |  CAST(SUM(kept * toks) AS BIGINT) AS toks_kept,
      |  CAST(SUM(kept * toks) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE)
      |    AS yield_ratio
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("d01_exact_dedup", d01, Some(d01Sql)),
    QueryDef("d02_ngram_jaccard", d02, Some(d02Sql)),
    QueryDef("d03_minhash_lsh", d03, Some(d03Sql)),
    QueryDef("d04_simhash", d04, Some(d04Sql)),
    QueryDef("d05_simhash_pairs", d05, Some(d05Sql)),
    QueryDef("d06_embedding_neardup", d06, Some(d06Sql)),
    QueryDef("d07_neardup_clusters", d07, Some(d07Sql)),
    QueryDef("d08_corpus_dedup", d08, Some(d08Sql)),
    QueryDef("d09_decontaminate", d09, Some(d09Sql)),
    QueryDef("d10_chunk_overlap", d10, Some(d10Sql)),
    QueryDef("d11_semantic_dedup", d11, Some(d11Sql)),
    QueryDef("d12_greedy_band_dedup", d12, Some(d12Sql)),
    QueryDef("d13_prefix_dedup", d13, Some(d13Sql)),
    QueryDef("d14_minhash_calibration", d14, Some(d14Sql)),
    QueryDef("d15_semdedup", d15, Some(d15Sql)),
    QueryDef("d16_bloom_decontaminate", d16, Some(d16Sql)),
    QueryDef("d17_cross_snapshot_dedup", d17, Some(d17Sql)),
    QueryDef("d18_soft_dedup_weights", d18, Some(d18Sql)),
    QueryDef("d19_curation_pipeline", d19, Some(d19Sql)),
    QueryDef("d20_contamination_runs", d20, Some(d20Sql)),
    QueryDef("d21_source_dup_matrix", d21, Some(d21Sql)),
    QueryDef("d22_semantic_decontaminate", d22, Some(d22Sql)),
    QueryDef("d23_band_sweep", d23, Some(d23Sql)),
    QueryDef("d24_edit_verify", d24, Some(d24Sql)),
    QueryDef("d25_containment", d25, Some(d25Sql)),
    QueryDef("d26_winnowing", d26, Some(d26Sql)),
    QueryDef("d27_prefix_filter_join", d27, Some(d27Sql)),
    QueryDef("d28_cdc_chunk_dedup", d28, Some(d28Sql)),
    QueryDef("d29_source_overlap", d29, Some(d29Sql)),
    QueryDef("d30_cdc_yield", d30, Some(d30Sql)),
    QueryDef("d31_aligned_run", d31, Some(d31Sql)),
    QueryDef("d32_threshold_yield", d32, Some(d32Sql)),
    QueryDef("d33_substring_evict", d33, Some(d33Sql)))

  /** d32 — dedup threshold → yield curve: for each candidate Jaccard
    * threshold τ, how many documents the keep-lower-id eviction rule would
    * remove and how many tokens the corpus retains — the table a curation
    * run reads to CHOOSE its dedup aggressiveness from measured token
    * yield instead of convention. Thresholds sweep the verified pair set's
    * own range (the canonical pairs are jac ≥ 0.3, so every τ ≥ 0.3 is
    * answerable from one pair table).
    *
    * Scale shape: each doc's eviction threshold is ONE number — the max
    * jac over the pairs where it is the higher id — so the whole curve
    * costs one bounded groupBy over the shared pair table
    * ([[MaterializedPairs]]: already materialized once per session in the
    * pipeline profile), one left join onto the slim (doc_id, n_toks)
    * projection, and a per-τ conditional aggregation whose shuffle is
    * |τ| rows after partial combine. No per-threshold pair recomputation,
    * no second corpus scan.
    */
  private def d32(s: SparkSession, dir: String): DataFrame = {
    val taus = Seq(0.3, 0.4, 0.5, 0.7)
    val ev = MaterializedPairs.nearDup(s, dir)
      .groupBy(col("j").as("doc_id"))
      .agg(max(col("jac")).as("max_jac"))
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_toks"))
    docs.join(ev, Seq("doc_id"), "left")
      .select(col("n_toks"), col("max_jac"),
        explode(array(taus.map(lit): _*)).as("tau"))
      .groupBy(col("tau"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("max_jac") >= col("tau"), 1L).otherwise(0L))
          .as("n_evicted"),
        sum(col("n_toks")).as("toks_total"),
        sum(when(col("max_jac") >= col("tau"), col("n_toks")).otherwise(0L))
          .as("toks_evicted"))
      .select(col("tau"),
        (col("n_docs") - col("n_evicted")).as("n_retained"),
        col("n_evicted"),
        (col("toks_total") - col("toks_evicted")).as("toks_retained"),
        col("toks_evicted"),
        ((col("toks_total") - col("toks_evicted")).cast("double")
          / col("toks_total")).as("token_yield"))
      .orderBy(col("tau"))
  }

  private val d32Sql =
    s"""WITH pp AS (SELECT i, j, jac FROM ($minhashPairsCore)),
       |ev AS (SELECT j AS doc_id, MAX(jac) AS max_jac FROM pp GROUP BY j),
       |d AS (SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks FROM documents),
       |x AS (SELECT d.n_toks, ev.max_jac FROM d LEFT JOIN ev USING (doc_id)),
       |t AS (SELECT unnest([0.3::DOUBLE, 0.4::DOUBLE, 0.5::DOUBLE,
       |  0.7::DOUBLE]) AS tau)
       |SELECT tau,
       |  CAST(COUNT(*) AS BIGINT)
       |    - CAST(SUM(CASE WHEN max_jac >= tau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_retained,
       |  CAST(SUM(CASE WHEN max_jac >= tau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_evicted,
       |  CAST(SUM(n_toks) AS BIGINT)
       |    - CAST(SUM(CASE WHEN max_jac >= tau THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS toks_retained,
       |  CAST(SUM(CASE WHEN max_jac >= tau THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS toks_evicted,
       |  CAST(CAST(SUM(n_toks) AS BIGINT)
       |    - CAST(SUM(CASE WHEN max_jac >= tau THEN n_toks ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / CAST(SUM(n_toks) AS BIGINT) AS token_yield
       |FROM x, t GROUP BY tau ORDER BY tau""".stripMargin

  /** Winnowing window (consecutive 3-gram positions per fingerprint pick)
    * and the minimum shared-fingerprint count for a reported pair.
    */
  private val WinnowW = 4
  private val WinnowMinShared = 2

  /** d26 — winnowed-fingerprint overlap (Schleimer, Wilkerson & Aiken 2003,
    * the MOSS local-similarity fingerprinting): instead of indexing EVERY
    * shingle (d02's exact-but-heavy path) or a fixed-size random sample
    * (d03's MinHash), slide a window of [[WinnowW]] consecutive positional
    * 3-gram hashes over each document and keep each window's minimum — a
    * deterministic ~2/(w+1) subsample with the winnowing guarantee that any
    * shared run of w+2 consecutive tokens yields at least one shared
    * fingerprint (local similarity, which global MinHash cannot promise).
    * Pairs sharing ≥ [[WinnowMinShared]] fingerprints are reported with
    * overlap = shared / min(|fpA|, |fpB|).
    *
    * Scale shape: fingerprint selection is the one-pass codegen kernel
    * [[graft.functions.WinnowFingerprints]] — O(m) md5 calls + a
    * monotonic-deque sliding minimum per row, no shuffle, inside
    * WholeStageCodegen. (The composable transform/array_min/slice form is a
    * trap: Catalyst re-evaluates the un-hoisted `grams` subtree at every
    * window position — measured 724.8 s at sf0.1, round-8 verdict.)
    * Candidate pairing reuses the d02/d25 machinery — explode the (smaller)
    * fingerprint sets, df-capped CollectCapped group-pairs equi-join on the
    * fingerprint, exact shared counts from join multiplicity. The index is
    * ~w/2× smaller than d02's full posting list at the same guarantee level
    * for w-token runs.
    */
  private def d26(s: SparkSession, dir: String): DataFrame = {
    val sel = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.WinnowFingerprints(tokens(col("text")), 3, WinnowW)
          .as("fps"))
      // posting-list explode + two size lookups: winnow the corpus once
      .localCheckpoint()
    val ex = sel.select(col("doc_id"), explode(col("fps")).as("fp"))
    val sizes = sel.select(col("doc_id"), size(col("fps")).as("nf"))
    val cl = graft.functions.CollectCapped(DefaultMaxDf)
    val groups = ex.groupBy(col("fp"))
      .agg(sort_array(cl(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .filter(size(col("ds")) <= DefaultMaxDf)
    groups.select(explode(graft.functions.SortedPairs(col("ds"))).as("p"))
      .groupBy(col("p.pa").as("i"), col("p.pb").as("j"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .join(sizes.as("fa"), col("i") === col("fa.doc_id"))
      .join(sizes.as("fb"), col("j") === col("fb.doc_id"))
      .select(col("i"), col("j"), col("n_shared"),
        col("fa.nf").cast("long").as("nf_i"),
        col("fb.nf").cast("long").as("nf_j"),
        (col("n_shared").cast("double") /
          least(col("fa.nf"), col("fb.nf")).cast("double")).as("overlap"))
      .orderBy(col("i"), col("j"))
  }

  private val d26Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, list_transform(range(1, len(ws) - 1),
       |    i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gr
       |  FROM w WHERE len(ws) >= ${WinnowW + 2}),
       |f0 AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(gr) - ${WinnowW - 2}),
       |    p -> list_min(gr[p:p+${WinnowW - 1}]))) AS fps FROM g),
       |f AS (SELECT doc_id, fps FROM f0
       |  UNION ALL
       |  SELECT doc_id, CAST([] AS VARCHAR[]) FROM w WHERE len(ws) < ${WinnowW + 2})
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared,
       |  CAST(len(a.fps) AS BIGINT) AS nf_i, CAST(len(b.fps) AS BIGINT) AS nf_j,
       |  CAST(len(list_intersect(a.fps, b.fps)) AS DOUBLE) /
       |    CAST(least(len(a.fps), len(b.fps)) AS DOUBLE) AS overlap
       |FROM f a JOIN f b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.fps, b.fps)) >= $WinnowMinShared
       |ORDER BY i, j""".stripMargin

  private val BloomBenchK = 100
  private val BloomBits = 1 << 16
  private val BloomHashes = 4

  /** d16 — exact-fingerprint decontamination through a DataFrame-native
    * Bloom filter: find every corpus doc whose md5(text) appears in the
    * benchmark set, pruning the corpus with a Bloom probe BEFORE the exact
    * membership join. This is the corpus-vs-corpus companion to d09: d09's
    * benchmark side is provably O(k) and broadcasts whole, but when the
    * held-out set itself is millions of rows only a constant-size summary
    * can broadcast — the Bloom bitmap.
    *
    * The filter is built with plain aggregation, not a driver-side sketch:
    * each benchmark fingerprint sets [[BloomHashes]] bits (seeded xxhash64
    * mod [[BloomBits]]); a bit_or aggregation over ≤ m/64 words collapses to
    * ONE broadcast map row (8 KiB at 2^16 bits — and a production m of 10^9
    * bits is ~128 MiB, still a broadcast). The probe is a per-row codegen
    * bit test, so the corpus streams map-side and only Bloom-positive rows
    * (true matches + the engineered false-positive fraction) reach the exact
    * verification join — which is what makes the output EXACT, and the
    * oracle plain membership SQL: Bloom filters have no false negatives, and
    * every false positive dies in the verify join, so the probe stage can
    * use any hash family without cross-engine agreement.
    */
  private def d16(s: SparkSession, dir: String): DataFrame = {
    // The bitmap enters the probe as an uncorrelated SCALAR SUBQUERY — the
    // same mechanism Spark's own runtime bloom filters inject — so the probe
    // is a plain deterministic Filter on the corpus that predicate pushdown
    // keeps BELOW the verification join (a DataFrame crossJoin(broadcast)
    // probe gets reordered: PushLeftSemiLeftAntiThroughJoin slides the
    // verify join under the cross join, running the exact join first).
    // Scalar subqueries have no DataFrame API, hence Spark SQL here.
    def pos(expr: String, i: Int): String =
      s"pmod(xxhash64($expr, $i), CAST($BloomBits AS BIGINT))"
    val probe = (0 until BloomHashes).map { i =>
      s"""(coalesce(element_at((SELECT bm FROM bloom),
         |    shiftright(${pos("fp", i)}, 6)), CAST(0 AS BIGINT))
         |  & shiftleft(CAST(1 AS BIGINT), CAST(${pos("fp", i)} % 64 AS INT))) != 0"""
        .stripMargin
    }.mkString("\n  AND ")
    s.sql(
      s"""WITH d AS (SELECT doc_id, md5(text) AS fp
         |  FROM parquet.`$dir/documents.parquet`),
         |bm_ids AS (SELECT doc_id FROM d
         |  ORDER BY md5(concat(CAST(doc_id AS STRING), '#bm')), doc_id
         |  LIMIT $BloomBenchK),
         |bf AS (SELECT DISTINCT fp FROM d JOIN bm_ids USING (doc_id)),
         |pos AS (SELECT explode(array(${(0 until BloomHashes)
              .map(i => pos("fp", i)).mkString(", ")})) AS h FROM bf),
         |words AS (SELECT shiftright(h, 6) AS w,
         |    bit_or(shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT))) AS bits
         |  FROM pos GROUP BY shiftright(h, 6)),
         |bloom AS (SELECT map_from_entries(sort_array(
         |    collect_list(struct(w, bits)))) AS bm FROM words)
         |SELECT doc_id, fp FROM d
         |WHERE $probe
         |  AND fp IN (SELECT fp FROM bf)
         |ORDER BY doc_id""".stripMargin)
  }

  private val d16Sql =
    s"""WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |bm AS (SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '#bm'), doc_id LIMIT $BloomBenchK),
       |bf AS (SELECT DISTINCT fp FROM d WHERE doc_id IN (SELECT doc_id FROM bm))
       |SELECT doc_id, fp FROM d WHERE fp IN (SELECT fp FROM bf)
       |ORDER BY doc_id""".stripMargin

  /** d15 — SemDeDup (cluster-then-dedup semantic eviction): k-means the
    * embedding corpus into cells (s10's operator — KMeans.cluster), then
    * within each cell evict every vector that has a lower-id cell-mate with
    * cosine ≥ 0.45 (d06's near-dup threshold), reporting the keeper, the
    * match count, and the tightest match. This is the published SemDeDup
    * recipe: clustering makes the candidate join an equi-join on cell id —
    * no LSH (d11's blocking) and no all-pairs sweep (d06's baseline).
    *
    * Scale shape: the only corpus-wide exchange is the self-join's hash
    * partition on c_id; within-cell pair volume is bounded by the cell size,
    * which a production run holds constant by raising k with the corpus
    * (KMeans k is a plan-shape-free knob). The fit arrives materialized
    * from [[graft.queries.MaterializedKMeans]] — shared with s10/s11 — so
    * the two join sides never recompute it.
    */
  private def d15(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    // the fit itself comes materialized (parquet-cached, see
    // MaterializedKMeans) — only the cheap per-row norm recomputes on
    // each side of the self-join
    val cells = MaterializedKMeans.cells(s, dir)
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id"))
    cells.as("a").join(cells.as("b"),
        col("a.c_id") === col("b.c_id") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        (dotLong(col("a.v"), col("b.v")).cast("double")
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= 0.45)
      .groupBy(col("j").as("evicted_id"))
      .agg(min(col("i")).as("keeper_id"), count(lit(1)).as("n_matches"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("evicted_id"))
  }

  private def d15Sql: String = SimilarityQueries.kmCellsCte +
    s""",
      |cell AS (SELECT vec_id, v,
      |  sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[])) AS nrm, c_id
      | FROM ${SimilarityQueries.kmFinalAsg}),
      |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
      |  list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) / (a.nrm * b.nrm) AS cos
      | FROM cell a JOIN cell b
      | ON a.c_id = b.c_id AND a.vec_id < b.vec_id)
      |SELECT j AS evicted_id, MIN(i) AS keeper_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_matches, MAX(cos) AS max_cos
      |FROM p WHERE cos >= 0.45
      |GROUP BY j ORDER BY evicted_id""".stripMargin

  /** d14 — MinHash calibration: for every LSH candidate pair, the
    * signature-estimated Jaccard (matching minhash positions / k) against
    * the exact shingle-set Jaccard, with the absolute estimation error —
    * the measurement that tells a 100 TB dedup deployment whether its
    * (k, r, threshold) setting over- or under-merges, the dedup family's
    * analogue of s05's ANN recall harness. Candidates come from the same
    * band equi-join as d03 (never a cartesian); signatures are per-row
    * codegen (MinHashSig); est is an integer count over a power-of-two k
    * and jac an exact-int ratio, so every double — including the error
    * subtraction — is bit-identical cross-engine.
    */
  private def d14(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val withSh = MaterializedShingles.s3(s, dir)
      .select(col("doc_id"), col("s3").as("shingles"))
    val sig = MinHashLSH.signatures(withSh, col("doc_id"), col("shingles"), k)
    val cand = MinHashLSH.candidates(MinHashLSH.banded(sig, k, r = 2))
    val sigA = sig.toDF("ia" +: (0 until k).map(j => s"am$j"): _*)
    val sigB = sig.toDF("jb" +: (0 until k).map(j => s"bm$j"): _*)
    val matches = (0 until k).map(j =>
      when(col(s"am$j") === col(s"bm$j"), 1L).otherwise(0L)).reduce(_ + _)
    val sets = withSh.select(col("doc_id"), col("shingles"))
    cand
      .join(sigA, col("i") === col("ia"))
      .join(sigB, col("j") === col("jb"))
      .join(sets.as("sa"), col("i") === col("sa.doc_id"))
      .join(sets.as("sb"), col("j") === col("sb.doc_id"))
      .select(col("i"), col("j"), matches.as("matches"),
        jaccard(col("sa.shingles"), col("sb.shingles")).as("jac"))
      .select(col("i"), col("j"), col("matches"),
        (col("matches").cast("double") / k).as("est"), col("jac"),
        abs(col("matches").cast("double") / k - col("jac")).as("err"))
      .orderBy(col("i"), col("j"))
  }

  private val d14Sql = minhashBandsCte +
    """,
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |  FROM bands a JOIN bands b
      |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |m AS (SELECT i, j,
      |  CAST((x.m0 = y.m0)::INT + (x.m1 = y.m1)::INT + (x.m2 = y.m2)::INT +
      |       (x.m3 = y.m3)::INT + (x.m4 = y.m4)::INT + (x.m5 = y.m5)::INT +
      |       (x.m6 = y.m6)::INT + (x.m7 = y.m7)::INT AS BIGINT) AS matches,
      |  CAST(len(list_intersect(sx.s3, sy.s3)) AS DOUBLE) /
      |  CAST(len(sx.s3) + len(sy.s3) - len(list_intersect(sx.s3, sy.s3)) AS DOUBLE) AS jac
      | FROM cand
      | JOIN sig x ON x.doc_id = i JOIN sig y ON y.doc_id = j
      | JOIN sh sx ON sx.doc_id = i JOIN sh sy ON sy.doc_id = j)
      |SELECT i, j, matches, CAST(matches AS DOUBLE) / 8 AS est, jac,
      |  ABS(CAST(matches AS DOUBLE) / 8 - jac) AS err
      |FROM m ORDER BY i, j""".stripMargin

  /** Benchmark-set size for d09. A real decontamination run sweeps the
    * corpus against a FIXED held-out suite (a few thousand eval docs), so
    * the query must encode that invariant: the benchmark side is a
    * fixed-size deterministic sample — lowest-k by md5(doc_id), the same
    * engine-portable sampler as `SimilarityQueries.sampleIds` — NOT a
    * corpus fraction (`doc_id % 100` grew with the corpus and made the
    * broadcast unboundable at 100×).
    */
  private val BenchDocsK = 50

  /** d09 — benchmark decontamination: flag corpus docs sharing any word
    * 5-gram with the held-out benchmark set ([[BenchDocsK]] docs, fixed at
    * any corpus size). The benchmark shingle list is O(k) → broadcast hash
    * join; the corpus side streams through map-side — neither the
    * membership anti-join nor the overlap join ever shuffles the big side.
    */
  private def d09(s: SparkSession, dir: String): DataFrame = {
    val benchIds = Tables.documents(s, dir).select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(BenchDocsK)
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), ShingleHashes(tokens(col("text")), 5).as("s5"))
    val benchEx = sh.join(broadcast(benchIds), Seq("doc_id"))
      .select(col("doc_id").as("b_id"), explode(col("s5")).as("sng"))
    val corpusEx = sh.join(broadcast(benchIds), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), explode(col("s5")).as("sng"))
    corpusEx.join(broadcast(benchEx), "sng")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("b_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  private val d09Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct(list_transform(range(1, len(ws) - 3),
      |    i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 15)) AS BIGINT))) AS s5
      | FROM w),
      |bid AS (SELECT doc_id FROM documents
      |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $BenchDocsK),
      |be AS (SELECT sh.doc_id AS b_id, unnest(s5) AS sng
      |       FROM sh JOIN bid ON sh.doc_id = bid.doc_id),
      |ce AS (SELECT doc_id, unnest(s5) AS sng FROM sh
      |       WHERE doc_id NOT IN (SELECT doc_id FROM bid))
      |SELECT ce.doc_id, COUNT(*) AS n_hits,
      |  COUNT(DISTINCT be.b_id) AS n_bench_docs
      |FROM ce JOIN be ON ce.sng = be.sng
      |GROUP BY ce.doc_id ORDER BY ce.doc_id""".stripMargin

  /** d17 — cross-snapshot dedup: near-dup pairs (d03's MinHash+LSH
    * candidates, exact-Jaccard ≥ 0.3) restricted to documents from
    * DIFFERENT sources, rolled up per evicted doc. This is the "dedupe the
    * new crawl dump against the corpus you already kept" shape
    * (CCNet/RefinedWeb run it snapshot-over-snapshot): the keeper is the
    * copy in the lexicographically-earlier source (snapshot priority); the
    * later snapshot's copy is flagged with its match count and tightest
    * match. The source restriction only filters the verified pairs — the
    * candidate plan is d03's band equi-join unchanged, so the query scales
    * exactly as d03 does regardless of how many snapshots exist.
    */
  private def d17(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = MaterializedPairs.nearDup(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val keepA = col("a.source") < col("b.source")
    pairs.as("p")
      .join(src.as("a"), col("p.i") === col("a.doc_id"))
      .join(src.as("b"), col("p.j") === col("b.doc_id"))
      .filter(col("a.source") =!= col("b.source"))
      .select(
        when(keepA, col("p.j")).otherwise(col("p.i")).as("drop_id"),
        when(keepA, col("b.source")).otherwise(col("a.source")).as("drop_source"),
        when(keepA, col("p.i")).otherwise(col("p.j")).as("keep_id"),
        col("p.jac"))
      .groupBy(col("drop_id"), col("drop_source"))
      .agg(min(col("keep_id")).as("keep_id"),
        count(lit(1)).as("n_earlier_dups"),
        max(col("jac")).as("max_jac"))
      .orderBy(col("drop_id"))
  }

  private val d17Sql =
    s"""WITH pr AS (SELECT i, j, jac FROM ($minhashPairsCore)),
       |sp AS (SELECT pr.i, pr.j, pr.jac, da.source AS sa, db.source AS sb
       |  FROM pr JOIN documents da ON da.doc_id = pr.i
       |          JOIN documents db ON db.doc_id = pr.j
       |  WHERE da.source <> db.source),
       |norm AS (SELECT
       |  CASE WHEN sa < sb THEN j ELSE i END AS drop_id,
       |  CASE WHEN sa < sb THEN sb ELSE sa END AS drop_source,
       |  CASE WHEN sa < sb THEN i ELSE j END AS keep_id,
       |  jac FROM sp)
       |SELECT drop_id, drop_source, MIN(keep_id) AS keep_id,
       |  COUNT(*) AS n_earlier_dups, MAX(jac) AS max_jac
       |FROM norm GROUP BY drop_id, drop_source
       |ORDER BY drop_id""".stripMargin

  /** d18 — soft dedup: instead of evicting near-duplicates, down-weight
    * them — every doc gets sampling weight 1/|cluster| where clusters are
    * d07's connected components over the MinHash pair graph (singletons
    * weight 1). This is the repetition-aware weight a training pipeline
    * feeds its data loader when it wants dedup's distributional effect
    * without discarding any text. Cluster size comes from a window count
    * partitioned by component — one bounded-group shuffle, never a
    * component-sized broadcast; the weight is a single exact-int division,
    * bit-identical cross-engine.
    */
  private def d18(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pairs = MaterializedPairs.nearDup(s, dir)
      .select(col("i"), col("j"))
    val comp = ConnectedComponents.components(pairs)
    val withComp = docs.select(col("doc_id"))
      .join(comp, col("doc_id") === comp("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    val w = Window.partitionBy(col("component"))
    withComp
      .select(col("doc_id"), col("component"),
        count(lit(1)).over(w).as("cluster_size"))
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** d19 — the end-to-end curation pipeline composite, the "user story"
    * query a training-data run actually ships: Gopher-style quality gate
    * (t23's rules) → corpus-wide near-dup eviction (d03's verified MinHash
    * pairs, keep the lower id) → content-stable train/val/test split (t19's
    * 52-bit hash fraction) → per-split accounting. Every stage is an
    * already-audited operator; composing them adds no new shuffle class —
    * the quality gate and split are per-row codegen, eviction is the band
    * equi-join plus one anti join, and the rollup is a 3-group aggregate.
    */
  private def d19(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ws = tokens(col("text"))
    val n = size(ws).cast("long")
    val sumLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val meanLen = sumLen.cast("double") / n
    val ttr = size(array_distinct(ws)).cast("double") / n
    val nStop = size(filter(ws, w => w === "the" || w === "a")).cast("long")
    val keep = (n >= 30) && (n <= 10000) && (meanLen >= 3.0) &&
      (meanLen <= 10.0) && (ttr >= 0.2) && (nStop >= 2)
    val evicted = MaterializedPairs.nearDup(s, dir)
      .select(col("j").as("doc_id")).distinct()
    val hv = conv(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val frac = hv.cast("double") / lit(4503599627370496.0) // 2^52, exact
    val split = when(frac < 0.8, "train").when(frac < 0.9, "val")
      .otherwise(lit("test"))
    docs.filter(keep)
      .join(evicted, Seq("doc_id"), "left_anti")
      .select(split.as("split"), n.as("n_toks"), col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  private val d19Sql =
    s"""WITH ev AS (SELECT DISTINCT j AS doc_id FROM ($minhashPairsCore)),
       |q AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws FROM documents),
       |flt AS (SELECT doc_id, n_chars, CAST(len(ws) AS BIGINT) AS n_words FROM q
       |  WHERE len(ws) >= 30 AND len(ws) <= 10000
       |    AND CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) >= 3.0
       |    AND CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) <= 10.0
       |    AND CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.2
       |    AND len(list_filter(ws, x -> x = 'the' OR x = 'a')) >= 2
       |    AND doc_id NOT IN (SELECT doc_id FROM ev)),
       |sp AS (SELECT CASE WHEN frac < 0.8 THEN 'train' WHEN frac < 0.9 THEN 'val'
       |    ELSE 'test' END AS split, n_words, n_chars
       |  FROM (SELECT flt.*,
       |    CAST(CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE) / 4503599627370496.0 AS frac
       |   FROM flt))
       |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM sp GROUP BY split ORDER BY split""".stripMargin

  private val d18Sql =
    s"""WITH RECURSIVE pairs AS (SELECT i, j FROM ($minhashPairsCore)),
       |e2 AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
       |  UNION
       |  SELECT e2.a, reach.lbl FROM e2 JOIN reach ON e2.b = reach.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
       |wc AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id, component,
       |  COUNT(*) OVER (PARTITION BY component) AS cluster_size,
       |  CAST(1 AS DOUBLE) / COUNT(*) OVER (PARTITION BY component) AS weight
       |FROM wc ORDER BY doc_id""".stripMargin

  /** d20 — contamination-run decontamination: d09 counts SHARED 5-grams per
    * corpus doc; d20 reports how CONSECUTIVE they are — the longest run of
    * contiguous contaminated 5-gram positions per doc, which is the signal
    * PaLM/GPT-4-style decontamination actually thresholds on (a long verbatim
    * span is leakage; scattered single-shingle hits are topic overlap).
    *
    * Scale shape: corpus positions are a per-row positional transform
    * (codegen, no shuffle); the bench shingle set is O(BenchDocsK docs) →
    * broadcast, so marking contaminated positions is one map-side semi-join
    * pass. The only shuffle is the islands window (pos − row_number per
    * doc), and it carries ONLY contaminated positions — output-bounded, the
    * same trick as the interval-join binning. Hashes are the same 60-bit
    * md5 prefix as [[ShingleHashes]] (d09 pins cross-engine equality).
    */
  private def d20(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val benchIds = docs.select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(BenchDocsK)
    // positional 5-gram hashes via the one-pass digest-reusing kernel
    // (identical 60-bit values to the former per-element md5 subtree —
    // PositionalShingleHashes scaladoc pins the formula); size(hs) ≥ 1 ⇔
    // len(ws) ≥ 5 and n_pos = len(ws) − 4 = size(hs)
    val pos = docs
      .select(col("doc_id"),
        graft.functions.PositionalShingleHashes(tokens(col("text")), 5)
          .as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_pos"),
        posexplode(col("hs")).as(Seq("p0", "sng")))
      .select(col("doc_id"), col("n_pos"),
        (col("p0") + 1).cast("long").as("pos"), col("sng"))
    val bs = docs.join(broadcast(benchIds), "doc_id")
      .select(explode(ShingleHashes(tokens(col("text")), 5)).as("sng"))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    pos.join(broadcast(benchIds), Seq("doc_id"), "left_anti")
      .join(broadcast(bs), "sng")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(max(col("n_pos")).as("n_pos"), count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_pos")).as("n_pos"), sum(col("cnt")).as("n_contam"),
        max(col("cnt")).as("max_run"),
        (sum(col("cnt")).cast("double") / max(col("n_pos")))
          .as("contam_rate"))
      .orderBy(col("doc_id"))
  }

  private val d20Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |p AS (SELECT doc_id, CAST(len(ws) - 4 AS BIGINT) AS n_pos,
       |  CAST(unnest(range(1, len(ws) - 3)) AS BIGINT) AS pos,
       |  unnest(list_transform(range(1, len(ws) - 3),
       |    i -> CAST(('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]), 1, 15)) AS BIGINT))) AS sng
       | FROM w WHERE len(ws) >= 5),
       |bid AS (SELECT doc_id FROM documents
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $BenchDocsK),
       |bs AS (SELECT DISTINCT sng FROM p WHERE doc_id IN (SELECT doc_id FROM bid)),
       |c AS (SELECT p.doc_id, p.n_pos, p.pos FROM p JOIN bs USING (sng)
       |  WHERE p.doc_id NOT IN (SELECT doc_id FROM bid)),
       |isl AS (SELECT doc_id, n_pos, pos,
       |  pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       | FROM c),
       |runs AS (SELECT doc_id, grp, MAX(n_pos) AS n_pos, COUNT(*) AS cnt
       | FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, MAX(n_pos) AS n_pos,
       |  CAST(SUM(cnt) AS BIGINT) AS n_contam,
       |  CAST(MAX(cnt) AS BIGINT) AS max_run,
       |  CAST(SUM(cnt) AS DOUBLE) / MAX(n_pos) AS contam_rate
       |FROM runs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Benchmark-set size for d22 (fixed like [[BenchDocsK]], own salt so the
    * semantic and lexical held-out suites are independent samples).
    */
  private val SemBenchK = 25

  /** d22 — SEMANTIC decontamination: the embedding-space sixth form of the
    * decontamination family (d09 lexical 5-grams, d10 chunked, d16 Bloom
    * exact, d20 verbatim runs, d02's Jaccard arm) — flag corpus vectors
    * whose cosine against ANY vector of a fixed held-out benchmark suite
    * reaches 0.45 (d06's near-dup operating point). Catches the leakage
    * lexical shingles miss: paraphrased or re-templated eval questions.
    * Exact quantized-integer dots over precomputed norms (d06's
    * arithmetic), so hit/miss never depends on summation order.
    *
    * Scale shape: the benchmark side is [[SemBenchK]] rows broadcast —
    * scoring is one map-side O(k·n) pass (BroadcastNestedLoopJoin by
    * construction, the fixed-k benchmark as build side); the corpus never
    * shuffles; output is a per-doc rollup of hits only.
    */
  private def d22(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions._
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    val benchIds = base.select(col("vec_id"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("#sem"))),
        col("vec_id"))
      .limit(SemBenchK)
    val bench = base.join(broadcast(benchIds), "vec_id")
      .select(col("vec_id").as("b_id"), col("v").as("b_v"),
        col("nrm").as("b_nrm"))
    base.join(broadcast(benchIds), Seq("vec_id"), "left_anti")
      .join(broadcast(bench),
        (dotLong(col("v"), col("b_v")).cast("double")
          / (col("nrm") * col("b_nrm"))) >= 0.45)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"),
        max(dotLong(col("v"), col("b_v")).cast("double")
          / (col("nrm") * col("b_nrm"))).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  private val d22Sql =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
       | FROM embeddings),
       |n AS (SELECT vec_id, v,
       |  sqrt(list_dot_product(v::DOUBLE[], v::DOUBLE[])) AS nrm FROM q),
       |bid AS (SELECT vec_id FROM embeddings
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '#sem'), vec_id LIMIT $SemBenchK),
       |b AS (SELECT vec_id AS b_id, v AS b_v, nrm AS b_nrm FROM n
       |  WHERE vec_id IN (SELECT vec_id FROM bid)),
       |hits AS (SELECT n.vec_id,
       |  list_dot_product(n.v::DOUBLE[], b.b_v::DOUBLE[]) / (n.nrm * b.b_nrm) AS cos
       | FROM n JOIN b ON
       |  list_dot_product(n.v::DOUBLE[], b.b_v::DOUBLE[]) / (n.nrm * b.b_nrm) >= 0.45
       | WHERE n.vec_id NOT IN (SELECT vec_id FROM bid))
       |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
       |  MAX(cos) AS max_cos
       |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Edit-similarity floor for d24's verified flag: 1 − lev/max_len ≥ 0.6
    * keeps near-verbatim pairs and drops topic-overlap pairs whose shared
    * shingles survive the Jaccard gate but whose texts differ broadly.
    */
  private val EditSimThreshold = 0.6

  /** d24 — exact edit-distance verification of LSH candidates: the verify
    * stage real dedup pipelines run AFTER MinHash (fuzzy dedup in The
    * Stack / StarCoder pipelines): for every d03 candidate pair, the exact
    * Levenshtein distance between the two full texts, normalized to
    * 1 − lev/max(len), with a `verified` flag at [[EditSimThreshold]].
    * MinHash answers "do the shingle SETS overlap"; edit distance answers
    * "are the texts the SAME STRING up to small edits" — reordered
    * paragraphs pass Jaccard but fail here.
    *
    * Scale shape: Levenshtein is O(len²) per pair — affordable ONLY
    * because it runs on the banded candidate set (O(n) pairs with bounded
    * bucket sizes), never all-pairs; the two text joins are equi-joins on
    * doc_id, and the DP itself is a per-row codegen'd expression
    * (Spark's built-in `levenshtein`), map-side after the joins.
    */
  private def d24(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val pairs = MaterializedPairs.nearDup(s, dir)
    pairs
      .join(docs.as("da"), col("i") === col("da.doc_id"))
      .join(docs.as("db"), col("j") === col("db.doc_id"))
      .select(col("i"), col("j"), col("jac"),
        levenshtein(col("da.text"), col("db.text")).cast("long").as("lev"),
        greatest(length(col("da.text")), length(col("db.text")))
          .cast("long").as("max_len"))
      .select(col("i"), col("j"), col("jac"), col("lev"),
        (lit(1.0) - col("lev").cast("double") / col("max_len").cast("double"))
          .as("edit_sim"))
      .withColumn("verified",
        when(col("edit_sim") >= EditSimThreshold, 1L).otherwise(0L))
      .orderBy(col("i"), col("j"))
  }

  private val d24Sql =
    s"""WITH pr AS (SELECT i, j, jac FROM ($minhashPairsCore))
       |SELECT pr.i, pr.j, pr.jac,
       |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       |  1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
       |    CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS edit_sim,
       |  CAST(CASE WHEN 1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
       |    CAST(greatest(length(a.text), length(b.text)) AS DOUBLE)
       |      >= $EditSimThreshold THEN 1 ELSE 0 END AS BIGINT) AS verified
       |FROM pr JOIN documents a ON a.doc_id = pr.i
       |  JOIN documents b ON b.doc_id = pr.j
       |ORDER BY i, j""".stripMargin

  /** Containment floor for d25: max(|A∩B|/|A|, |A∩B|/|B|) ≥ 0.7. */
  private val ContainmentMin = 0.7

  /** d25 — containment (near-subset) dedup pairs: for each shared-shingle
    * candidate pair, the ASYMMETRIC containment scores |A∩B|/|A| and
    * |A∩B|/|B|, keeping pairs where either side is ≥ [[ContainmentMin]].
    * The subset-duplication detector Jaccard structurally misses: a short
    * document quoted whole inside a much longer one has tiny Jaccard
    * (union is dominated by the long side) but containment ≈ 1 on the
    * short side — exactly the quote/aggregation/boilerplate-inclusion
    * case (the Broder 1997 resemblance-vs-containment distinction).
    *
    * Scale shape: identical to d02 — df-capped group-pairs equi-join on
    * the shingle hash, CollectCapped-bounded buffers, exact intersection
    * counts from the join multiplicity; only the final scoring expression
    * differs. No cartesian at any size.
    */
  private def d25(s: SparkSession, dir: String): DataFrame =
    // the family's shared candidate table (explode + group-pairs + size
    // joins) with the containment predicate re-applied exactly — see
    // overlapPairs; the machinery is d02's, only the scoring differs
    overlapPairs(s, dir, DefaultMaxDf)
      .select(col("i"), col("j"), col("c"), col("n_i"), col("n_j"),
        (col("c").cast("double") / col("n_i").cast("double")).as("cont_i"),
        (col("c").cast("double") / col("n_j").cast("double")).as("cont_j"))
      .filter(greatest(col("cont_i"), col("cont_j")) >= ContainmentMin)
      .orderBy(col("i"), col("j"))

  private val d25Sql = shingleCte +
    s"""
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(len(list_intersect(a.s3, b.s3)) AS BIGINT) AS c,
       |  CAST(len(a.s3) AS BIGINT) AS n_i, CAST(len(b.s3) AS BIGINT) AS n_j,
       |  CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
       |    CAST(len(a.s3) AS DOUBLE) AS cont_i,
       |  CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
       |    CAST(len(b.s3) AS DOUBLE) AS cont_j
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.s3, b.s3)) > 0
       |  AND greatest(
       |    CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
       |      CAST(len(a.s3) AS DOUBLE),
       |    CAST(len(list_intersect(a.s3, b.s3)) AS DOUBLE) /
       |      CAST(len(b.s3) AS DOUBLE)) >= $ContainmentMin
       |ORDER BY i, j""".stripMargin

  /** Minimum aligned run length (in 3-grams) for a reported d31 pair —
    * 8 grams span 10 consecutive shared tokens.
    */
  private val AlignMinRun = 8

  /** d31 — longest aligned shared token run per document pair: the
    * substring-SPAN complement of the set-overlap family (d02 Jaccard, d25
    * containment, d26 winnowing all measure WHAT fraction of grams two docs
    * share; none say whether the shared grams form one contiguous copied
    * passage or scattered boilerplate). For every candidate pair it reports
    * the longest run of consecutive positions where both documents carry
    * the same 3-gram at the same offset DELTA — i.e. the longest common
    * contiguous token block (plagiarism-span / quotation detection), exact
    * over the corpus-rare grams defined below.
    *
    * Method: positional 3-gram hashes ([[graft.functions.PositionalShingleHashes]],
    * multiplicity+order preserving), keep hashes with corpus-wide occurrence
    * in [2, maxDf] (the d02 df-cap discipline — bounds the equi-join fan-out
    * at cap² per gram and drops boilerplate that carries no copy signal),
    * equi-join the posting lists on the hash, and detect runs per
    * (i, j, diagonal = posᵢ − posⱼ) with the classic gaps-and-islands
    * pos − row_number() grouping. A shared block of L consecutive rare
    * grams lies on one diagonal and forms one island of size L.
    *
    * Scale shape: one corpus scan to positional grams (codegen, per-row);
    * one hash-keyed occurrence count + equi-join (the d02 cost class); the
    * run windows partition by (i, j, diag) — many tiny partitions, never a
    * corpus-wide sort. Pair volume is bounded by the df cap exactly as in
    * d02/d27; the stress pack's ×N arm verifies the bound empirically.
    */
  private def d31(s: SparkSession, dir: String): DataFrame = {
    // the candidate pipeline (positional grams → df-cap → equi-join →
    // gaps-and-islands) comes from MaterializedAlignedRuns — shared with
    // d33
    MaterializedAlignedRuns.islands(s, dir)
      .groupBy(col("i"), col("j"))
      .agg(max(col("rl")).as("run_grams"))
      .filter(col("run_grams") >= AlignMinRun)
      .select(col("i"), col("j"), col("run_grams"),
        (col("run_grams") + 2).as("run_tokens"))
      .orderBy(col("i"), col("j"))
  }

  private val d31Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pg AS (SELECT doc_id,
       |  CAST(generate_subscripts(list_transform(range(1, len(ws) - 1), i ->
       |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |     1, 15))::BIGINT), 1) AS BIGINT) AS pos,
       |  unnest(list_transform(range(1, len(ws) - 1), i ->
       |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |     1, 15))::BIGINT)) AS h
       | FROM w),
       |keep AS (SELECT h FROM pg GROUP BY h
       |  HAVING COUNT(*) BETWEEN 2 AND $DefaultMaxDf),
       |cap AS (SELECT pg.* FROM pg JOIN keep USING (h)),
       |p AS (SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pa,
       |    a.pos - b.pos AS diag
       |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id),
       |r AS (SELECT i, j, diag, pa,
       |  pa - ROW_NUMBER() OVER (PARTITION BY i, j, diag ORDER BY pa) AS grp
       | FROM p),
       |rl AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS rl
       | FROM r GROUP BY i, j, diag, grp)
       |SELECT i, j, MAX(rl) AS run_grams, MAX(rl) + 2 AS run_tokens
       |FROM rl GROUP BY i, j HAVING MAX(rl) >= $AlignMinRun
       |ORDER BY i, j""".stripMargin

  /** d33 — exact-substring deduplication with EVICTION SPANS (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr dedup every modern pretraining corpus runs): where
    * d31 reports only each pair's longest aligned run, d33 turns EVERY
    * duplicated run of ≥ [[AlignMinRun]] consecutive rare 3-grams into a
    * token span in the pair's higher-id document (keep-first-occurrence:
    * the lower doc_id retains its copy), merges each document's
    * overlapping spans into their interval union, and reports per evicted
    * document the span count, total evicted tokens, and evicted fraction
    * — exactly the cut list an ExactSubstr pass hands the corpus rewrite.
    *
    * Method: d31's candidate machinery unchanged (positional 3-gram
    * hashes, occurrence in [2, maxDf], hash equi-join, per-(i, j, diag)
    * gaps-and-islands); each qualifying island's gram positions in doc j
    * are `[min(pa), max(pa)] − diag`, covering tokens
    * `[min(pa) − diag, max(pa) − diag + 2]` (a 3-gram at position p spans
    * tokens p..p+2). The per-doc interval union is a second
    * gaps-and-islands: a span starts a new group when its start exceeds
    * the running max of preceding ends — a RUNNING (never
    * unbounded-following) frame, O(n) per doc partition.
    *
    * Scale shape: identical to d31 through the join (candidate volume
    * df-capped — the stress arm pins candidate-not-corpus scaling for
    * the shared machinery); past it, spans per doc are bounded by the
    * doc's own island count, and both windows partition per (i, j, diag)
    * / per doc — never corpus-wide.
    */
  private def d33(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // candidate islands shared with d31 (MaterializedAlignedRuns)
    val spans = MaterializedAlignedRuns.islands(s, dir)
      .filter(col("rl") >= AlignMinRun)
      .select(col("j").as("doc_id"), (col("pa0") - col("diag")).as("s"),
        (col("pa1") - col("diag") + 2).as("e"))
    // interval union per evicted doc: running max of preceding ends
    val uw = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val prevMaxE = max(col("e"))
      .over(uw.rowsBetween(Window.unboundedPreceding, -1L))
    val merged = spans
      .withColumn("ng",
        when(prevMaxE.isNull || col("s") > prevMaxE, 1L).otherwise(0L))
      .withColumn("ug", sum(col("ng"))
        .over(uw.rowsBetween(Window.unboundedPreceding, 0L)))
      .groupBy(col("doc_id"), col("ug"))
      .agg(min(col("s")).as("us"), max(col("e")).as("ue"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ue") - col("us") + 1).as("evict_tokens"))
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    merged.join(dl, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("evict_tokens"),
        col("n_tokens"),
        (col("evict_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("evict_frac"))
      .orderBy(col("doc_id"))
  }

  private val d33Sql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |pg AS (SELECT doc_id,
       |  CAST(generate_subscripts(list_transform(range(1, len(ws) - 1), i ->
       |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |     1, 15))::BIGINT), 1) AS BIGINT) AS pos,
       |  unnest(list_transform(range(1, len(ws) - 1), i ->
       |    ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |     1, 15))::BIGINT)) AS h
       | FROM w),
       |keep AS (SELECT h FROM pg GROUP BY h
       |  HAVING COUNT(*) BETWEEN 2 AND $DefaultMaxDf),
       |cap AS (SELECT pg.* FROM pg JOIN keep USING (h)),
       |p AS (SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pa,
       |    a.pos - b.pos AS diag
       |  FROM cap a JOIN cap b ON a.h = b.h AND a.doc_id < b.doc_id),
       |r AS (SELECT i, j, diag, pa,
       |  pa - ROW_NUMBER() OVER (PARTITION BY i, j, diag ORDER BY pa) AS grp
       | FROM p),
       |isl AS (SELECT i, j, diag, COUNT(*) AS rl, MIN(pa) AS pa0, MAX(pa) AS pa1
       | FROM r GROUP BY i, j, diag, grp),
       |sp AS (SELECT j AS doc_id, pa0 - diag AS s, pa1 - diag + 2 AS e
       | FROM isl WHERE rl >= $AlignMinRun),
       |mk AS (SELECT doc_id, s, e,
       |  MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       | FROM sp),
       |gr AS (SELECT doc_id, s, e,
       |  SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ug
       | FROM mk),
       |u AS (SELECT doc_id, ug, MIN(s) AS us, MAX(e) AS ue
       | FROM gr GROUP BY doc_id, ug),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(SUM(ue - us + 1) AS BIGINT) AS evict_tokens
       | FROM u GROUP BY doc_id),
       |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM w)
       |SELECT agg.doc_id, n_spans, evict_tokens, n_tokens,
       |  CAST(evict_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS evict_frac
       |FROM agg JOIN dl ON agg.doc_id = dl.doc_id
       |ORDER BY agg.doc_id""".stripMargin
}
