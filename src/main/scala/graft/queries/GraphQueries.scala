package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.ConnectedComponents

/** Graph analytics over the document similarity graph — the layer a
  * curation pipeline runs AFTER near-dup pair generation: which documents
  * are the central/representative members of duplicate neighborhoods
  * (PageRank), and how clique-like is the duplication structure (triangle
  * census / clustering coefficient)? Nodes are documents, edges are the
  * d03 MinHash+LSH near-dup pairs (Jaccard ≥ 0.3), undirected.
  *
  * Determinism: every iteration of g01 is INTEGER arithmetic — rank mass
  * is carried at a fixed 1e6 scale and neighbor contributions use floor
  * division (`pr DIV deg`), so both engines walk bit-identical states; no
  * float enters until the display column. g02 is exact combinatorics.
  */
object GraphQueries extends QueryPack {

  /** Power-iteration count for g01 (unrolled identically in the oracle). */
  private val PrIters = 3

  /** Ordered near-dup pairs (i < j) — the MinHash+LSH banded-join product
    * every g-query starts from, materialized once per session and shared
    * with the dedup pack through [[MaterializedPairs]].
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    MaterializedPairs.nearDup(s, dir).select(col("i"), col("j"))

  /** Undirected near-dup edge list, both directions (u, v). */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    pairs.select(col("i").as("u"), col("j").as("v"))
      .unionAll(pairs.select(col("j").as("u"), col("i").as("v")))
  }

  /** Oracle CTE prelude shared by g01/g02: `pp` = ordered near-dup pairs
    * (i < j), `e` = both directions, `d` = degrees. Embeds d03's full
    * MinHash+LSH pair pipeline (DedupQueries.minhashPairsCore) as a
    * derived table, exactly like the d07 clustering oracle does.
    */
  private def graphCtes: String =
    s"""WITH pp AS (SELECT i, j FROM (${DedupQueries.minhashPairsCore})),
       |e AS (SELECT i AS u, j AS v FROM pp
       |      UNION ALL SELECT j AS u, i AS v FROM pp),
       |d AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u)""".stripMargin

  /** g01 — integer PageRank over the similarity graph: [[PrIters]] power
    * iterations with damping 0.85, rank carried as exact 1e6-scaled
    * integers and per-neighbor shares floored (`pr DIV deg`) — a
    * deterministic variant of PageRank whose per-iteration floor error is
    * < deg ulps of 1e−6, far below ranking resolution, in exchange for
    * bit-identical states in any engine. The representative-selection
    * signal: in a near-dup neighborhood the highest-PR member is the most
    * central copy (the one d08-style keep-best should favor).
    *
    * Scale shape: the edge list is materialized ONCE (localCheckpoint) and
    * every iteration is one equi-join + one map-side-combined aggregate on
    * the destination key — the standard distributed PageRank step (no
    * windows, no driver-side state; iteration count is fixed, not
    * data-dependent). Final ranking is TakeOrderedAndProject top-50.
    */
  private def g01(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).localCheckpoint()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg")).localCheckpoint()
    var pr = deg.select(col("u"), lit(1000000L).as("pr"))
    for (_ <- 1 to PrIters) {
      pr = e.join(pr, "u").join(deg, "u")
        .select(col("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
        .select(col("v").as("u"),
          (lit(150000L) + expr("(85 * sc) DIV 100")).as("pr"))
    }
    pr.join(deg, "u")
      .select(col("u").as("doc_id"), col("deg"), col("pr"))
      .orderBy(col("pr").desc, col("doc_id"))
      .limit(50)
  }

  private def g01Sql: String = {
    val iters = (1 to PrIters).map { t =>
      s"""c$t AS (SELECT e.v AS u, SUM(p${t - 1}.pr // d.deg) AS sc
         | FROM e JOIN p${t - 1} ON e.u = p${t - 1}.u JOIN d ON e.u = d.u
         | GROUP BY e.v),
         |p$t AS (SELECT u,
         |  CAST(150000 + (85 * CAST(sc AS BIGINT)) // 100 AS BIGINT) AS pr
         | FROM c$t)""".stripMargin
    }.mkString(",\n")
    s"""$graphCtes,
       |p0 AS (SELECT u, CAST(1000000 AS BIGINT) AS pr FROM d),
       |$iters
       |SELECT p$PrIters.u AS doc_id, d.deg, p$PrIters.pr
       |FROM p$PrIters JOIN d ON p$PrIters.u = d.u
       |ORDER BY pr DESC, doc_id LIMIT 50""".stripMargin
  }

  /** g02 — triangle census + global clustering coefficient: count the
    * closed triples of the similarity graph by the ordered three-way
    * self-join (a < b < c — each triangle counted exactly once), the open
    * wedges from the degree sequence (Σ deg·(deg−1)/2), and report
    * 3·triangles / wedges — how clique-like near-dup neighborhoods are
    * (template families form cliques; chains of partial overlap don't),
    * which calibrates how aggressively d08-style cluster eviction can
    * collapse a neighborhood to one representative.
    *
    * Scale shape: two equi-joins on the smaller ordered pair list (i < j,
    * half the edge list) with join keys that spread over the node space;
    * the wedge sum is one map-side-combined aggregate over degrees. The
    * standard distributed triangle count — no node ever sees more than its
    * own neighborhood.
    */
  private def g02(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    val tri = pairs.as("e1")
      .join(pairs.as("e2"), col("e2.i") === col("e1.j"))
      .join(pairs.as("e3"),
        col("e3.i") === col("e1.i") && col("e3.j") === col("e2.j"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = pairs.select(col("i").as("u"))
      .unionAll(pairs.select(col("j").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val base = deg.agg(count(lit(1)).as("n_nodes"),
      expr("SUM(deg) DIV 2").as("n_edges"),
      expr("SUM(deg * (deg - 1) DIV 2)").as("n_wedges"))
    base.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        (lit(3.0) * col("n_triangles").cast("double")
          / col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  private def g02Sql: String =
    s"""$graphCtes,
       |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
       | FROM pp e1 JOIN pp e2 ON e2.i = e1.j
       |   JOIN pp e3 ON e3.i = e1.i AND e3.j = e2.j),
       |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
       |  CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM d)
       |SELECT n_nodes, n_edges, n_triangles, n_wedges,
       |  3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       |    AS clustering_coeff
       |FROM base, tri""".stripMargin

  /** g03 — per-node local clustering coefficient: for each node, the
    * fraction of its neighbor pairs that are themselves connected —
    * triangles_at(u) / (deg(u)·(deg(u)−1)/2). The node-level refinement of
    * g02's global census: a near-dup neighborhood whose members all have
    * cc ≈ 1 is a clique (one template family — collapse to one
    * representative); a hub with low cc chains unrelated documents through
    * partial overlaps and must NOT be collapsed around. Output is every
    * node of degree ≥ 2 with its degree, triangle count, and coefficient.
    *
    * Scale shape: reuses g02's ordered three-way self-join; each triangle
    * then fans out to exactly 3 (node, 1) rows — the per-node census is a
    * map-side-combined aggregate over 3·|triangles| rows, joined back to
    * degrees on the node key. No node ever sees beyond its neighborhood.
    */
  private def g03(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    val tris = pairs.as("e1")
      .join(pairs.as("e2"), col("e2.i") === col("e1.j"))
      .join(pairs.as("e3"),
        col("e3.i") === col("e1.i") && col("e3.j") === col("e2.j"))
      .select(col("e1.i").as("a"), col("e1.j").as("b"), col("e2.j").as("c"))
    val triPerNode = tris.select(explode(array(col("a"), col("b"), col("c")))
        .as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("n_tri"))
    val deg = pairs.select(col("i").as("u"))
      .unionAll(pairs.select(col("j").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("u"), "left")
      .select(col("u").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("local_cc",
        (lit(2.0) * col("n_tri").cast("double"))
          / (col("deg") * (col("deg") - 1)).cast("double"))
      .orderBy(col("doc_id"))
  }

  private def g03Sql: String =
    s"""$graphCtes,
       |tris AS (SELECT e1.i AS a, e1.j AS b, e2.j AS c
       |  FROM pp e1 JOIN pp e2 ON e2.i = e1.j
       |    JOIN pp e3 ON e3.i = e1.i AND e3.j = e2.j),
       |tn AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS u FROM tris
       |    UNION ALL SELECT b FROM tris
       |    UNION ALL SELECT c FROM tris) GROUP BY u)
       |SELECT d.u AS doc_id, d.deg, COALESCE(tn.n_tri, 0) AS n_tri,
       |  2.0 * CAST(COALESCE(tn.n_tri, 0) AS DOUBLE)
       |    / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS local_cc
       |FROM d LEFT JOIN tn ON tn.u = d.u
       |WHERE d.deg >= 2
       |ORDER BY doc_id""".stripMargin

  /** g04 — per-component duplicate-cluster profile: for each connected
    * component of the near-dup graph, its node count, internal edge count,
    * and edge density 2e/(n(n−1)) — the structural summary a curation run
    * reads before choosing an eviction policy (density ≈ 1: one template
    * family, keep one representative; low density: a chain of partial
    * overlaps that must be evicted pairwise, not collapsed). The component
    * label is the minimum member doc_id (the ConnectedComponents contract),
    * mirrored in the oracle's recursive min-label propagation.
    *
    * Scale shape: components come from the O(log n) label-propagation /
    * star-contraction operator (d07's path); the profile itself is two
    * map-side-combined aggregates (sizes from labels, edges from one
    * equi-join of the pair list against labels on the i endpoint — both
    * endpoints share a component by definition, so one join suffices) and
    * a component-keyed join. No step widens beyond the edge list.
    */
  private def g04(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    val comp = ConnectedComponents.components(pairs)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_nodes"))
    val ec = pairs.join(comp, pairs("i") === comp("id"))
      .groupBy(col("component")).agg(count(lit(1)).as("n_edges"))
    sizes.join(ec, Seq("component"))
      .select(col("component"), col("n_nodes"), col("n_edges"),
        (lit(2.0) * col("n_edges").cast("double")
          / (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
          .as("density"))
      .orderBy(col("component"))
  }

  private def g04Sql: String =
    s"""WITH RECURSIVE pairs AS (SELECT i, j FROM (${DedupQueries.minhashPairsCore})),
       |e2 AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
       |reach(id, lbl) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM e2)
       |  UNION
       |  SELECT e2.a, reach.lbl FROM e2 JOIN reach ON e2.b = reach.id
       |),
       |comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
       |sz AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |       FROM comp GROUP BY component),
       |ec AS (SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges
       |       FROM pairs p JOIN comp c ON p.i = c.id GROUP BY c.component)
       |SELECT sz.component, sz.n_nodes, ec.n_edges,
       |  2.0 * CAST(ec.n_edges AS DOUBLE)
       |    / CAST(sz.n_nodes * (sz.n_nodes - 1) AS DOUBLE) AS density
       |FROM sz JOIN ec ON sz.component = ec.component
       |ORDER BY sz.component""".stripMargin

  /** g05 — degree assortativity of the near-dup graph: the Pearson
    * correlation of endpoint degrees over the (both-direction) edge list
    * (Newman 2002). Positive r: high-degree documents link to each other
    * (duplication concentrates in template families — cluster-level
    * eviction is safe); negative r: hubs link to leaves (star-shaped
    * boilerplate inclusion — evict around the hub instead). Complements
    * g02's clustering view with the mixing view.
    *
    * Determinism: degree sums are exact integers (r11's discipline);
    * doubles enter only in the final ratio, identically shaped in both
    * engines.
    *
    * Scale shape: degrees are one map-side-combined aggregate; attaching
    * them to edges is two keyed equi-joins; the moment sums are one
    * partial-combined single-group aggregate. Nothing widens beyond the
    * edge list.
    */
  private def g05(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).localCheckpoint()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val ends = e.join(deg.select(col("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
    // ALL moment arithmetic in decimal(38,0), operands cast BEFORE the
    // multiply (r11's pattern): a per-term dx·dy in long wraps at
    // deg ≳ 3e9, and the linear sums are the same second-moment magnitude
    // (Σ_edges dx = Σ_u deg(u)²) so they wrap at the same scale — while
    // the oracle's HUGEINT stays exact. decimal→double matches the
    // oracle's VARCHAR→DOUBLE route exactly
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val agg = ends.agg(count(lit(1)).as("m"),
      sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
      sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
      sum(dec(col("dy")) * dec(col("dy"))).as("syy"),
      sum(dec(col("dx")) * dec(col("dy"))).as("sxy"))
    def d(c: String) = col(c).cast("double")
    agg.select(col("m").as("n_directed_edges"),
      ((d("m") * d("sxy") - d("sx") * d("sy")) /
        sqrt((d("m") * d("sxx") - d("sx") * d("sx")) *
          (d("m") * d("syy") - d("sy") * d("sy")))).as("assortativity"))
  }

  private def g05Sql: String =
    s"""$graphCtes,
       |ends AS (SELECT da.deg AS dx, db.deg AS dy
       |  FROM e JOIN d da ON e.u = da.u JOIN d db ON e.v = db.u),
       |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |  SUM(dx) AS sx, SUM(dy) AS sy,
       |  SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
       |  SUM(CAST(dy AS HUGEINT) * dy) AS syy,
       |  SUM(CAST(dx AS HUGEINT) * dy) AS sxy FROM ends),
       |-- HUGEINT sums route through VARCHAR (r11's rule)
       |f AS (SELECT m, CAST(m AS DOUBLE) AS md,
       |  CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
       |  CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
       |  CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
       |  CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy,
       |  CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy FROM a)
       |SELECT m AS n_directed_edges,
       |  (md * dxy - dx * dy) /
       |  sqrt((md * dxx - dx * dx) * (md * dyy - dy * dy)) AS assortativity
       |FROM f""".stripMargin

  /** g06 — 2-hop reach (ego-network expansion): for every node of the
    * near-dup graph, how many distinct documents are within two hops —
    * |N₁ ∪ N₂ \ {u}| — and the amplification ratio reach/deg. The
    * transitive-exposure signal: a doc whose 2-hop ball is much larger
    * than its neighbor list sits on a BRIDGE between duplicate families
    * (amplification ≫ 1), while amplification ≈ 1 marks a closed clique —
    * the complement of g03's local clustering (which sees triangles but
    * not bridges).
    *
    * Scale shape: one self equi-join of the directed edge list on the
    * middle vertex (the standard distributed 2-hop expansion — candidate
    * volume is Σ deg(m)², bounded here because near-dup components are
    * cluster-sized, never corpus-sized), a distinct on (u, w), and one
    * keyed count. No windows; the deg join is component-local.
    */
  private def g06(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir).localCheckpoint()
    val twoHop = e.as("a").join(e.as("b"), col("a.v") === col("b.u"))
      .filter(col("b.v") =!= col("a.u"))
      .select(col("a.u").as("u"), col("b.v").as("w"))
    val reach = e.select(col("u"), col("v").as("w"))
      .unionAll(twoHop)
      .distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("n_reach2"))
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    deg.join(reach, Seq("u"))
      .select(col("u").as("doc_id"), col("deg"), col("n_reach2"),
        (col("n_reach2").cast("double") / col("deg").cast("double"))
          .as("amplification"))
      .orderBy(col("doc_id"))
  }

  private def g06Sql: String =
    s"""$graphCtes,
       |th AS (SELECT a.u AS u, b.v AS w FROM e a JOIN e b ON a.v = b.u
       |  WHERE b.v <> a.u),
       |r AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_reach2 FROM (
       |    SELECT DISTINCT u, w FROM (
       |      SELECT u, v AS w FROM e UNION ALL SELECT u, w FROM th))
       |  GROUP BY u)
       |SELECT d.u AS doc_id, d.deg, r.n_reach2,
       |  CAST(r.n_reach2 AS DOUBLE) / CAST(d.deg AS DOUBLE) AS amplification
       |FROM d JOIN r ON r.u = d.u
       |ORDER BY doc_id""".stripMargin

  /** g07 — modularity of the near-dup graph under the SOURCE partition
    * (Newman's Q with communities = the documents' source attribute): per
    * source, the intra-source edge fraction minus the expected fraction
    * under degree-preserving rewiring. High total Q: duplication is
    * INTRA-source (each crawl duplicates itself — dedup can shard by
    * source); Q ≈ 0 or negative: duplication flows ACROSS sources (mirror
    * sites, syndication — the provenance alarm d21/d29 quantify pairwise,
    * graded here as one partition-quality number). Per-source contribution
    * is the exact integer (4m·Lₛ − Dₛ²) over 4m² — one float division at
    * the end, r11's discipline.
    *
    * Scale shape: two keyed joins of the banded pair list against the
    * (doc_id, source) projection, then source-keyed counts — no recursion,
    * no windows; output = |sources| rows.
    */
  private def g07(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val pairs = nearDupPairs(s, dir)
    val m = pairs.count() // one scalar: total undirected edges
    val withSrc = pairs
      .join(src.withColumnRenamed("doc_id", "i")
        .withColumnRenamed("source", "src_i"), Seq("i"))
      .join(src.withColumnRenamed("doc_id", "j")
        .withColumnRenamed("source", "src_j"), Seq("j"))
    val intra = withSrc.filter(col("src_i") === col("src_j"))
      .groupBy(col("src_i").as("source"))
      .agg(count(lit(1)).as("intra_edges"))
    val degs = pairs.select(col("i").as("u"))
      .unionAll(pairs.select(col("j").as("u")))
      .join(src.withColumnRenamed("doc_id", "u"), Seq("u"))
      .groupBy(col("source")).agg(count(lit(1)).as("deg_sum"))
    degs.join(intra, Seq("source"), "left")
      .select(col("source"), col("deg_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"))
      .withColumn("contrib_num",
        lit(4L) * lit(m) * col("intra_edges") - col("deg_sum") * col("deg_sum"))
      .withColumn("contribution",
        col("contrib_num").cast("double") / (4.0 * m * m))
      .orderBy(col("source"))
  }

  private def g07Sql: String =
    s"""WITH pp AS (SELECT i, j FROM (${DedupQueries.minhashPairsCore})),
       |src AS (SELECT doc_id, source FROM documents),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pp),
       |ws AS (SELECT p.i, p.j, si.source AS src_i, sj.source AS src_j
       |  FROM pp p JOIN src si ON si.doc_id = p.i
       |  JOIN src sj ON sj.doc_id = p.j),
       |intra AS (SELECT src_i AS source, CAST(COUNT(*) AS BIGINT)
       |    AS intra_edges
       |  FROM ws WHERE src_i = src_j GROUP BY src_i),
       |d AS (SELECT s.source, CAST(COUNT(*) AS BIGINT) AS deg_sum FROM (
       |    SELECT i AS u FROM pp UNION ALL SELECT j FROM pp) e
       |  JOIN src s ON s.doc_id = e.u GROUP BY s.source)
       |SELECT d.source, d.deg_sum,
       |  COALESCE(intra.intra_edges, 0) AS intra_edges,
       |  4 * m.m * COALESCE(intra.intra_edges, 0) - d.deg_sum * d.deg_sum
       |    AS contrib_num,
       |  CAST(4 * m.m * COALESCE(intra.intra_edges, 0)
       |      - d.deg_sum * d.deg_sum AS DOUBLE)
       |    / CAST(4 * m.m * m.m AS DOUBLE) AS contribution
       |FROM d LEFT JOIN intra ON intra.source = d.source, m
       |ORDER BY d.source""".stripMargin

  /** g08 degree threshold and fixed peel-round count (unrolled identically
    * in the oracle).
    */
  private val CoreK = 2
  private val PeelRounds = 3

  /** g08 — bounded k-core peel of the similarity graph: [[PeelRounds]]
    * rounds of deleting every node with degree < [[CoreK]] (and its
    * edges), then report each survivor's residual degree. Peeling strips
    * incidental pairings (chains, pendants) and leaves the densely
    * inter-duplicated neighborhoods — shared-template/boilerplate families
    * — which is the curation complement of g04's components (membership)
    * and g02's triangles (closure): a CORE is where near-dup eviction
    * should act most aggressively. A fixed round count keeps the operator
    * deterministic and engine-portable (full k-core is peel-to-fixpoint —
    * data-dependent depth; [[PeelRounds]] rounds remove every structure a
    * length-≤[[PeelRounds]] pendant chain can hide, and survivors'
    * residual degrees expose any remaining sub-threshold nodes honestly).
    *
    * Scale shape: each round is one map-side-combined degree count + two
    * semi-join-shaped equi-joins on node id — [[PeelRounds]] fixed
    * passes over an edge list that only SHRINKS; the input edge list is
    * localCheckpoint'd once, no windows, no driver-side state.
    */
  private def g08(s: SparkSession, dir: String): DataFrame = {
    var e = edges(s, dir).localCheckpoint()
    for (_ <- 1 to PeelRounds) {
      val surv = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= CoreK)
        .select(col("u"))
      // checkpoint each round's surviving edge list (round 19): `surv` is
      // referenced twice and `e` feeds the next round, so the lazy form
      // tripled the subtree per round — 3^PeelRounds copies, 108 Exchange
      // nodes in the before-plan, with every round's degree aggregate
      // re-executed by each later round. Per-iteration materialization is
      // the standard iterative-graph shape (g01 does the same for its base
      // tables); each round now runs exactly once over a shrinking list.
      e = e.join(surv, Seq("u"))
        .join(surv.select(col("u").as("v")), Seq("v"))
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    e.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
      .select(col("u").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))
  }

  private def g08Sql: String = {
    val rounds = (1 to PeelRounds).map { t =>
      s"""v$t AS (SELECT u FROM (SELECT u, COUNT(*) AS deg
         |    FROM e${t - 1} GROUP BY u) WHERE deg >= $CoreK),
         |e$t AS (SELECT e.u, e.v FROM e${t - 1} e
         |  JOIN v$t a ON e.u = a.u JOIN v$t b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    graphCtes +
      s""",
         |e0 AS (SELECT u, v FROM e),
         |$rounds
         |SELECT u AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM e$PeelRounds GROUP BY u ORDER BY doc_id""".stripMargin
  }

  override def defs: Seq[QueryDef] = Seq(
    QueryDef("g01_pagerank", g01, Some(g01Sql)),
    QueryDef("g02_triangles", g02, Some(g02Sql)),
    QueryDef("g03_local_clustering", g03, Some(g03Sql)),
    QueryDef("g04_component_profile", g04, Some(g04Sql)),
    QueryDef("g05_assortativity", g05, Some(g05Sql)),
    QueryDef("g06_two_hop_reach", g06, Some(g06Sql)),
    QueryDef("g07_source_modularity", g07, Some(g07Sql)),
    QueryDef("g08_kcore_peel", g08, Some(g08Sql)))
}
