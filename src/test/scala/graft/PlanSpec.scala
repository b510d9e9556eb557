package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, RangeExec, SparkPlan, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}

/** Plan-shape regression tests — the automated `.explain` audit. These pin
  * the physical properties that matter at 100 TB: filters and projections
  * reaching the parquet scan, broadcast for dim tables, partial aggregation,
  * whole-stage codegen, and no accidental cartesian products.
  */
class PlanSpec extends SparkSpecBase {

  private def planOf(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Every operator of a final plan, descending into AQE query stages. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case q: QueryStageExec => q +: operators(q.plan)
    case _ => p +: p.children.flatMap(operators)
  }

  /** Formatted explain — node fields (PushedFilters, ReadSchema) untruncated,
    * unlike executedPlan.toString.
    */
  private def planString(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def run(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.collect() // materialize so AQE finalizes the plan
    df
  }

  /** Final plan of the IVF index's direct build. s04/s21 plans start at the
    * session-cached assignment, so its join shape is asserted here.
    */
  private def ivfAssignPlan(): String = {
    import graft.queries.MaterializedIvfCells
    val dir = sf("sf0.001")
    val df = MaterializedIvfCells.buildAssigned(spark, dir,
      MaterializedIvfCells.buildCodebook(spark, dir))
    df.collect()
    planString(df)
  }

  test("q03: filter and projection push into the parquet scan") {
    val s = planString(run("q03_filter_project"))
    assert(s.contains("PushedFilters: ["), "filters must reach the scan")
    assert(s.contains("GreaterThanOrEqual(l_quantity"), "quantity filter pushed")
    // pruned ReadSchema: none of the unused wide columns appear in the scan
    assert(!s.contains("l_comment"), "unused column must be pruned from the scan")
  }

  test("q02: 25-row nation joins via broadcast, not shuffle") {
    val s = planString(run("q02_revenue_by_nation"))
    assert(s.contains("BroadcastHashJoin"), "dim join must broadcast")
  }

  test("q01: hash aggregation is partial (map-side combine) + codegen") {
    val s = planString(run("q01_pricing_summary"))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "partial + final HashAggregate")
    assert(s.contains("codegen id"), "agg pipeline stays in whole-stage codegen")
  }

  test("d09 decontamination broadcasts the benchmark side") {
    val s = planString(run("d09_decontaminate"))
    assert(s.contains("BroadcastHashJoin"),
      "the benchmark shingle set must broadcast; the corpus side must not shuffle")
  }

  test("q21 outer-join histogram: pushed priority filter, nulls preserved") {
    val s = planString(run("q21_order_histogram"))
    assert(s.contains("LeftOuter"),
      "zero-order customers must be preserved by a LEFT OUTER join")
    assert(s.contains("EqualTo(o_orderpriority,1-URGENT)"),
      "the ON-side priority filter must push into the orders scan")
    assert(!s.contains("CartesianProduct"), "no cartesian")
  }

  test("q22 scalar-subquery threshold broadcasts as a 1-row frame") {
    val s = planString(run("q22_untapped_balance"))
    assert(s.contains("BroadcastNestedLoopJoin"),
      "the scalar AVG must join as a broadcast 1-row frame, not a shuffle")
    assert(s.contains("LeftAnti"),
      "no-urgent-order membership must plan as an anti join")
    assert(!s.contains("CartesianProduct"), "no cartesian")
  }

  test("q14 top-10 plans as TakeOrderedAndProject, filters reach the scans") {
    val s = planString(run("q14_shipping_priority"))
    assert(s.contains("TakeOrderedAndProject"),
      "limit+orderBy over the join output must plan as top-k")
    assert(s.contains("EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must push into the customer scan")
    assert(s.contains("LessThan(o_orderdate") && s.contains("GreaterThan(l_shipdate"),
      "date filters must push into the orders/lineitem scans")
  }

  test("q15 six-table star join broadcasts its dims, no cartesian") {
    val s = planString(run("q15_local_supplier_volume"))
    assert(s.contains("BroadcastHashJoin"), "nation/region must broadcast")
    assert(!s.contains("CartesianProduct"))
  }

  test("t16 quota sample partial-aggregates: no per-language window sort") {
    val s = planString(run("t16_quota_sample"))
    assert(!s.contains("Window"),
      "quota sampling must use the partial-combinable top-k aggregator, " +
        "not a row_number window that sorts each stratum in one partition")
  }

  test("candidate-join operators never plan a cartesian product") {
    for (name <- Seq("d02_ngram_jaccard", "d03_minhash_lsh", "d05_simhash_pairs",
        "j01_temporal_join", "j02_asof_join", "s02_ann_lsh", "s06_ann_lsh_mp",
        "t13_bigram_fluency", "q13_label_quality", "d11_semantic_dedup",
        "d14_minhash_calibration", "d15_semdedup",
        "d24_edit_verify", "m11_phash_pairs", "g03_local_clustering",
        "j13_attribution", "d25_containment", "t30_oov_rate",
        "j14_pit_lookup", "m12_silence_segments", "t31_langid_confusion",
        "r18_heavy_hitters", "g04_component_profile", "d26_winnowing",
        "t32_pmi_collocations", "j15_nearest_join",
        "r27_window_funnel", "d32_threshold_yield")) {
      val s = planString(run(name))
      assert(!s.contains("CartesianProduct"),
        s"$name must generate candidates via equi-join, found cartesian")
    }
  }

  test("funnel family plans have NO join at all (r27/r29/j05 window forms)") {
    // the round-12 de-quadratic rewrites: r27's former view x click chain
    // join materialized V*C rows per user (a bot user is quadratic), j05's
    // left-semi paid C*P predicate evaluations in one task. The window
    // forms must never regress to a join — one user-keyed exchange, sorted
    // frames, aggregation.
    for (q <- Seq("r27_window_funnel", "r29_strict_funnel",
        "j05_conversion_funnel", "r30_sequence_count", "r31_dedup_funnel")) {
      val df = run(q)
      // match on executed-plan NODE TYPES, not plan text — an alias or
      // relation name containing "join" must not fail this spuriously,
      // and a future join exec node must not slip past a string match
      // (round-12 advice)
      val joins = planOf(df).collectWithSubqueries {
        // BaseJoinExec covers every join node incl. CartesianProductExec
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.isEmpty,
        s"$q must stay join-free, found: ${joins.map(_.nodeName).mkString(", ")}")
      assert(planString(df).contains("Window"), s"$q computes via window frames")
    }
  }

  test("r30 pattern filter pushes into the events scan") {
    // sequenceCount's `.*` means non-pattern events can never matter, so
    // the view/click restriction must reach the parquet scan — at 100 TB
    // the state machine sees two event types, not the whole stream
    val s = planString(run("r30_sequence_count"))
    assert(s.contains("In(event_type") || s.contains("EqualTo(event_type"),
      "the two-type pattern filter must be a pushed scan filter")
  }

  test("r32 pattern filters push into every per-pattern events scan") {
    // each sequenceMatch pattern filters to its own condition set before
    // the user-keyed sort — at 100 TB a 2-type pattern scans two event
    // types, and the adjacency semantics ('non-pattern events are
    // skipped') is exactly what makes the pushed filter lossless
    val s = planString(run("r32_sequence_match"))
    assert(s.contains("In(event_type") || s.contains("EqualTo(event_type"),
      "pattern condition sets must reach the parquet scans")
    assert(!s.contains("CartesianProduct"))
    // the union of 1-row per-pattern aggregates must not re-sort globally:
    // every sort in the plan is a per-user window sort
    assert(!s.toLowerCase.contains("rangepartitioning(pattern"),
      "the 5-row result needs no global range exchange before the sort")
  }

  test("r34 histogram quantiles shuffle buckets, not rows") {
    // the sketch property in plan form: the only exchange carries the
    // (grp, bucket) partial counts — at most groups x 514 rows — never
    // the events themselves; partial aggregation must sit below it
    val df = run("r34_hist_quantiles")
    val s = planString(df)
    assert(s.contains("HashAggregate"), "bucket counts must partial-combine")
    assert("hashpartitioning\\(grp".r.findAllIn(s).size >= 1,
      "the shuffle key is the group (window partitioning), not raw rows")
    assert(!s.contains("CartesianProduct"))
  }

  // The title is kept as this test's stable name. What it pins: keep-first
  // shuffles once on the key, with a Partial WindowGroupLimit below that
  // exchange as the map-side combine, and no SortAggregate on either side.
  test("dedup keepFirst is a single-exchange hash aggregate, not a window sort") {
    val ops = operators(planOf(run("q05_dedup_keep_first")))
    val keyExchanges = ops.collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning match {
        case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("event_id")
        case _ => false
      })
    assert(keyExchanges.size == 1, s"exactly one hash exchange on the key: $keyExchanges")
    assert(operators(keyExchanges.head.child).exists {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }, "keep-first must cut each key to one row map-side, below the key exchange")
    assert(!ops.exists(_.isInstanceOf[SortAggregateExec]),
      "no interpreted sort-aggregate on either side of the exchange")
  }

  test("injectEveryK plans one Range scan, no Union, the Generate in its codegen stage") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{DuplicateInjector, EventGenerator}
    val sent = DuplicateInjector.injectEveryK(EventGenerator.generate(spark, 1000L),
      col("row_id"), 10)
    val ops = operators(planOf(sent))
    assert(ops.count(_.isInstanceOf[RangeExec]) == 1, "the source is scanned once")
    assert(!ops.exists(_.isInstanceOf[UnionExec]), "no self-union")
    assert(ops.exists {
      case w: WholeStageCodegenExec =>
        val inStage = operators(w.child)
        inStage.exists(_.isInstanceOf[GenerateExec]) && inStage.exists(_.isInstanceOf[RangeExec])
      case _ => false
    }, "the expansion runs in the generator's whole-stage codegen stage")
  }

  test("tumbling dedup over injectEveryK shuffles each unique event once") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.operators.{Dedup, DuplicateInjector, EventGenerator}
    val sent = DuplicateInjector.injectEveryK(EventGenerator.generate(spark, 20000L),
      col("row_id"), 10)
    val deduped = Dedup.tumbling(sent, Seq("event_id"), to_timestamp(col("created_at")),
      8L * 3600 * 1000, col("row_id"))
    assert(deduped.collect().length == 20000)
    val exchanges = operators(planOf(deduped)).collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(exchanges.size == 1, s"one dedup exchange: $exchanges")
    // every duplicate sits next to its original in the same partition, so
    // the partial WindowGroupLimit drops it before the exchange
    assert(exchanges.head.metrics("shuffleRecordsWritten").value == 20000L,
      "the exchange carries exactly one row per unique event")
  }

  test("mapping projection folds into the scan (no extra exchange)") {
    val s = planString(run("q06_mapping_projection"))
    assert(!s.contains("Exchange hashpartitioning"),
      "pure projection must not shuffle (only the final sort exchanges)")
  }

  test("t07 repetition is per-row: no hash exchange, no aggregation") {
    val s = planString(run("t07_repetition"))
    assert(!s.contains("Exchange hashpartitioning"),
      "per-document stat must not shuffle (only the final sort range-exchanges)")
    assert(!s.contains("HashAggregate"),
      "repetition is computed per row, not via explode + re-aggregate")
    assert(!s.contains("Generate"), "no explode in the plan")
  }

  test("t08/t09 per-row text ops never shuffle") {
    for (name <- Seq("t08_bpe_apply", "t09_pii_scrub")) {
      val s = planString(run(name))
      assert(!s.contains("Exchange hashpartitioning"),
        s"$name is per-row — only the final sort may exchange")
      assert(!s.contains("HashAggregate"), s"$name must not aggregate")
    }
  }

  test("t11 vocab top-k takes ordered results, no global sort of the corpus") {
    val s = planString(run("t11_vocab_topk"))
    assert(s.contains("TakeOrderedAndProject"),
      "limit+orderBy must plan as top-k, not a full sort")
  }

  test("m05/t10 single-pass hash aggregation with map-side combine") {
    for (name <- Seq("m05_media_dedup", "t10_data_card")) {
      val s = planString(run(name))
      assert("HashAggregate".r.findAllIn(s).size >= 2,
        s"$name needs partial + final HashAggregate")
      assert(!s.contains("CartesianProduct"))
    }
  }

  test("q16 EXISTS plans as a semi join with pushed date filter, no cartesian") {
    val s = planString(run("q16_priority_checking"))
    assert(s.contains("LeftSemi"),
      "the existence test must plan as a semi join (probe carries keys only)")
    assert(s.contains("GreaterThanOrEqual(o_orderdate"),
      "quarter filter must push into the orders scan")
    assert(!s.contains("CartesianProduct"))
  }

  test("q17 aggregate-then-join broadcasts the HAVING-cut totals") {
    val s = planString(run("q17_large_volume_customer"))
    assert(s.contains("BroadcastHashJoin"),
      "qualifying order totals are provably small and must broadcast")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "lineitem totals must partial-aggregate before the join")
    assert(s.contains("TakeOrderedAndProject"), "top-100 must plan as top-k")
  }

  test("q18 disjunctive bands stay an equi-join, no cartesian") {
    val s = planString(run("q18_disjunctive_revenue"))
    assert(!s.contains("CartesianProduct"),
      "OR-of-ANDs must ride the partkey equi-join as a residual filter")
    assert(s.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("Or(") && l.contains("p_brand")),
      "the brand/size disjunction must push down to the part scan")
    assert(s.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("Or(") && l.contains("l_quantity")),
      "the quantity-band disjunction must push down to the lineitem scan")
  }

  test("r08 explicit-values pivot is one pass: single scan, no per-lang union") {
    val s = planString(run("r08_pivot_crosstab"))
    assert("Location: InMemoryFileIndex".r.findAllIn(s).size <= 1,
      "pivot with explicit values must not re-scan per pivot column")
    assert(!s.contains("Union"), "no union of per-language subplans")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
  }

  test("t18 shard report is a single partial-combined hash agg") {
    val s = planString(run("t18_shard_assign"))
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
    assert(!s.contains("Window") && !s.contains("CartesianProduct"))
  }

  test("q19 returned-item report: pushed filters, broadcast nation, top-20") {
    val s = planString(run("q19_returned_items"))
    assert(s.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("EqualTo(l_returnflag,R)")),
      "the returnflag filter must cut lineitem at the scan, before any join")
    assert(s.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(s.contains("TakeOrderedAndProject"), "top-20 must plan as top-k")
    assert(!s.contains("CartesianProduct"))
  }

  test("q20 sole-failing-supplier: per-order predicate on one keyed exchange") {
    val s = planString(run("q20_sole_failing_supplier"))
    assert(s.contains("LeftSemi"),
      "the finished-order EXISTS plans as a semi join")
    assert(!s.contains("LeftAnti"),
      "round 18 folded the NOT-EXISTS probe into the per-order aggregate " +
        "(n_supp >= 2 AND n_ret = 1) — no anti join, no probe-side " +
        "broadcast that couldn't exist at scale")
    assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"))
  }

  test("j08 SCD2 intervals: keyed windows, no corpus-wide window partition") {
    val s = planString(run("j08_scd2_intervals"))
    assert(s.contains("Window"), "gaps-and-islands runs as window functions")
    assert(!s.contains("SinglePartition"),
      "every window/aggregate must stay partitioned by user, never global")
    assert(!s.contains("CartesianProduct"))
  }

  test("s04 IVF: fixed-K broadcast codebook, corpus never shuffles for assignment") {
    val s = planString(run("s04_ann_ivf"))
    // cell assignment is a per-row fold over the broadcast IvfK-row codebook
    // (BroadcastNestedLoopJoin against the 1-row candidate-array frame);
    // probe matching broadcasts the fixed-k query list — the corpus side
    // never sort-merge-joins or cartesians anywhere in the pipeline
    assert(s.contains("BroadcastNestedLoopJoin"),
      "the collapsed codebook must join as a broadcast 1-row frame")
    assert(s.contains("BroadcastHashJoin"),
      "probe-cell matching must broadcast the query side")
    assert(!s.contains("SortMergeJoin"),
      "no shuffle join anywhere in IVF assignment or probing")
    assert(!s.contains("CartesianProduct"))
    // s04 reads the cached assignment, so the assignment join is checked
    // on the index build's own plan
    val build = ivfAssignPlan()
    assert(build.contains("BroadcastNestedLoopJoin"),
      "the collapsed codebook must join as a broadcast 1-row frame")
    assert(!build.contains("SortMergeJoin"),
      "no shuffle join anywhere in IVF assignment")
    assert(!build.contains("CartesianProduct"))
  }

  test("s08 PQ code assignment is per-row: codegen encode, one tiny agg") {
    val s = planString(run("s08_pq_codes"))
    // round 8: the encode is SubSpaces NearestCell expressions in one
    // projection (driver-materialized sub-codebooks as reference objects) —
    // the corpus joins NOTHING for code assignment (pre-r8: an explode +
    // BroadcastHashJoin against a codebook frame)
    assert(s.contains("nearest_cell"),
      "per-subspace encode must be the NearestCell codegen expression")
    assert(!s.contains("BroadcastHashJoin") && !s.contains("BroadcastNestedLoopJoin"),
      "no codebook join remains once encoding is a projection")
    assert(!s.contains("SortMergeJoin"),
      "no shuffle join anywhere in code assignment")
    assert(!s.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "the ≤32-row histogram aggregates with map-side combine")
  }

  test("s10 k-means: every iteration is a codegen map pass, no corpus shuffle") {
    // round 16: s10's own plan starts at MaterializedKMeans' materialized
    // fit (localCheckpoint/parquet truncates the plan), so the assignment
    // shape is asserted on the OPERATOR plan the materialization runs —
    // one assign() pass over the quantized embeddings with the final
    // codebook — plus the census shape on the query itself
    import graft.functions.VectorFunctions.quantize
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
    val cb = graft.operators.KMeans.codebook(
      vecs.limit(graft.config.Scale.kmK)
        .select(col("vec_id").as("c_id"), col("v").as("cv")))
    val s = planString(graft.operators.KMeans.assign(vecs, cb))
    // round 8: assignment is the NearestCell codegen expression carrying
    // the driver-materialized codebook — a pure projection, so the
    // assignment round needs NO join of any kind (the pre-r8 plan joined a
    // broadcast 1-row codebook frame via BroadcastNestedLoopJoin)
    assert(s.contains("nearest_cell"),
      "assignment must be the NearestCell codegen projection")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "no codebook join remains once assignment is a projection")
    assert(!s.contains("SortMergeJoin"),
      "the corpus must never shuffle for assignment or update")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("Exchange"),
      "assignment is a pure map pass — zero exchanges")
    // the query's own residue: the census aggregates with map-side combine
    val q = planString(run("s10_kmeans"))
    assert("HashAggregate".r.findAllIn(q).size >= 2,
      "the census aggregates with map-side combine")
    assert(!q.contains("SortMergeJoin") && !q.contains("CartesianProduct"))
  }

  test("d16 bloom build is one bit_or aggregation; no shuffle join at broadcast scale") {
    val s = planOf(run("d16_bloom_decontaminate")).toString
    assert(s.contains("bit_or"), "the bitmap must build via bit_or aggregation")
    assert(s.contains("Subquery") || s.contains("subquery"),
      "the bitmap must enter the probe as a scalar subquery")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"))
  }

  test("d16 bloom probe prunes below the verify join once the bench side can't broadcast") {
    // the scale case: the benchmark set exceeds the broadcast threshold, the
    // exact membership join becomes a shuffle join — the Bloom bit-test
    // (which needs only the scalar-subquery bitmap) must stay on the corpus
    // side BELOW that join, pruning rows before they shuffle. In the printed
    // tree, children render below parents: the probe filter inside the
    // join's left subtree appears after the join line.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = SparkEntry.queries("d16_bloom_decontaminate")(spark, sf("sf0.001"))
      df.collect()
      val s = planOf(df).toString
      val join = Seq(s.indexOf("SortMergeJoin"), s.indexOf("ShuffledHashJoin"))
        .filter(_ >= 0)
      assert(join.nonEmpty, "verify join must be a shuffle join with broadcasts off")
      val probe = s.indexOf("element_at")
      assert(probe >= 0, "bloom bit-test filter missing from the plan")
      assert(probe > join.min,
        "the bloom probe must sit below the verify join, not above it")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevA)
    }
  }

  test("q23 min-cost supplier: part cut before the agg, window over pairs, dims broadcast") {
    val s = planString(run("q23_min_cost_supplier"))
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "the part-cut lineitem must collapse to (partkey, suppkey) pairs map-side")
    assert(s.contains("BroadcastHashJoin"),
      "the size-filtered part list and supplier must broadcast")
    assert(s.contains("Window"), "the correlated MIN is a window over the pairs frame")
    assert(!s.contains("CartesianProduct"))
    // the size-1 part cut must join BELOW the aggregation (deeper in the
    // tree = smaller formatted-explain operator id): only ~1/50 of
    // lineitem's rows may enter the (partkey, suppkey) shuffle — an
    // aggregate-everything-then-filter plan would shuffle every group only
    // to discard 98% of them
    def treeIds(op: String): Seq[Int] =
      (op + """[^(\n]*\((\d+)\)""").r.findAllMatchIn(s)
        .map(_.group(1).toInt).toSeq
    val bhj = treeIds("BroadcastHashJoin")
    val agg = treeIds("HashAggregate")
    assert(bhj.nonEmpty && agg.nonEmpty, "plan must contain both operators")
    assert(bhj.min < agg.min,
      s"part cut (ids $bhj) must sit below the aggregation (ids $agg)")
  }

  test("q24 volume shipping: nation dims fold into broadcasts before lineitem") {
    val s = planString(run("q24_volume_shipping"))
    assert(s.contains("BroadcastHashJoin"),
      "the filtered supplier/customer sides must broadcast")
    assert(!s.contains("CartesianProduct"))
  }

  test("q25 important stock: scalar total broadcasts as a 1-row frame") {
    val s = planString(run("q25_important_stock"))
    assert(s.contains("BroadcastNestedLoopJoin"),
      "the corpus total must join as a broadcast 1-row frame")
    assert(s.contains("LeftSemi"),
      "nation membership must plan as a semi join (keys only on the probe)")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
  }

  test("q26 market share is one conditional-aggregate pass, no second join") {
    val s = planString(run("q26_market_share"))
    assert(s.contains("BroadcastHashJoin"), "dim chains must broadcast")
    assert(!s.contains("Union"),
      "share = SUM(CASE)/SUM in one pass, not a union of two aggregations")
    assert(!s.contains("CartesianProduct"))
  }

  test("q27 profit: part/supplier broadcast before lineitem, partial agg, no cartesian") {
    val s = planString(run("q27_nation_profit"))
    assert(s.contains("BroadcastHashJoin"),
      "the name-filtered part list and supplier→nation chain must broadcast")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
    assert(!s.contains("CartesianProduct"))
  }

  test("q28 correlated threshold aggregates first, broadcasts, never re-scans") {
    val s = planString(run("q28_small_qty_revenue"))
    assert(s.contains("BroadcastHashJoin"),
      "the per-part threshold frame must broadcast against lineitem")
    assert(s.contains("LeftSemi"),
      "brand membership must plan as a semi join")
    assert(!s.contains("Window") && !s.contains("CartesianProduct"))
  }

  test("q29 conditional counts: pushed date range, one pass, no union") {
    val s = planString(run("q29_priority_counts"))
    assert(s.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(l_shipdate")),
      "the shipdate window must push into the lineitem scan")
    assert(!s.contains("Union"),
      "high/low counts are SUM(CASE) in one pass, not a union of two aggs")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
    assert(!s.contains("CartesianProduct"))
  }

  test("q30 single-scan revenue: every range predicate reaches the scan") {
    val s = planString(run("q30_forecast_revenue"))
    for (p <- Seq("GreaterThanOrEqual(l_shipdate", "GreaterThanOrEqual(l_discount",
        "LessThan(l_quantity")) {
      assert(s.linesIterator.exists(l => l.contains("PushedFilters") && l.contains(p)),
        s"predicate $p must push into the lineitem scan")
    }
    assert(!s.contains("Join"), "Q6 shape has no join at all")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
  }

  test("q31 promo share: one conditional-aggregate pass over a broadcast join") {
    val s = planString(run("q31_promo_share"))
    assert(s.contains("BroadcastHashJoin"), "part must broadcast")
    assert(!s.contains("Union"), "share = SUM(CASE)/SUM in one pass")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
    assert(!s.contains("CartesianProduct"))
  }

  test("q32 top supplier: scalar MAX broadcasts, revenue agg partial-combines") {
    val s = planString(run("q32_top_supplier"))
    assert(s.contains("BroadcastNestedLoopJoin") ||
        s.contains("BroadcastHashJoin Cross"),
      "the quarterly MAX must join as a broadcast 1-row frame")
    assert(s.contains("BroadcastHashJoin"), "supplier names attach by broadcast")
    assert("HashAggregate".r.findAllIn(s).size >= 2, "partial + final agg")
    assert(!s.contains("CartesianProduct"))
  }

  test("q33 supplier counts: pair-distinct before the count, part cut broadcast") {
    val s = planString(run("q33_supplier_counts"))
    assert(s.contains("BroadcastHashJoin"), "the negated part cut must broadcast")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "pair distinct + count must both partial-aggregate")
    assert(!s.contains("CartesianProduct") && !s.contains("Window"))
  }

  test("q34 excess inventory: part cut broadcast, one lineitem scan, no cartesian") {
    val s = planString(run("q34_excess_inventory"))
    assert(s.contains("BroadcastHashJoin"), "the name-cut part list must broadcast")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "pair and per-part aggregates must partial-combine")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"))
  }

  test("t20 weighted sample plans as top-k, never a global sort") {
    val s = planString(run("t20_weighted_sample"))
    assert(s.contains("TakeOrderedAndProject"),
      "priority sampling must take per-partition top-k; the corpus never sorts")
    assert(!s.contains("Exchange hashpartitioning"), "no shuffle before the take")
  }

  test("t19 split report and d13 prefix dedup are single partial-combined aggs") {
    for (name <- Seq("t19_train_split", "d13_prefix_dedup")) {
      val s = planString(run(name))
      assert("HashAggregate".r.findAllIn(s).size >= 2,
        s"$name needs partial + final HashAggregate")
      assert(!s.contains("Window") && !s.contains("CartesianProduct"))
    }
  }

  test("j09 interval overlap joins on the time bin, never a nested loop") {
    val s = planString(run("j09_concurrent_sessions"))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "the range join must become an equi-join on bin — a nested loop is O(n²)")
    assert(s.contains("Join") || s.contains("ShuffledHashJoin") ||
      s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin"),
      "a real join node on the bin key must exist")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "pair distinct + concurrency count must both partial-aggregate")
  }

  test("j10 naive interval join is auto-rewritten by RangeJoinRule at scale") {
    // big×big simulation: with broadcast off (as a 100 TB two-sided join
    // looks to the planner) the rule must replace the nested loop with the
    // bin equi-join; the hinted nested-loop branches that remain are the
    // per-row span-cap fallbacks, empty at runtime and AQE-pruned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = planString(run("j10_concurrent_auto"))
      assert(s.contains("__graft_bin"), "the rule's bin key must drive the join")
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        "the small-span branch must join on the bin equi key")
      assert(s.contains("Union"), "the span-cap fallback branches must union in")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("j10 stats gate: broadcast-small sides keep the nested loop") {
    // at sf0.001 both session sides fit under autoBroadcastJoinThreshold —
    // BNLJ with a tiny broadcast side beats explode + shuffle, so the rule
    // stands down and the plan stays the planner's own choice
    val s = planString(run("j10_concurrent_auto"))
    assert(!s.contains("__graft_bin"),
      "broadcast-small sides must not be rewritten")
  }

  test("s09 scalar quantization encodes per-row off one broadcast stats array") {
    val s = planString(run("s09_sq_codes"))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      "the 1-row dim-stats frame must broadcast; the corpus side never shuffles")
    // exactly one exchange: the 64-row min/max aggregate. The corpus→output
    // path is scan → broadcast-join → project (no hashpartitioning of vecs).
    assert(!s.contains("Exchange hashpartitioning(vec_id"),
      "encoding must not shuffle the corpus")
  }

  test("t21 token concentration is one scan, zero shuffle, partial-combined") {
    val s = planString(run("t21_token_concentration"))
    assert(!s.contains("Exchange hashpartitioning"),
      "the histogram never materializes — the fold runs inside the scan stage")
    assert(!s.contains("Window") && !s.contains("CartesianProduct"))
    assert("Location: InMemoryFileIndex".r.findAllIn(s).size <= 1,
      "one documents scan")
  }

  test("d17 cross-snapshot dedup keeps d03's equi-join candidate plan") {
    val s = planString(run("d17_cross_snapshot_dedup"))
    assert(!s.contains("CartesianProduct"),
      "source restriction must not degrade the band join to a cartesian")
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "pair-source joins must stay hash equi-joins")
  }

  test("d18 soft-dedup weights: window by component, no size-table broadcast join") {
    val s = planString(run("d18_soft_dedup_weights"))
    assert(s.contains("Window"), "cluster size must come from a keyed window")
    assert(!s.contains("CartesianProduct"))
  }

  test("t22 tf-idf: corpus term joins are hash joins; only the 1-row N broadcasts") {
    val s = planString(run("t22_tfidf_terms"))
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("Window"), "per-doc rank window")
    // the tf⋈df term join must be a hash equi-join; the single nested-loop
    // allowed is the 1-row n_docs broadcast (each node prints twice under
    // AQE: Initial Plan + Final Plan)
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"),
      "term join must be a hash/merge equi-join")
    assert("BroadcastNestedLoopJoin Cross".r.findAllIn(s).size <= 2,
      "only the 1-row n_docs frame may nested-loop broadcast")
  }

  test("m06 audio framing is per-row codegen: no exchange before the result sort") {
    val s = planString(run("m06_audio_frames"))
    assert(!s.contains("Exchange hashpartitioning"),
      "framing must not shuffle; rows explode in place")
    assert(!s.contains("Window") && !s.contains("CartesianProduct"))
  }

  test("d19 curation composite: equi-join candidates, anti-join eviction, no cartesian") {
    val s = planString(run("d19_curation_pipeline"))
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("LeftAnti"), "eviction must plan as an anti join")
  }

  test("r09 grouping sets expand from one scan like r07's cube") {
    val s = planString(run("r09_grouping_sets"))
    assert(s.contains("Expand"),
      "GROUPING SETS must expand from a single scan, not union re-scans")
    assert("Location: InMemoryFileIndex".r.findAllIn(s).size <= 1,
      "one lineitem scan feeds all three grouping sets")
  }

  test("r11 correlation matrix: one corpus scan, one partial-combined agg, no join") {
    val s = planString(run("r11_correlation_matrix"))
    assert("Location: InMemoryFileIndex".r.findAllIn(s).size <= 1,
      "all nine power sums must come from a single lineitem scan")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "partial + final HashAggregate")
    assert(!s.contains("CartesianProduct") && !s.contains("SortMergeJoin"),
      "the three matrix rows explode from the single agg row — no join")
  }

  test("j11 transition matrix: keyed window partitions by user, no cartesian") {
    val s = planString(run("j11_event_transitions"))
    assert(s.contains("hashpartitioning(user_id"),
      "the lead() window must partition by user, never one global partition")
    assert(!s.contains("CartesianProduct"))
  }

  test("j12 session paths: per-user session agg, top-20 as TakeOrdered") {
    val s = planString(run("j12_session_paths"))
    assert(s.contains("hashpartitioning(user_id"),
      "session assembly must stay keyed by user")
    assert(s.contains("TakeOrderedAndProject"),
      "the top-20 must plan as TakeOrdered, not a global sort materialization")
    assert(!s.contains("CartesianProduct"))
  }

  test("d21 source dup matrix keeps banded equi-join candidates, no cartesian") {
    val s = planString(run("d21_source_dup_matrix"))
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "pair generation and source attach must all be equi-keyed joins")
  }

  test("s14 truncated-dim recall: sample side broadcasts into the corpus scan") {
    val s = planString(run("s14_mrl_recall"))
    assert(s.contains("BroadcastHashJoin"),
      "the fixed-k query sample must broadcast; the corpus must not shuffle")
    assert(!s.contains("CartesianProduct"))
  }

  test("round-8 additions keep their scale shapes (s15/d22/r13)") {
    // s15 MIPS: fixed-k broadcast query side scoring map-side + TopKByScore
    // partial ranking — the corpus must not sort or merge-join
    val s15 = planString(run("s15_mips_topk"))
    assert(s15.contains("BroadcastHashJoin") || s15.contains("BroadcastNestedLoopJoin"),
      "the fixed-k query sample joins as a broadcast")
    assert(!s15.contains("SortMergeJoin") && !s15.contains("CartesianProduct"))
    // d22 semantic decontamination: the benchmark suite is a fixed-k
    // broadcast build side; the corpus streams through one BNLJ pass
    val d22 = planString(run("d22_semantic_decontaminate"))
    assert(d22.contains("BroadcastNestedLoopJoin"),
      "cosine-threshold scoring joins the broadcast benchmark side")
    assert(!d22.contains("SortMergeJoin") && !d22.contains("CartesianProduct"))
    // r13 KMV: the k-smallest selection must plan as TakeOrdered (≤ k rows
    // leave any partition), never a global sort of the hash set
    val r13 = planString(run("r13_kmv_cardinality"))
    assert(r13.contains("TakeOrderedAndProject"),
      "k-minimum selection ships ≤ k hashes per partition")
  }

  test("round-8 batch 2 keeps scale shapes (s16/r14/t27/t28)") {
    // s16 JL recall: projection is constant-vector dots inside the scan;
    // ranking is the same broadcast-sample map pass as s01
    val s16 = planString(run("s16_jl_recall"))
    assert(s16.contains("BroadcastHashJoin") || s16.contains("BroadcastNestedLoopJoin"),
      "the fixed-k query sample joins as a broadcast")
    assert(!s16.contains("CartesianProduct"))
    // r14 EWMA: the weighted stage is a bucketed EQUI-join (cardinality
    // grows with data), never a cartesian/nested-loop over the stream
    val r14 = planString(run("r14_ewma"))
    assert(!r14.contains("CartesianProduct") &&
      !r14.contains("BroadcastNestedLoopJoin"),
      "trailing-window weighting must join on (event_type, rn-bucket)")
    assert("HashAggregate".r.findAllIn(r14).size >= 2,
      "weighted sums partial-combine before the (type, rn) reduce")
    // t27 Zipf: vocabulary head is TakeOrdered (≤ K rows per partition);
    // regression is a 1-group partial-combined aggregate, no join
    val t27 = planString(run("t27_zipf_fit"))
    assert(t27.contains("TakeOrderedAndProject"),
      "top-K vocabulary head must not globally sort the vocabulary")
    assert(!t27.contains("Join"), "the fit is aggregate-only")
    // t28 readability: pure per-row expressions — no exchange before the
    // final tiny sort, stays in whole-stage codegen
    val t28 = planString(run("t28_readability"))
    assert(!t28.contains("Join") && !t28.contains("HashAggregate"))
    assert(t28.contains("codegen id"), "per-row grades stay codegen'd")
  }

  test("graph pack keeps scale shapes (g01/g02)") {
    // g01 PageRank: every iteration is equi-join + partial-combined agg on
    // the destination key; final ranking is TakeOrdered, never a global sort
    val g01 = planString(run("g01_pagerank"))
    assert(!g01.contains("CartesianProduct") &&
      !g01.contains("BroadcastNestedLoopJoin"),
      "rank propagation must stay equi-keyed")
    assert(g01.contains("TakeOrderedAndProject"),
      "top-50 ranking ships <= 50 rows per partition")
    // g02 triangles: ordered three-way self-join is equi-keyed; wedge sum
    // partial-combines
    val g02 = planString(run("g02_triangles"))
    assert(!g02.contains("CartesianProduct"),
      "triangle join must be keyed on shared endpoints")
    assert("HashAggregate".r.findAllIn(g02).size >= 2)
  }

  test("round-9 additions keep scale shapes (r19/r20/t32/t33/s19/j15)") {
    // r19 CMS: the sketch build is a partial-combined aggregate into ≤256
    // cells; the 20-key probe joins the sketch via broadcast, never a
    // shuffle of the key space
    val r19 = planString(run("r19_countmin"))
    assert("HashAggregate".r.findAllIn(r19).size >= 2,
      "sketch cells partial-combine map-side")
    assert(r19.contains("BroadcastHashJoin"),
      "probe rows join the 256-cell sketch as a broadcast")
    assert(!r19.contains("CartesianProduct"))
    // r20 autocorr: the raw scan reduces to one row per day BEFORE the
    // single-partition series window — the window input is the reduced
    // aggregate, never the orders scan
    val r20 = planString(run("r20_autocorr"))
    assert("HashAggregate".r.findAllIn(r20).size >= 2,
      "daily counts partial-combine before the series window")
    assert(!r20.contains("Join"), "the series never joins back to the scan")
    // t32 PMI: bigram→unigram lookups are keyed hash joins; only the 1-row
    // totals frame broadcasts; top-20 is TakeOrdered
    val t32 = planString(run("t32_pmi_collocations"))
    assert(!t32.contains("CartesianProduct"))
    assert(t32.contains("TakeOrderedAndProject"),
      "top-20 collocations ship ≤20 rows per partition")
    // t33 token entropy: keyed aggregates only — no join, no window
    val t33 = planString(run("t33_token_entropy"))
    assert(!t33.contains("Join") && !t33.contains("Window"),
      "entropy is two keyed aggregates over one scan")
    // s19 Hamming kNN: fixed-k probes broadcast into one linear corpus
    // scan; ranking is the partial TopK aggregator, not a window sort
    val s19 = planString(run("s19_hamming_knn"))
    assert(s19.contains("BroadcastNestedLoopJoin") ||
      s19.contains("BroadcastHashJoin"),
      "the probe set must broadcast")
    assert(!s19.contains("SortMergeJoin") && !s19.contains("CartesianProduct"))
    assert(!s19.contains("Window"), "top-5 rides TopKByScore, not row_number")
    // j15 nearest join: ONE user-keyed window pass, no self-join at all
    val j15 = planString(run("j15_nearest_join"))
    assert(!j15.contains("Join"), "two-sided as-of must not self-join")
    assert(j15.contains("Window"), "prev/next ride one sorted window pass")
  }

  test("round-9 batch 2 keeps scale shapes (d27/d28/t35)") {
    // d27 prefix-filtered APSS: every join is a keyed equi-join (prefix
    // shingle, then candidate doc ids) — never a nested loop; the rank
    // window partitions by doc
    val d27 = planString(run("d27_prefix_filter_join"))
    assert(!d27.contains("CartesianProduct") &&
      !d27.contains("BroadcastNestedLoopJoin"),
      "prefix filtering must generate candidates by equi-join only")
    assert(d27.contains("Window"), "canonical ranks ride a doc-keyed window")
    // d28 CDC chunking: no joins at all — one scan, a doc-keyed window,
    // chunk-keyed then fingerprint-keyed aggs, top-20 as TakeOrdered
    val d28 = planString(run("d28_cdc_chunk_dedup"))
    assert(!d28.contains("Join"), "CDC dedup never joins")
    assert(d28.contains("TakeOrderedAndProject"),
      "top-20 boilerplate chunks ship <=20 rows per partition")
    // t35 bigram-LM scoring: model lookups are keyed hash joins (vocab-
    // sized build sides); only the 1-row vocab count broadcasts; the
    // per-doc score is a partial-combined aggregate
    val t35 = planString(run("t35_bigram_xent"))
    assert(!t35.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(t35).size >= 2,
      "doc scores partial-combine map-side")
  }

  test("round-9 batch 3 keeps scale shapes (j16/r21)") {
    // j16 islands: two user-keyed window passes + keyed aggs — no join,
    // and the window exchange hash-partitions by user_id (never a single
    // global sort partition)
    val j16 = planString(run("j16_interval_islands"))
    assert(!j16.contains("Join"), "gaps-and-islands never joins")
    assert(j16.contains("Window"))
    assert(j16.contains("hashpartitioning(user_id"),
      "window must distribute by the user key")
    // r21 histogram: NTILE partitions by nation — keyed, not global; one
    // keyed agg after
    val r21 = planString(run("r21_equidepth_hist"))
    assert(!r21.contains("Join"))
    assert(r21.contains("hashpartitioning(nation"),
      "per-group NTILE must distribute by the group key")
  }

  test("round-9 batch 4 keeps scale shapes (g06/r22)") {
    // g06 2-hop reach: the expansion is a keyed self equi-join on the
    // middle vertex — never a nested loop over the node set
    val g06 = planString(run("g06_two_hop_reach"))
    assert(!g06.contains("CartesianProduct") &&
      !g06.contains("BroadcastNestedLoopJoin"),
      "2-hop expansion must be a keyed equi-join")
    // r22 Spearman: all four rank/tie windows hash-partition by
    // event_type; no join anywhere
    val r22 = planString(run("r22_spearman_drift"))
    assert(!r22.contains("Join"))
    assert(r22.contains("hashpartitioning(event_type"),
      "rank windows must distribute by the type key")
  }

  test("round-9 batch 5 keeps scale shapes (d29/j17)") {
    // d29 source overlap: signatures partial-combine into a |sources|-row
    // aggregate BEFORE any pairing; the non-equi pair grid is over that
    // tiny frame (broadcast), never the corpus
    val d29 = planString(run("d29_source_overlap"))
    assert("HashAggregate".r.findAllIn(d29).size >= 2,
      "source signatures must partial-combine map-side")
    assert(!d29.contains("CartesianProduct"),
      "the pair grid must broadcast the aggregated frame")
    // j17 trigrams: one user-keyed window (both LEADs share the sort),
    // no join, top-20 as TakeOrdered
    // (both LEADs share one Window operator — same partition/order spec —
    // but AQE stage wrapping makes the node count unassertable; the keyed
    // exchange and join-freedom below are the scale-relevant pins)
    val j17 = planString(run("j17_event_trigrams"))
    assert(!j17.contains("Join"))
    assert(j17.contains("hashpartitioning(user_id"),
      "the LEAD window must distribute by user")
    assert(j17.contains("TakeOrderedAndProject"))
  }

  test("s21 nprobe sweep: broadcast codebook assignment, no corpus shuffle join") {
    val s = planString(run("s21_nprobe_sweep"))
    assert(!s.contains("CartesianProduct"),
      "codebook and query sample must broadcast")
    assert(!s.contains("SortMergeJoin"),
      "no corpus-sized shuffle join anywhere in the sweep")
    // the codebook assignment runs inside the cached index build
    val build = ivfAssignPlan()
    assert(build.contains("BroadcastNestedLoopJoin"),
      "codebook assignment must broadcast the 1-row codebook frame")
    assert(!build.contains("CartesianProduct") && !build.contains("SortMergeJoin"),
      "no corpus shuffle join in the codebook assignment")
  }

  test("round-9 batch 6 keeps scale shapes (r24/t36/m16)") {
    // r24 MAD: both rank windows hash-partition by event_type; the median
    // frame re-enters as a broadcast (5 rows), never a shuffle join
    val r24 = planString(run("r24_mad_spread"))
    assert(r24.contains("hashpartitioning(event_type"))
    assert(r24.contains("BroadcastHashJoin"),
      "the 5-row median frame must broadcast into the deviation pass")
    assert(!r24.contains("SortMergeJoin") && !r24.contains("CartesianProduct"))
    // t36 code-switch: pure per-row expressions — no exchange before the
    // output sort, no join, no window
    val t36 = planString(run("t36_code_switch"))
    assert(!t36.contains("Join") && !t36.contains("Window"))
    // m16 triage: two parser pipelines union into one tiny agg — no join
    val m16 = planString(run("m16_corruption_triage"))
    assert(!m16.contains("Join"))
    assert("HashAggregate".r.findAllIn(m16).size >= 2,
      "the rollup partial-combines map-side")
  }

  test("round-9 batch 7 keeps scale shapes (t37/r25/j19)") {
    // t37 fertility: per-row codegen encode + one keyed agg — no join
    val t37 = planString(run("t37_tokenizer_fertility"))
    assert(!t37.contains("Join") && !t37.contains("Window"))
    assert("HashAggregate".r.findAllIn(t37).size >= 2,
      "the language rollup partial-combines")
    // r25 DQ audit: dim-side FK probes broadcast; no cartesian anywhere
    val r25 = planString(run("r25_dq_audit"))
    assert(r25.contains("BroadcastHashJoin"),
      "dim-side FK checks must broadcast")
    assert(!r25.contains("CartesianProduct"))
    // j19 attribution: all windows partition by the purchase key; the
    // candidate join is the keyed temporal join, then a 16-row rollup
    val j19 = planString(run("j19_attribution_policies"))
    assert(j19.contains("hashpartitioning(p_id"),
      "share windows must distribute by purchase")
    assert(!j19.contains("CartesianProduct"))
  }

  test("round-10 batch keeps scale shapes (d26/d31)") {
    // d26 winnowing: fingerprint selection is ONE codegen kernel per row,
    // and since round 11 the kernel output is localCheckpoint'd (the
    // posting-list explode and both size lookups read the materialized
    // fingerprint table instead of re-winnowing the corpus), so the final
    // plan scans the checkpointed RDD — the kernel itself runs exactly once
    // at materialization (its per-row semantics are pinned by the
    // WinnowFingerprints unit tests and d26's DuckDB oracle). The pairing
    // side stays the df-capped group-pairs equi-join (no cartesian).
    val d26 = planString(run("d26_winnowing"))
    assert(d26.contains("ExistingRDD"),
      "selection must read the one-pass materialized fingerprint table")
    assert(!d26.contains("winnow_fingerprints") && !d26.contains("WinnowFingerprints"),
      "the winnowing kernel must not re-run downstream of the checkpoint")
    assert(!d26.contains("CartesianProduct"))
    // d31 aligned runs: the posting join is a hash equi-join; run detection
    // windows partition by (i, j, diag) — no corpus-wide window, never a
    // nested loop
    val d31 = planString(run("d31_aligned_run"))
    assert(!d31.contains("CartesianProduct") &&
      !d31.contains("BroadcastNestedLoopJoin"))
    assert(d31.contains("hashpartitioning(i"),
      "run windows must distribute by the pair key")
    // d31 reads the cached island table, so the candidate self-join and the
    // run windows are checked on its direct build's plan
    val islands = graft.queries.MaterializedAlignedRuns.build(spark, sf("sf0.001"))
    islands.collect()
    val build = planString(islands)
    assert(build.contains("Window"), "run detection runs as window functions")
    assert(build.contains("hashpartitioning(i"),
      "run windows must distribute by the pair key")
    assert(!build.contains("CartesianProduct") &&
      !build.contains("BroadcastNestedLoopJoin"),
      "the posting join must stay a hash equi-join")
  }

  test("s22 hybrid RRF: fixed-k arms, keyed joins, no cartesian") {
    val s = planString(run("s22_hybrid_rrf"))
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("BroadcastHashJoin"),
      "the query sample must broadcast into both arms")
  }

  test("j20 range enrich: bounded bracket dim keeps BNLJ at any threshold") {
    // the 64-interval lookup is the one BroadcastNestedLoopJoin the
    // rule's stats gate correctly refuses to rewrite (a 64-entry
    // broadcast probe beats two explodes + shuffle); the bracket build
    // must never sort the dim source globally (rank selection instead)
    val base = planString(run("j20_range_enrich"))
    assert(!base.contains("CartesianProduct"))
    assert(base.contains("BroadcastNestedLoopJoin"),
      "tiny interval dim must stay on the broadcast nested loop")
    assert(!base.contains("Exchange SinglePartition, ORDER BY") &&
      !"ntile".r.findAllIn(base).exists(_ => true),
      "bracket floors must come from bounded rank selection, not a global ntile sort")
    // round 18: the bracket table is finished driver-side, so the join
    // consumes a ≤64-row LocalRelation. Before, the rewrite's three-branch
    // union referenced the bracket SUBTREE from two branches and executed
    // the whole rank selection twice per run; a LocalRelation the branches
    // duplicate is free. Under big×big simulation the rewrite still fires
    // and must stay result-identical. binSize is pinned to its default
    // here because the bin-cap filter on a LocalRelation folds STATICALLY:
    // a leaked tiny binSize (RangeJoinRuleSpec uses 10) would make every
    // bracket exceed maxBinsPerRow and prune the bin branch at plan time.
    val rows = SparkEntry.queries("j20_range_enrich")(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val bKey = "spark.graft.rangeJoin.binSize"
    val prev = spark.conf.getOption(key)
    val bPrev = spark.conf.getOption(bKey)
    spark.conf.set(key, "-1") // big×big: nothing passes the stats gate
    spark.conf.set(bKey, "3600")
    try {
      val df = SparkEntry.queries("j20_range_enrich")(spark, sf("sf0.001"))
      df.collect()
      val s = planString(df)
      // the rewrite's three-branch union keeps two (empty) nested-loop
      // fallback branches by design — what must appear is the bin key
      // driving a shuffled equi-join for the small×small branch
      assert(s.contains("__graft_bin"),
        "big×big interval lookup must re-plan through RangeJoinRule's bin key")
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"),
        "the binned branch must be an equi-join, not a nested loop")
      assert(!s.contains("CartesianProduct"))
      assert(df.collect().map(_.toSeq).toSeq == rows,
        "RangeJoinRule rewrite must be result-identical")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      bPrev match {
        case Some(v) => spark.conf.set(bKey, v)
        case None => spark.conf.unset(bKey)
      }
    }
  }

  test("r07 cube computes all grouping sets in one pass (Expand, no re-scan)") {
    val s = planString(run("r07_cube_datacard"))
    assert(s.contains("Expand"),
      "CUBE must expand grouping sets from a single scan, not union re-scans")
    // one detail block per distinct scan node (the tree mentions a node twice
    // under AQE: Final Plan + Initial Plan)
    assert("Location: InMemoryFileIndex".r.findAllIn(s).size <= 1,
      "one documents scan feeds all four grouping levels")
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      "partial + final HashAggregate over the expanded rows")
  }
}
