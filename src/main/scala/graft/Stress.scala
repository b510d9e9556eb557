package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.harness.StressCorpus
import graft.operators.Dedup

/** `SPARK_GRAFT_BENCH_MODE=stress` — the empirical scale check: inflate
  * the documents/embeddings corpus ×N with controlled duplicate structure
  * ([[StressCorpus]]), run the heavy dedup/ANN/text pack at ×1 and ×N, and
  * record per-query wall time, rows/s, shuffle read/write, spill, and the
  * time-scaling ratio (tN / (t1 · N)) — near-linear means ≤ 1.5.
  *
  * The embedding k-means queries (s10/s11/d15) run the ×N arm under the
  * DOCUMENTED production profile (`spark.graft.scale.kmK` raised ×N so the
  * cell size stays constant — the within-cell pair join is quadratic in
  * cell size by design, and holding cells constant while the corpus grows
  * is the published SemDeDup sizing rule). The knob goes through the same
  * `graft.scale.*` conf layer a production deployment would use, so the
  * stress run exercises the real mechanism, not a test shim.
  *
  * A skew arm measures keep-first dedup under a hot key (10% of all rows
  * on ONE key): `keepFirst` (one WindowGroupLimit pass, partial before the
  * key shuffle) vs `keepFirstSalted` (two passes, salted key first) vs
  * `rankDuplicates` filtered to the first occurrence — committed evidence
  * for which plan survives a dirty-data hot key at 100 TB, whichever way it
  * lands.
  *
  * Timing: min of `runs` executions per arm — the box oscillates between
  * clean and 5-10× slow regimes on minute timescales (see Bench), and for
  * a RATIO of intrinsic costs the minimum of separated windows is the
  * better estimator on both sides (the slow regime only ever adds time).
  * Every run lands in the artifact.
  */
object Stress {

  /** Per-stage shuffle/spill tally, reset around each measured query. */
  private final class StageTally extends SparkListener {
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val spilled = new AtomicLong
    val peakMemSum = new AtomicLong
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spilled.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        peakMemSum.addAndGet(m.peakExecutionMemory)
      }
    }
    def reset(): Unit = {
      shufWrite.set(0); shufRead.set(0); spilled.set(0); peakMemSum.set(0)
    }
  }

  /** (query, table it scales with) — the pack the round-7 verdict named.
    * Coverage rule (StressCoverageSpec): the pack must contain every query
    * whose committed clean bench median (results/bench_clean.json) exceeds
    * 1.5 s — expensive queries are exactly the ones whose scaling behavior
    * needs empirical evidence, and d26's quadratic selection shipped
    * precisely because it was expensive but unmeasured.
    */
  private[graft] val heavyPack: Seq[(String, String)] = Seq(
    "d02_ngram_jaccard" -> "documents",
    "d03_minhash_lsh" -> "documents",
    "d07_neardup_clusters" -> "documents",
    "d08_corpus_dedup" -> "documents",
    "d15_semdedup" -> "embeddings",
    "s18_mmr_diversity" -> "embeddings",
    "s02_ann_lsh" -> "embeddings",
    "s10_kmeans" -> "embeddings",
    "s11_cluster_sample" -> "embeddings",
    "t22_tfidf_terms" -> "documents",
    "t24_ngram_novelty" -> "documents",
    // graph pack: the 3-way triangle self-join is the natural superlinear
    // suspect (pairs^1.5 worst case); PageRank is 3 equi-join iterations
    "g01_pagerank" -> "documents",
    "g02_triangles" -> "documents",
    // the O(len²)-per-pair Levenshtein verify: cost scales with CANDIDATE
    // PAIRS × text length² — the arm that proves the banded candidate set
    // (not the corpus) is what the verify stage pays for
    "d24_edit_verify" -> "documents",
    // the lossless prefix-filtered all-pairs join: candidate volume is the
    // quantity under test (prefixes hold each doc's rarest shingles, so
    // the prefix-token join must NOT go quadratic as duplicates multiply)
    "d27_prefix_filter_join" -> "documents",
    // round-9 additions (rule: any query whose sf0.1 median exceeds ~1 s
    // joins the pack in the same commit — d26's quadratic selection shipped
    // precisely because it wasn't here):
    "d25_containment" -> "documents",
    "d26_winnowing" -> "documents",
    "d31_aligned_run" -> "documents",
    "s20_ivfpq" -> "embeddings",
    "s22_hybrid_rrf" -> "embeddings",
    "t29_rake_keywords" -> "documents",
    "t32_pmi_collocations" -> "documents",
    "t35_bigram_xent" -> "documents",
    // m-pack scaling suspect: the dHash band self-join over synthesized
    // PNGs (media density is 1/31 of documents, so the candidate join is
    // the cost driver, not the codec)
    "m11_phash_pairs" -> "documents",
    "g08_kcore_peel" -> "documents",
    // round-11 additions: the coverage rule is now a SPEC
    // (StressCoverageSpec: pack ⊇ every query whose committed clean bench
    // median exceeds 1.5 s) instead of a convention — these four were the
    // committed >1.5 s names outside the pack
    "d23_band_sweep" -> "documents",
    "s05_ann_recall" -> "embeddings",
    "r26_basket_lift" -> "lineitem",
    "g04_component_profile" -> "documents",
    // ...and the round-11 clean capture (results/bench_clean.json) put
    // these four over the 1.5 s line too
    "q20_sole_failing_supplier" -> "lineitem",
    "q23_min_cost_supplier" -> "lineitem",
    "d18_soft_dedup_weights" -> "documents",
    "s14_mrl_recall" -> "embeddings",
    // the round-11 re-capture after the pair-table/shared-scan wins put
    // t39 (1.96 s) over the line — the DSIR bucket model is two corpus
    // passes, the natural linear-scaling check
    "t39_dsir_weights" -> "documents",
    // round-17: the two gate-clean windows of the promotion day (131.3 s
    // and the promoted 126.8 s, both slower regimes than r16's 119.5 s
    // capture) put these four over the 1.5 s line at least once — s13's
    // ADC scan, d11's cell-cosine pass and q26's two-level share join
    // scale with their corpora, q17's group-having join with lineitem
    "s13_adc_topk" -> "embeddings",
    "d11_semantic_dedup" -> "embeddings",
    "q17_large_volume_customer" -> "lineitem",
    "q26_market_share" -> "lineitem",
    // round-16: the exact-substring eviction pass shares d31's df-capped
    // candidate machinery — its ×N arm proves candidate (not corpus)
    // scaling for the span/interval-union stage too
    "d33_substring_evict" -> "documents",
    // ...and the round-16 promoted clean capture (119.5 s, a slower box
    // regime than round 15's window) put these four over the 1.5 s line
    "d20_contamination_runs" -> "documents",
    "q29_priority_counts" -> "lineitem",
    "s04_ann_ivf" -> "embeddings",
    "t41_budget_selection" -> "documents",
    // round-18: the new no-equi-key interval lookup joins the pack the
    // round it ships (its 64-interval broadcast probe costs O(|fact|·64)
    // by design — the ×N arm proves that constant survives corpus growth)
    "j20_range_enrich" -> "lineitem")

  /** Queries whose ×N arm runs under the cell-size-constant k-means
    * production profile.
    */
  private val kmScaled = Set("d15_semdedup", "s10_kmeans", "s11_cluster_sample")

  private def once(f: => Unit): Double = {
    val t0 = System.nanoTime()
    try { f; (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"[stress] run failed: $e"); -1.0 }
  }

  private def minOk(rs: Seq[Double]): Double = {
    val ok = rs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  def main(args: Array[String]): Unit = run(GraftSession.local("graft-stress"))

  def run(spark: SparkSession): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_STRESS_FACTOR", "20").toInt
    // executions per measure call; window separation comes from PASSES (two
    // sweeps over the whole pack), so one run per call is the default
    val runs = sys.env.getOrElse("SPARK_GRAFT_STRESS_RUNS", "1").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT",
      "results/stress_latest.json")
    // SPARK_GRAFT_STRESS_SKEW_ONLY=1: skip corpus + pack, measure only the
    // skew arm (for sweeping hot-key shares without re-paying the pack)
    val skewOnly = sys.env.get("SPARK_GRAFT_STRESS_SKEW_ONLY").contains("1")
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)
    // session + parquet reader warmup, as in Bench
    spark.range(1000).selectExpr("sum(id)").collect()

    val stressDir = java.nio.file.Files
      .createTempDirectory("graft_stress").toString
    // the inflated corpus is GBs at ×100 — delete it when the run ends
    // (and on abnormal exit), like the funnel arm's dirs; repeated stress
    // invocations must not accumulate tmp disk
    def sweepStressDir(): Unit =
      try {
        val p = new org.apache.hadoop.fs.Path(stressDir)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      } catch { case _: Throwable => () } // best-effort
    val stressSweepHook = new Thread(() => sweepStressDir(), "graft-stress-sweep")
    Runtime.getRuntime.addShutdownHook(stressSweepHook)
    val tCorpus =
      if (skewOnly) 0.0
      else once(StressCorpus.write(spark, baseDir, stressDir, factor))
    val stressRows: Map[String, Long] =
      if (skewOnly) Map("documents" -> 0L, "embeddings" -> 0L, "lineitem" -> 0L)
      else {
        val tables = Seq("documents", "embeddings", "lineitem")
        val baseRows = tables.map(t => t -> Tables.rowCount(spark, baseDir, t)).toMap
        val sr = tables.map(t => t -> Tables.rowCount(spark, stressDir, t)).toMap
        require(baseRows.forall { case (t, c) => sr(t) == c * factor },
          s"inflation must be exact: $baseRows -> $sr @ x$factor")
        System.err.println(f"[stress] corpus x$factor built in $tCorpus%.1f s: " +
          s"${sr("documents")} docs, ${sr("embeddings")} vecs")
        sr
      }

    val kmKnob = "spark.graft.scale.kmK"
    val kmBase = graft.config.Scale.kmK

    def measure(name: String, dir: String, scaleKm: Boolean)
      : (Seq[Double], Long, Long, Long, Long, Long) = {
      if (scaleKm) spark.conf.set(kmKnob, (kmBase * factor).toString)
      else spark.conf.unset(kmKnob)
      try {
        var outRows = -1L // result cardinality: pair-reporting queries'
        // intrinsic cost is Ω(output), and the stress corpus multiplies
        // true-pair volume quadratically in duplicate-cluster size — the
        // artifact must let a reader divide time growth by output growth
        val rs = (1 to runs).map { i =>
          if (i == runs) tally.reset() // metrics captured on the LAST run
          // each execution pays its own session-table builds (pairs,
          // shingles, k-means, ...): the ratios are per-query scaling costs
          graft.queries.SessionCache.clear(spark)
          val t = once {
            outRows = SparkEntry.queries(name)(spark, dir).count()
          }
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
          t
        }
        Thread.sleep(300) // let the listener bus drain the final stages
        (rs, tally.shufWrite.get, tally.shufRead.get, tally.spilled.get,
          tally.peakMemSum.get, outRows)
      } finally spark.conf.unset(kmKnob)
    }

    // TWO full passes over the pack, minutes apart by construction (pass 2
    // starts only after every query ran once): this box's slow regime
    // persists for minutes, so `runs` back-to-back executions of one query
    // can ALL land inside one slow window (observed: four single-pass ×20
    // artifacts in a row each with a different contaminated row). Per-arm
    // min across the union of both passes estimates intrinsic cost the same
    // way the sweep's second-chance re-measure does; every run is recorded.
    val passes = sys.env.getOrElse("SPARK_GRAFT_STRESS_PASSES", "2").toInt
    // SPARK_GRAFT_STRESS_ONLY (comma-separated names): restrict the pack
    // for targeted local re-measurement after a plan change — the full-pack
    // artifact remains the committed record
    val onlyQ = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val pack =
      if (skewOnly) Seq.empty
      else onlyQ match {
        case Some(names) => heavyPack.filter(kv => names(kv._1))
        case None => heavyPack
      }
    val measured = (1 to passes).map { p =>
      System.err.println(s"[stress] pack pass $p/$passes")
      pack.map { case (name, _) =>
        val b = measure(name, baseDir, scaleKm = false)
        val s = measure(name, stressDir, kmScaled.contains(name))
        name -> (b, s)
      }.toMap
    }
    val rows = pack.map { case (name, table) =>
      val b = measured.flatMap(_(name)._1._1)
      val s = measured.flatMap(_(name)._2._1)
      val (_, sw, sr, sp, pm, _) = measured.last(name)._2
      // output cardinality from the FIRST pass that measured it (the count
      // is deterministic, so any successful run's value is THE value) — the
      // last pass alone would lose it to a single transient failure and
      // silently degrade the superlinear flag to time-ratio-only
      val outN = measured.map(_(name)._2._6).find(_ >= 0).getOrElse(-1L)
      val out1 = measured.map(_(name)._1._6).find(_ >= 0).getOrElse(-1L)
      if (out1 < 0 || outN < 0)
        System.err.println(s"[stress] $name rows_out UNAVAILABLE " +
          s"(base=$out1 stress=$outN) — cost-per-output growth degrades " +
          "to the raw time ratio for this query")
      val t1 = minOk(b)
      val tN = minOk(s)
      val ratio = if (t1 > 0 && tN > 0) tN / (t1 * factor) else -1.0
      // cost-per-output growth: pair-reporting queries are Ω(output), and
      // the stress corpus multiplies TRUE pair volume quadratically in
      // duplicate-cluster size — m11's ×50 output grows 2470× while its
      // time grows 150×. Time ratio alone would flag that as superlinear;
      // what actually indicts a plan is unit cost RISING: tN/outN vs
      // t1/out1. (A quadratic ALGORITHM with flat output — old d26/d27 —
      // still trips this: output flat ⇒ cpo == time growth.)
      val cpo =
        if (t1 > 0 && tN > 0 && out1 > 0 && outN > 0)
          (tN / outN) / (t1 / out1)
        else -1.0
      val rps = if (tN > 0) math.round(stressRows(table) / tN) else -1L
      System.err.println(f"[stress] $name%-22s x1=${t1}%.2fs xN=${tN}%.2fs " +
        f"ratio=${ratio}%.2f cpo=${cpo}%.2f rows/s=$rps%d " +
        f"out=$out1%d->$outN%d shufW=${sw / 1e6}%.0fMB")
      (name, table, b, s, t1, tN, ratio, cpo, rps, sw, sr, sp, pm, out1, outN)
    }

    // ---- skew arm: hot key owning `1/skewMod` of all rows ----------------
    val nSkew = sys.env.getOrElse("SPARK_GRAFT_STRESS_SKEW_ROWS", "20000000").toLong
    val skewMod = sys.env.getOrElse("SPARK_GRAFT_STRESS_SKEW_MOD", "10").toLong
    def skewFrame() = spark.range(nSkew).select(
      when(pmod(col("id"), lit(skewMod)) === 0, lit(0L)).otherwise(col("id")).as("k"),
      col("id").as("row_id"),
      timestamp_millis(lit(1700000000000L) +
        pmod(col("id") * lit(2654435761L), lit(86400000L))).as("ts"),
      md5(col("id").cast("string")).as("payload"))
    // arms interleaved across passes (plain, salted, ranked, plain, ...) so
    // one slow window cannot own all runs of a single arm
    val nKept = nSkew - nSkew / skewMod + 1
    def plainOnce() = once {
      require(Dedup.keepFirst(skewFrame(), Seq("k"), col("ts"), col("row_id"))
        .count() == nKept)
    }
    def saltedOnce() = once {
      require(Dedup.keepFirstSalted(skewFrame(), Seq("k"), col("ts"),
        col("row_id"), 32).count() == nKept)
    }
    def rankedOnce() = once {
      require(Dedup.rankDuplicates(skewFrame(), Seq("k"), col("ts"), col("row_id"))
        .filter(col("occurrence") === 1).count() == nKept)
    }
    val skewRuns = (1 to math.max(runs, passes)).map(_ =>
      (plainOnce(), saltedOnce(), rankedOnce()))
    val tPlain = skewRuns.map(_._1)
    val tSalted = skewRuns.map(_._2)
    val tRanked = skewRuns.map(_._3)
    System.err.println(f"[stress] skew n=$nSkew keepFirst=${minOk(tPlain)}%.2fs " +
      f"salted=${minOk(tSalted)}%.2fs ranked=${minOk(tRanked)}%.2fs")

    // ---- join-skew arm: shuffle join with ONE hot probe key owning
    // 1/skewMod of all probe rows, AQE skew-join ON vs OFF — the committed
    // evidence for the third skew mitigation the README claims (dedup skew
    // is covered above; this is the join side). Broadcast is disabled so
    // the join MUST shuffle both sides (the 100 TB fact-fact case); the
    // skew thresholds are lowered to match the arm's data size the same
    // way a production conf sizes them to the cluster. Arms interleave
    // across passes like the dedup skew arm.
    val nJoin = sys.env.getOrElse("SPARK_GRAFT_STRESS_JOIN_ROWS", "8000000").toLong
    def probe() = spark.range(nJoin).select(
      when(pmod(col("id"), lit(skewMod)) === 0, lit(0L)).otherwise(col("id")).as("k"),
      md5(col("id").cast("string")).as("p"))
    def build() = spark.range(nJoin).select(col("id").as("k"),
      md5(concat(col("id").cast("string"), lit("b"))).as("b"))
    def joinOnce(skewOn: Boolean): Double = {
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      try once { require(probe().join(build(), "k").count() == nJoin) }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val joinRuns = (1 to math.max(runs, passes)).map(_ =>
      (joinOnce(true), joinOnce(false)))
    val tJoinOn = joinRuns.map(_._1)
    val tJoinOff = joinRuns.map(_._2)
    System.err.println(f"[stress] joinskew n=$nJoin " +
      f"aqeOn=${minOk(tJoinOn)}%.2fs aqeOff=${minOk(tJoinOff)}%.2fs")

    // ---- funnel-skew arm: ONE power user owning 1/skewMod of all events —
    // the behavioral-pack hazard the round-11 verdict named. r27's former
    // chain join materialized V·C (view, click) pairs per user inside the
    // 24 h window — quadratic for a bot user — and j05's former left-semi
    // paid C·P predicate evaluations inside one task; both now run as
    // per-user window frames, so the hot user costs one sorted run. The
    // arm times r27/j05/r28 on a uniform corpus and on one where user 0
    // owns 1/skewMod of all rows — same size, same type mix, same time
    // spread — and reports hot/uniform ratios (the window form's honest
    // ceiling is the hot partition's share of one executor, NOT a
    // quadratic blowup; ratios land in the artifact either way).
    val nFun = sys.env.getOrElse("SPARK_GRAFT_STRESS_FUNNEL_ROWS",
      "4000000").toLong
    val funnelQs = Seq("r27_window_funnel", "j05_conversion_funnel",
      "r28_retention", "r29_strict_funnel", "r30_sequence_count",
      "r31_dedup_funnel", "r32_sequence_match",
      "r33_strict_increase_funnel", "r35_sequence_next_node",
      "r36_sequence_prev_node")
    def funnelDir(hot: Boolean): String = {
      val d = java.nio.file.Files
        .createTempDirectory(s"graft_funnel_${if (hot) "hot" else "uni"}")
        .toString
      val uid =
        if (hot) when(pmod(col("id"), lit(skewMod)) === 0, lit(0L))
          .otherwise(pmod(col("id"), lit(100000L)))
        else pmod(col("id"), lit(100000L))
      spark.range(nFun).select(
          col("id").as("event_id"), uid.as("user_id"),
          element_at(
            array(lit("view"), lit("click"), lit("purchase"),
              lit("signup"), lit("other")),
            (pmod(hash(col("id"), lit("#funnel")), lit(5)) + 1).cast("int"))
            .as("event_type"),
          timestamp_millis(lit(1700000000000L) +
            pmod(col("id") * lit(2654435761L), lit(30L * 86400000L))).as("ts"),
          lit(1L).as("value"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      d
    }
    val (funnelRows, funnelRatios) =
      if (nFun <= 0) (Seq.empty[(String, Double, Double)], Map.empty[String, Double])
      else {
        val uniDir = funnelDir(hot = false)
        val hotDir = funnelDir(hot = true)
        // the two 4M-row corpora are deleted when the arm completes (and by
        // a shutdown hook if it doesn't — repeated stress invocations must
        // not leak tmp disk; round-12 advice, mirroring the SessionCache
        // exit sweep)
        def sweepFunnelDirs(): Unit = Seq(uniDir, hotDir).foreach { d =>
          try {
            val p = new org.apache.hadoop.fs.Path(d)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case _: Throwable => () } // best-effort
        }
        val sweepHook = new Thread(() => sweepFunnelDirs(), "graft-funnel-sweep")
        Runtime.getRuntime.addShutdownHook(sweepHook)
        try {
        // arms interleaved (uniform, hot) per pass like the other skew arms
        val fRuns = (1 to math.max(runs, passes)).map { _ =>
          funnelQs.map { q =>
            val tu = once { SparkEntry.queries(q)(spark, uniDir).count() }
            val th = once { SparkEntry.queries(q)(spark, hotDir).count() }
            q -> (tu, th)
          }.toMap
        }
        val rows = funnelQs.map { q =>
          val tu = minOk(fRuns.map(_(q)._1))
          val th = minOk(fRuns.map(_(q)._2))
          (q, tu, th)
        }
        val ratios = rows.map { case (q, tu, th) =>
          q -> (if (tu > 0 && th > 0) th / tu else -1.0)
        }.toMap
        rows.foreach { case (q, tu, th) =>
          System.err.println(f"[stress] funnelskew $q%-22s uniform=$tu%.2fs " +
            f"hot=$th%.2fs ratio=${ratios(q)}%.2f")
        }
        (rows, ratios)
        } finally {
          sweepFunnelDirs()
          try Runtime.getRuntime.removeShutdownHook(sweepHook)
          catch { case _: IllegalStateException => () } // already shutting down
        }
      }

    // flagged superlinear = time ratio past the gate AND unit cost rising
    // (cpo unavailable → the time ratio decides alone, conservatively)
    val superlinear = rows.collect {
      case (n, _, _, _, _, _, r, cpo, _, _, _, _, _, _, _)
        if r > 1.5 && (cpo <= 0 || cpo > 1.5) => n }
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    val qJson = rows.map {
      case (n, t, b, s, t1, tN, ratio, cpo, rps, sw, sr, sp, pm, out1, outN) =>
        s""""$n":{"table":"$t","base_sec":$t1,"stress_sec":$tN,""" +
          s""""scaling_ratio":${f"$ratio%.3f"},""" +
          s""""cost_per_out_growth":${f"$cpo%.3f"},""" +
          s""""stress_rows_per_sec":$rps,""" +
          s""""rows_out_base":$out1,"rows_out_stress":$outN,""" +
          s""""shuffle_write_mb":${sw / 1000000},"shuffle_read_mb":${sr / 1000000},""" +
          s""""spill_mb":${sp / 1000000},"peak_mem_sum_mb":${pm / 1000000},""" +
          s""""runs_base":${arr(b)},"runs_stress":${arr(s)}}"""
    }.mkString("{", ",", "}")
    val skewJson =
      s"""{"rows":$nSkew,"hot_key_share":${1.0 / skewMod},""" +
        s""""keep_first_sec":${minOk(tPlain)},"salted_sec":${minOk(tSalted)},""" +
        s""""ranked_window_sec":${minOk(tRanked)},""" +
        s""""runs_keep_first":${arr(tPlain)},"runs_salted":${arr(tSalted)},""" +
        s""""runs_ranked":${arr(tRanked)}}"""
    val funnelJson = funnelRows.map { case (q, tu, th) =>
      s""""$q":{"uniform_sec":$tu,"hot_sec":$th,""" +
        s""""hot_ratio":${f"${funnelRatios(q)}%.3f"}}"""
    }.mkString("{", ",", "}")
    // hot/uniform past 3x means the hot user is costing more than its
    // partition share — the quadratic forms this arm guards against were
    // 2 orders past that
    val funnelFlags = funnelRatios.collect {
      case (q, r) if r > 3.0 || r < 0 => q }.toSeq.sorted
    val full = s"""{"metric":"stress","factor":$factor,"base_sf":"$baseDir",""" +
      s""""docs":${stressRows("documents")},"vecs":${stressRows("embeddings")},""" +
      s""""corpus_build_sec":$tCorpus,"kmk_stress":${kmBase * factor},""" +
      s""""queries":$qJson,"skew":$skewJson,"join_skew":{"rows":$nJoin,""" +
      s""""hot_key_share":${1.0 / skewMod},"aqe_on_sec":${minOk(tJoinOn)},""" +
      s""""aqe_off_sec":${minOk(tJoinOff)},"runs_on":${arr(tJoinOn)},""" +
      s""""runs_off":${arr(tJoinOff)}},""" +
      s""""funnel_skew":{"rows":$nFun,"hot_user_share":${1.0 / skewMod},""" +
      s""""queries":$funnelJson,""" +
      s""""flags":${funnelFlags.map("\"" + _ + "\"").mkString("[", ",", "]")}},""" +
      s""""superlinear":${superlinear.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""timing":"min over $passes separated passes x $runs runs per arm"}"""
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // compact stdout line (the driver tail-captures ~2000 chars)
    val short = rows.map { case (n, _, _, _, _, _, ratio, _, rps, _, _, _, _, _, _) =>
      s""""${n.takeWhile(_ != '_')}":[${f"$ratio%.2f"},$rps]"""
    }.mkString("{", ",", "}")
    val funnelShort = funnelRatios.toSeq.sortBy(_._1).map { case (q, r) =>
      s""""${q.takeWhile(_ != '_')}":${f"$r%.2f"}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","factor":$factor,"ratio_rps":$short,""" +
      s""""superlinear":${superlinear.size},""" +
      s""""funnel_skew_hot_ratio":$funnelShort,""" +
      s""""funnel_skew_flags":${funnelFlags.size},""" +
      s""""joinskew_on_sec":${f"${minOk(tJoinOn)}%.2f"},""" +
      s""""joinskew_off_sec":${f"${minOk(tJoinOff)}%.2f"},""" +
      s""""skew_keepfirst_sec":${f"${minOk(tPlain)}%.2f"},""" +
      s""""skew_salted_sec":${f"${minOk(tSalted)}%.2f"},""" +
      s""""skew_ranked_sec":${f"${minOk(tRanked)}%.2f"}}""")
    sweepStressDir()
    try Runtime.getRuntime.removeShutdownHook(stressSweepHook)
    catch { case _: IllegalStateException => () } // already shutting down
    spark.stop()
  }
}
