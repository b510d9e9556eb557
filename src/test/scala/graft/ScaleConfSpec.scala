package graft

import graft.config.Scale

/** The graft.scale.* conf layer: every scale knob defaults to the value the
  * committed oracles are pinned to, and an override re-scales the DataFrame
  * plan AND the generated DuckDB oracle SQL together — a production profile
  * is a session setting, never a code edit, and can never desync the two
  * sides of a verify run.
  */
class ScaleConfSpec extends SparkSpecBase {

  private def withScale[A](kv: (String, String)*)(f: => A): A = {
    spark // force session creation so conf.set has a target
    kv.foreach { case (k, v) => spark.conf.set(s"spark.graft.scale.$k", v) }
    try f
    finally kv.foreach { case (k, _) =>
      spark.conf.unset(s"spark.graft.scale.$k")
    }
  }

  test("defaults are the committed-oracle values") {
    spark // the knobs read the active session's conf; defaults need none set
    assert(Scale.queryK == 50)
    assert(Scale.pairSampleK == 100)
    assert(Scale.ivfK == 64)
    assert(Scale.codeK == 8)
    assert(Scale.kmK == 8)
    assert(Scale.kmIters == 2)
    assert(Scale.cellQuota == 10)
    assert(Scale.maxDf == 1000)
    assert(!Scale.graphEdgeCache)
    assert(!Scale.shingleCache)
    assert(!Scale.kmeansCache)
    assert(!Scale.alignCache)
    assert(!Scale.ivfCache)
    assert(!Scale.lshBandsCache)
  }

  test("lshBandsCache changes cost attribution, never results") {
    // s02/s06/s05/d11 share one materialized banded sign-LSH index when
    // the knob is on; the committed oracles run with it OFF — this parity
    // pins that the quantized-long vectors, IEEE-double norms and the
    // (band, value) bucket keys reproduce all four consumers' results
    // bit-identically through the parquet round-trip (s05's recall doubles
    // and d11's component census included)
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("s02_ann_lsh", "s06_ann_lsh_mp", "s05_ann_recall",
      "d11_semantic_dedup")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"LSH pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("lshBandsCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
  }

  test("graphEdgeCache changes cost attribution, never results") {
    // the bench sweep runs the graph AND dedup packs against one
    // materialized pair table per session; the committed oracles run with
    // the knob OFF — this parity pins that the two paths are bit-identical
    // on both a graph consumer and the dedup consumers that read the full
    // (i, j, jac) schema (d03 exposes the jac doubles directly, so it also
    // pins that they round-trip the parquet cache exactly)
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("g02_triangles", "g05_assortativity",
      "d03_minhash_lsh", "d18_soft_dedup_weights")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"graph pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("graphEdgeCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
  }

  test("shingleCache changes cost attribution, never results") {
    // seven dedup pipelines (and the pair-table build) start from the one
    // session-materialized (doc_id, lang, source, s3) table when the knob
    // is on; the committed oracles run with it OFF — this parity pins that
    // the parquet round-trip is bit-identical on consumers covering the
    // jac doubles (d02), the multi-width band sweep (d23), the
    // prefix-filter arrays (d27, array_intersect is element-ORDER
    // sensitive in cost, order must survive the round-trip), and the
    // source-keyed signature rollup (d29)
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("d02_ngram_jaccard", "d23_band_sweep", "d25_containment",
      "d27_prefix_filter_join", "d29_source_overlap")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"dedup pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("shingleCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
    // and composed with the pair-table cache (the full bench profile):
    // a MaterializedPairs consumer built FROM the cached shingle table
    val both = withScale("shingleCache" -> "1", "graphEdgeCache" -> "1") {
      run("d03_minhash_lsh")
    }
    assert(both == run("d03_minhash_lsh"), "d03 under both knobs != plain")
  }

  test("groundTruthCache changes cost attribution, never results") {
    // s05/s14/s16 share one materialized exact-ground-truth scoring pass
    // when the knob is on; the committed oracles run with it OFF — this
    // parity pins that the quantized-long vectors, the md5-ordered query
    // sample, and the recall doubles all round-trip the parquet cache
    // bit-identically across all three consumers
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("s05_ann_recall", "s14_mrl_recall", "s16_jl_recall")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"similarity pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("groundTruthCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
    // and the FULL bench profile — all three session caches on at once
    // (the exact conf the sweep runs under): one recall consumer and one
    // pair-table consumer must still match their committed-oracle runs
    val full = withScale("groundTruthCache" -> "1", "shingleCache" -> "1",
      "graphEdgeCache" -> "1") {
      Seq("s14_mrl_recall", "d03_minhash_lsh").map(n => n -> run(n)).toMap
    }
    assert(full("s14_mrl_recall") == run("s14_mrl_recall"),
      "s14 under the full bench profile != plain")
    assert(full("d03_minhash_lsh") == run("d03_minhash_lsh"),
      "d03 under the full bench profile != plain")
  }

  test("kmeansCache changes cost attribution, never results") {
    // s10/s11/d15 share one materialized Lloyd fit when the knob is on;
    // the committed oracles run with it OFF — this parity pins that the
    // assignment (vec_id, quantized-long vectors, c_id, exact-int d2)
    // round-trips the parquet cache bit-identically across the cell
    // census (d2 sums + mean doubles), the balanced sample (md5-ranked
    // per-cell quota), and the SemDeDup eviction (within-cell cosine)
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("s10_kmeans", "s11_cluster_sample", "d15_semdedup")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"k-means pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("kmeansCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
  }

  test("alignCache changes cost attribution, never results") {
    // d31/d33 share one materialized island table when the knob is on;
    // the committed oracles run with it OFF — this parity pins that the
    // (i, j, diag, rl, pa0, pa1) longs round-trip the parquet cache
    // bit-identically through both the per-pair max (d31) and the
    // span/interval-union stage (d33, incl. its evict_frac doubles)
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    val names = Seq("d31_aligned_run", "d33_substring_evict")
    names.foreach(n => assert(SparkEntry.queries.contains(n),
      s"aligned-run pack name $n moved — update this spec"))
    val off = names.map(n => n -> run(n)).toMap
    val on = withScale("alignCache" -> "1") {
      names.map(n => n -> run(n)).toMap
    }
    names.foreach { n =>
      assert(on(n) == off(n), s"$n cached != uncached")
    }
  }

  test("ivfCache changes cost attribution, never results") {
    // s04/s21 share one materialized IVF index when the knob is on; the
    // committed oracles run with it OFF — this parity pins that the
    // quantized-long vectors, IEEE-double norms, the parquet-cached cell
    // assignment, and the re-aggregated one-row codebook all reproduce
    // both the search results and the recall-sweep doubles bit-identically
    def run(name: String) = SparkEntry.queries(name)(spark, sf("sf0.001"))
      .collect().map(_.toSeq).toSeq
    // s05's IVF arm reads the same index; the bench runs it with the
    // banded-LSH cache on as well, so its cached side turns on both
    val knobs = Map(
      "s04_ann_ivf" -> Seq("ivfCache" -> "1"),
      "s21_nprobe_sweep" -> Seq("ivfCache" -> "1"),
      "s05_ann_recall" -> Seq("ivfCache" -> "1", "lshBandsCache" -> "1"))
    knobs.keys.foreach(n => assert(SparkEntry.queries.contains(n),
      s"IVF pack name $n moved — update this spec"))
    knobs.foreach { case (n, kv) =>
      val off = run(n)
      assert(withScale(kv: _*)(run(n)) == off, s"$n cached != uncached")
    }
  }

  test("queryK override re-scales DataFrame result and oracle SQL together") {
    withScale("queryK" -> "10") {
      val df = SparkEntry.queries("s01_knn_bruteforce")(spark, sf("sf0.001"))
      assert(df.select("query_id").distinct().count() == 10)
      assert(SparkEntry.oracleSql("s01_knn_bruteforce").contains("LIMIT 10"),
        "the oracle's sample CTE must read the same knob")
    }
    // and back to the pinned default once unset
    assert(SparkEntry.oracleSql("s01_knn_bruteforce").contains("LIMIT 50"))
  }

  test("kmK/kmIters override follows through the whole k-means CTE chain") {
    withScale("kmK" -> "4", "kmIters" -> "3") {
      val s10 = SparkEntry.oracleSql("s10_kmeans")
      assert(s10.contains("LIMIT 4"), "seed CTE must read kmK")
      assert(s10.contains("FROM asg3"), "final census must read asg<kmIters>")
      assert(s10.contains("cent3"), "the chain must grow one round")
      assert(SparkEntry.oracleSql("d15_semdedup").contains("FROM asg3"),
        "d15's SemDeDup oracle shares the same chain")
      val out = SparkEntry.queries("s10_kmeans")(spark, sf("sf0.001")).collect()
      assert(out.nonEmpty && out.length <= 4, "at most kmK non-empty cells")
    }
  }

  test("off-active-session reads fall back to the default session; no-session latches") {
    import org.apache.spark.sql.SparkSession
    spark // ensure the suite session exists on this thread
    Scale.resetFallbackLatch()
    assert(Scale.queryK == 50 && !Scale.sawOffSessionFallback,
      "an on-session read must not latch")
    // A thread with NO active session (the real hazard is a pool thread
    // created before any session existed, simulated here by clearing the
    // inherited slot) must still see a conf override through the JVM-global
    // DEFAULT session — this is what keeps a production
    // spark.graft.scale.* profile visible from exchange/executor pool
    // threads — and must not latch the fallback flag.
    withScale("maxDf" -> "77") {
      var offValue = -1
      val t = new Thread(() => {
        SparkSession.clearActiveSession()
        offValue = Scale.maxDf
      })
      t.start(); t.join()
      assert(offValue == 77,
        "off-active-thread read must honor the override via the default session")
      assert(!Scale.sawOffSessionFallback,
        "a default-session read is NOT a fallback")
    }
    // Only when no session is reachable at all does the knob degrade to its
    // test default — loudly (stderr + latch).
    val dflt = SparkSession.getDefaultSession
    var noneValue = -1
    val t2 = new Thread(() => {
      SparkSession.clearActiveSession()
      try {
        SparkSession.clearDefaultSession()
        noneValue = Scale.maxDf
      } finally dflt.foreach(SparkSession.setDefaultSession)
    })
    t2.start(); t2.join()
    assert(noneValue == 1000, "no-session read returns the test default")
    assert(Scale.sawOffSessionFallback, "no-session read must latch the flag")
    Scale.resetFallbackLatch()
  }

  test("cellQuota override bounds s11's per-cell sample on both sides") {
    withScale("cellQuota" -> "3") {
      val out = SparkEntry.queries("s11_cluster_sample")(spark, sf("sf0.001"))
        .groupBy("c_id").count().collect()
      assert(out.nonEmpty && out.forall(_.getLong(1) <= 3L))
      assert(SparkEntry.oracleSql("s11_cluster_sample").contains("rk <= 3"))
    }
  }
}
