package graft

import org.apache.spark.sql.DataFrame

import graft.config.Scale
import graft.queries._

/** The graft.scale.* conf layer: every scale knob defaults to the value the
  * committed oracles are pinned to, and an override re-scales the DataFrame
  * plan AND the generated DuckDB oracle SQL together — a production profile
  * is a session setting, never a code edit, and can never desync the two
  * sides of a verify run.
  *
  * The seven "…Cache changes cost attribution" tests keep the names of the
  * switches that once gated each session-cached table; the cache is now
  * always on, and each pins its tables equal to their direct builds.
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

  private val dir = sf("sf0.001")

  /** A session-cached table equals its direct build: `exceptAll` is empty
    * both ways (a multiset comparison in which arrays compare element by
    * element, so element order must survive the parquet round-trip).
    */
  private def assertReadThrough(tag: String, cached: DataFrame,
                                built: DataFrame): Unit = {
    assert(cached.columns.toSeq == built.columns.toSeq, s"$tag columns")
    assert(built.count() > 0, s"$tag is empty at sf0.001: the parity shows nothing")
    assert(cached.exceptAll(built).isEmpty, s"$tag: cached rows missing from the build")
    assert(built.exceptAll(cached).isEmpty, s"$tag: built rows missing from the cache")
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
  }

  test("lshBandsCache changes cost attribution, never results") {
    // s02/s06/s05/d11 share one materialized banded sign-LSH index: the
    // quantized-long vectors, IEEE-double norms and (band, value) bucket
    // keys must survive the parquet round-trip exactly
    assertReadThrough("lshbands",
      MaterializedLshBands.bands(spark, dir), MaterializedLshBands.build(spark, dir))
  }

  test("graphEdgeCache changes cost attribution, never results") {
    // the graph pack and the dedup pair consumers share one materialized
    // (i, j, jac) table; the jac doubles must round-trip exactly
    assertReadThrough("pairs",
      MaterializedPairs.nearDup(spark, dir), MaterializedPairs.build(spark, dir))
  }

  test("shingleCache changes cost attribution, never results") {
    // seven dedup pipelines (and the pair-table build) start from the one
    // (doc_id, lang, source, s3) table, and d02/d23/d25 from one overlap
    // pair table; the s3 arrays must keep their element order (d27's
    // prefix filter reads it)
    assertReadThrough("sh3",
      MaterializedShingles.s3(spark, dir), MaterializedShingles.build(spark, dir))
    val maxDf = Scale.maxDf
    assertReadThrough("ovp", DedupQueries.overlapPairs(spark, dir, maxDf),
      DedupQueries.overlapPairsFrom(MaterializedShingles.build(spark, dir), maxDf))
  }

  test("groundTruthCache changes cost attribution, never results") {
    // s05/s14/s16 share the quantized vectors, the md5-ordered query
    // sample, the exact top-3 truth and its 1-row totals
    val cached = SimilarityQueries.recallBase(spark, dir)
    val built = SimilarityQueries.recallBuild(spark, dir)
    Seq("rbvecs" -> (cached._1, built._1), "rbids" -> (cached._2, built._2),
      "rbexact" -> (cached._3, built._3), "rbbase" -> (cached._4, built._4))
      .foreach { case (tag, (c, b)) => assertReadThrough(tag, c, b) }
  }

  test("kmeansCache changes cost attribution, never results") {
    // s10/s11/d15 share one Lloyd fit: vec_id, quantized-long vectors,
    // c_id and the exact-int d2
    assertReadThrough("kmcells",
      MaterializedKMeans.cells(spark, dir), MaterializedKMeans.build(spark, dir))
  }

  test("alignCache changes cost attribution, never results") {
    // d31/d33 share one (i, j, diag, rl, pa0, pa1) island table
    assertReadThrough("alignruns", MaterializedAlignedRuns.islands(spark, dir),
      MaterializedAlignedRuns.build(spark, dir))
  }

  test("ivfCache changes cost attribution, never results") {
    // s04/s05/s21 share the one-row codebook (re-aggregated from its
    // cached exploded rows, c_id-sorted) and the corpus cell assignment
    val cents = MaterializedIvfCells.buildCodebook(spark, dir)
    assertReadThrough("ivfcents", MaterializedIvfCells.codebook(spark, dir), cents)
    assertReadThrough("ivfcells", MaterializedIvfCells.assigned(spark, dir),
      MaterializedIvfCells.buildAssigned(spark, dir, cents))
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
