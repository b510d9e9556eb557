package graft

import org.apache.hadoop.fs.Path

import graft.queries.{MaterializedPairs, MaterializedShingles, SessionCache}

/** The session cache is the only path the seven shared tables take, so its
  * failure modes are pinned here: `clear` forces a real rebuild, dropped
  * blocks never change a result, and a lost cache file fails loudly.
  */
class SessionCacheSpec extends SparkSpecBase {

  private val dir = sf("sf0.001")

  private def exists(p: String): Boolean = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** The session's cache root as a plain path (input files carry `file:///`). */
  private def root: String = new Path(SessionCache.cacheRoot(spark)).toUri.getPath

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq

  test("clear: the next consumer rebuilds into a fresh root with the same rows") {
    val first = MaterializedShingles.s3(spark, dir)
    val before = first.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val oldRoot = root
    assert(first.inputFiles.nonEmpty && first.inputFiles.forall(_.contains(oldRoot)))
    SessionCache.clear(spark)
    assert(!exists(oldRoot), s"$oldRoot must be deleted by clear")
    val newRoot = root
    assert(newRoot != oldRoot, "a cleared session must mint a fresh root")
    val second = MaterializedShingles.s3(spark, dir)
    assert(second.inputFiles.nonEmpty && second.inputFiles.forall(_.contains(newRoot)),
      "the next consumer must write a fresh cache path")
    assert(second.orderBy("doc_id").collect().map(_.toSeq).toSeq == before)
  }

  test("a lost block or a lost cache file never yields wrong rows") {
    // 1. drop every persistent RDD between consumers, as Verify, Bench and
    //    graftbench do between queries: the cached table is parquet, so the
    //    next consumer recomputes nothing it cannot and returns the same rows
    val first = rows("d03_minhash_lsh")
    assert(first.nonEmpty)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(rows("d03_minhash_lsh") == first)

    // 2. delete the pair table's parquet files under the session root: the
    //    next consumer fails naming a missing file instead of reading less
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false")
    val files = MaterializedPairs.nearDup(spark, dir).inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains(root)))
    try {
      files.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
      }
      val e = intercept[Exception](rows("d03_minhash_lsh"))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(files.exists(f => messages.contains(new Path(f).getName)),
        s"the error must name the missing file:\n$messages")
    } finally SessionCache.clear(spark) // later suites rebuild from scratch
    assert(rows("d03_minhash_lsh") == first)
  }
}
