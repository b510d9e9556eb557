package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Records the expected output of every registered query: its fingerprint
  * and row count, computed with the session caches on.
  *
  * Usage: `Record <sfDir> <dumpDir> <out.json>`. It first runs `graft.Verify`
  * on a session with the caches on, which dumps every query's output and
  * the DuckDB oracle SQL into `<dumpDir>` (check it with `tools/check.py
  * <sfDir> <dumpDir>`). It then fingerprints each query live, in a fresh
  * session, and each dumped output, and fails unless the two agree: the
  * recorded fingerprints are then exactly those of the oracle-checked rows.
  */
object Record {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Record <sfDir> <dumpDir> <out.json>")
    val Array(sfDir, dumpDir, out) = args
    Sweep.cachesOn(GraftSession.local("graftbench-record-verify"))
    graft.Verify.main(Array(sfDir, dumpDir)) // stops its session when done

    val spark = GraftSession.local("graftbench-record")
    Sweep.cachesOn(spark)
    val names = Sweep.packOf.keys.toSeq.sorted
    require(names.toSet == graft.SparkEntry.queries.keySet, "pack listing drifted")
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    val entries = names.map { name =>
      val t0 = System.nanoTime()
      val live = Fingerprint.of(Sweep.query(name)(spark, sfDir))
      val secs = (System.nanoTime() - t0) / 1e9
      Sweep.release(spark)
      val dumped = Fingerprint.of(spark.read.parquet(s"$dumpDir/$name"))
      if (live != dumped) mismatches += s"$name live=$live dumped=$dumped"
      System.err.println(f"[record] $name%-30s ${live.rows}%9d ${live.hex} $secs%.2fs")
      s"""  "$name": {"pack": "${Sweep.packOf(name)}", "rows": ${live.rows}, "hash": "${live.hex}"}"""
    }
    Files.write(Paths.get(out), entries.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
    spark.stop()
    require(mismatches.isEmpty, "live and dumped fingerprints differ:\n" + mismatches.mkString("\n"))
  }
}
