package graftbench

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.MappingProjection

/** One-off comparison behind the notes: how much of the reference
  * pipeline, and of a query, a `count()` skips.
  *
  * Usage: `Compare <sfDir> <workDir> [sent]`. Times, on one session and
  * after two warm-up rounds, the pipeline as `graft.Bench` measures it
  * (ending in `count()`), materialized to the `noop` sink, and written to
  * parquet; then each query of the timed pack with `count()` and with its
  * fingerprint. Prints the medians of five rounds.
  */
object Compare {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, work) = args.take(2)
    val sent = args.lift(2).fold(2000000L)(_.toLong)
    val unique = sent * 10 / 11
    val spark = GraftSession.local("graftbench-compare")
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    def median(f: => Unit): Double = {
      (1 to 2).foreach(_ => f)
      Stats.median((1 to 5).map(_ => time(f)))
    }
    val projected = PipelineBatch.stages(spark, unique, 42L).last
    var n = 0
    val rows = Seq(
      "pipeline count()" -> median(projected.count()),
      "pipeline noop sink" -> median(projected.write.format("noop").mode("overwrite").save()),
      "pipeline parquet sink" -> median {
        n += 1
        projected.write.mode("overwrite").parquet(s"$work/compare_sink_$n")
      })
    rows.foreach { case (k, s) => println(f"$k%-28s $s%7.3f s  ${sent / s}%10.0f records/s") }

    Sweep.cachesOn(spark)
    graft.Tables.registerAll(spark, sfDir)
    QuerySweep.Pack.foreach { q =>
      val fn = Sweep.query(q)
      val c = median { fn(spark, sfDir).count(); Sweep.release(spark) }
      val f = median { Fingerprint.of(fn(spark, sfDir)); Sweep.release(spark) }
      println(f"$q%-28s count() $c%6.3f s  fingerprint $f%6.3f s")
    }
    spark.stop()
  }
}
