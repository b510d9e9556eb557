package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name,name,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated filter for targeted local checks; the driver
    // always passes exactly two args and gets the full suite
    val only = args.lift(2).map(_.split(',').toSet)
    // the session comes first: building the registry reads Scale knobs,
    // which see spark.graft.scale.* overrides only through a live session
    val spark = GraftSession.local("graft-verify")
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n))
    }
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop this query's localCheckpoint blocks (s05/d07/d11 materialize
      // frames eagerly); nothing references them once the write finished,
      // and letting them accumulate across the whole query suite builds memory
      // pressure that slows later queries
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SPARK_GRAFT_ORACLE_LINEAR=1 (the ×10 overflow gate) swaps in the
    // linear alternate oracles for the three queries whose registry
    // oracle is a deliberately quadratic/cubic readable spec; the
    // driver never sets it, so driver rounds always compare against the
    // registry forms.
    val oracles =
      if (sys.env.get("SPARK_GRAFT_ORACLE_LINEAR").contains("1"))
        SparkEntry.oracleSql ++ SparkEntry.oracleSqlLinear
      else SparkEntry.oracleSql
    val json = oracles
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // a knob read with no session reachable means the dumped results and
    // the oracle SQL may disagree on an overridden profile
    if (graft.config.Scale.sawOffSessionFallback)
      throw new IllegalStateException("Verify: a Scale knob was read with " +
        "no SparkSession reachable; spark.graft.scale.* overrides were lost")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
