package graftbench

import org.apache.spark.sql.SparkSession

/** Runs one operation under its own job group with a wall-clock cap: at the
  * cap the group's jobs are cancelled. The result is the operation's value,
  * or why it failed (cut off at the cap, or the exception it threw).
  */
object Capped {

  private val timer = new java.util.Timer("graftbench-cap", true)

  def apply[T](spark: SparkSession, seconds: Double)(f: => T): Either[String, T] = {
    val sc = spark.sparkContext
    val group = s"graftbench-${System.nanoTime()}"
    @volatile var cut = false
    val task = new java.util.TimerTask {
      def run(): Unit = { cut = true; sc.cancelJobGroup(group) }
    }
    sc.setJobGroup(group, "graftbench operation", interruptOnCancel = true)
    timer.schedule(task, (seconds * 1000).toLong)
    try Right(f)
    catch {
      case e: Exception =>
        Left(if (cut) f"cut off at the ${seconds}%.0f s cap" else s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      task.cancel()
      sc.clearJobGroup()
    }
  }
}

object Dirs {
  /** Parquet part files directly under `dir`. */
  def partFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
}
