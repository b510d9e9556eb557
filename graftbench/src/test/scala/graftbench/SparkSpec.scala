package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A small local session shared by the specs that need Spark. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  protected val scratch: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory("graftbench-spec")

  protected lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile)
    super.afterAll()
  }
}
