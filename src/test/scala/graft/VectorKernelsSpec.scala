package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{LshBandSig, VectorFunctions}

/** Differential spec for the two kernels inside the session-cached LSH and
  * IVF builds: on seeded `array<bigint>` inputs each must equal its composed
  * built-in form in both generated and interpreted code, and any other
  * element type must fail at analysis time instead of being read as longs.
  */
class VectorKernelsSpec extends SparkSpecBase {
  import spark.implicits._

  private val Bands = 3
  private val Planes = 4
  private val Dims = 8

  /** `dot_long` as built-ins: products over the common prefix, summed. */
  private def builtinDot(a: Column, b: Column): Column = {
    val n = least(size(a), size(b))
    when(a.isNotNull && b.isNotNull,
      aggregate(zip_with(slice(a, lit(1), n), slice(b, lit(1), n), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
  }

  /** `lsh_band_sig` as built-ins: band t sets bit h when the dot with
    * hyperplane t·Planes + h is non-negative.
    */
  private def builtinSig(v: Column): Column =
    when(v.isNotNull, array((0 until Bands).map { t =>
      (0 until Planes).map { h =>
        val w = typedLit(VectorFunctions.hyperplane(t * Planes + h, Dims).toSeq)
        when(builtinDot(v, w) >= 0, lit(1L << h)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*))

  /** Seeded vectors: empty, short, long, Long boundary values, and null. */
  private def vectors: Seq[Option[Seq[Long]]] = {
    val r = new scala.util.Random(20261020L)
    val edge = Seq(Seq.empty[Long], Seq(0L), Seq(Long.MaxValue), Seq(Long.MinValue),
      Seq(Long.MaxValue, Long.MinValue, -1L, 1L), Seq.fill(Dims + 3)(Long.MinValue))
    val random = Seq.fill(200)(Seq.fill(r.nextInt(Dims + 4))(r.nextInt(20001).toLong - 10000))
    (edge ++ random).map(Option(_)) :+ None
  }

  /** Both evaluation paths, with non-ANSI arithmetic so the built-in form
    * wraps on overflow exactly as the kernels' long arithmetic does.
    */
  private def bothPaths(f: => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        val keys = Seq("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage, "spark.sql.ansi.enabled" -> "false")
        val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
        keys.foreach { case (k, v) => spark.conf.set(k, v) }
        try f
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
    }

  // repartition: a local relation would be folded at planning time
  private def pairsDf: DataFrame = {
    val vs = vectors
    vs.zip(vs.reverse).toDF("a", "b").repartition(4)
  }

  test("DotProductLong equals aggregate(zip_with(slice…)) on seeded vectors") {
    bothPaths {
      val out = pairsDf
        .select(col("a"), col("b"), VectorFunctions.dotLong(col("a"), col("b")),
          builtinDot(col("a"), col("b"))).collect()
      assert(out.length == vectors.size)
      out.foreach(r => assert(r.get(2) == r.get(3), s"dot of ${r.get(0)} and ${r.get(1)}"))
      assert(out.count(_.isNullAt(2)) == 2, "a null side gives null")
      // overflow wraps, as long arithmetic does; no error
      val wrapped = Seq((Seq(Long.MaxValue, 1L), Seq(2L, 3L))).toDF("a", "b").repartition(1)
        .select(VectorFunctions.dotLong(col("a"), col("b"))).as[Long].head()
      assert(wrapped == 1L)
      // a null element reads as 0 today (only the nullable type is accepted)
      val withNull = Seq(1L, 2L).toDF("x").repartition(2)
        .select(array(col("x"), lit(null).cast("bigint"), lit(5L)).as("a"))
        .select(VectorFunctions.dotLong(col("a"), array(lit(3L), lit(7L), lit(2L))))
        .as[Long].collect().sorted.toSeq
      assert(withNull == Seq(13L, 16L))
    }
  }

  test("LshBandSig equals the per-plane when(dot >= 0, 1 << h) sum on seeded vectors") {
    bothPaths {
      val out = pairsDf
        .select(col("a"), LshBandSig(col("a"), Bands, Planes, Dims), builtinSig(col("a")))
        .collect()
      assert(out.length == vectors.size)
      out.foreach(r => assert(r.get(1) == r.get(2), s"bands of ${r.get(0)}"))
      assert(out.count(_.isNullAt(1)) == 1, "only the null vector gives null")
      // an empty vector dots to 0 with every plane: every bit set
      assert(out.exists(r => r.getSeq[Long](0).isEmpty &&
        r.getSeq[Long](1) == Seq.fill(Bands)((1L << Planes) - 1)))
      val withNull = Seq(1L).toDF("x").repartition(1)
        .select(array(col("x"), lit(null).cast("bigint")).as("a"))
      val nullAsZero = withNull.select(LshBandSig(col("a"), Bands, Planes, Dims)).head().get(0)
      assert(nullAsZero == withNull.select(LshBandSig(array(col("a")(0), lit(0L)),
        Bands, Planes, Dims)).head().get(0), "a null element reads as 0 today")
    }
  }

  test("dot_long and lsh_band_sig reject array<int> and array<double> at analysis time") {
    val df = Seq((Seq(1, 2), Seq(1.0, 2.0), Seq(1L, 2L))).toDF("ints", "doubles", "longs")
    def rejected(c: => Column, param: String): Unit = {
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
      assert(e.getMessage.contains("\"ARRAY<BIGINT>\"") && e.getMessage.contains(param),
        e.getMessage)
    }
    for (bad <- Seq("ints", "doubles")) {
      rejected(VectorFunctions.dotLong(col(bad), col("longs")), "first")
      rejected(VectorFunctions.dotLong(col("longs"), col(bad)), "second")
      rejected(LshBandSig(col(bad), Bands, Planes, Dims), "first")
    }
    assert(df.select(VectorFunctions.dotLong(col("longs"), col("longs"))).as[Long].head() == 5L)
  }
}
