package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** An order-insensitive, duplicate-sensitive digest of a whole result.
  *
  * Each row hashes every output column with `xxhash64`; the digest is the
  * row count plus the wrapping 64-bit sum of those hashes. A sum (unlike an
  * xor) counts a repeated row twice, and row order cannot change it. Spark
  * runs with ANSI arithmetic, where `sum(xxhash64(...))` over enough rows
  * throws on overflow, so the hash is split into its unsigned 32-bit halves:
  * each half-sum stays below 2^32 x rows and cannot overflow a long for any
  * result under two billion rows. The halves are recombined with wrapping
  * arithmetic once the sums are collected.
  *
  * Evaluating the digest forces every column of every row, which is the
  * point: a `count()` lets Catalyst prune the columns a query computes.
  */
object Fingerprint {

  final case class Digest(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  def of(df: DataFrame): Digest = collect(frame(df))

  /** The one-row aggregation whose value is the digest of `df`. Planning
    * and executing it plans and executes `df` once, as part of it.
    */
  def frame(df: DataFrame): DataFrame = {
    val aggs = aggregates(df.columns.toSeq)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Executes a [[frame]] through its own query execution, so a plan
    * already forced on it is the one that runs (`head()` would plan a new
    * `Limit` over it).
    */
  def collect(frame: DataFrame): Digest = read(frame.collect().head, 0)

  /** The row count and the two hash half-sums over `columns`, as aggregate
    * columns for a (possibly grouped) aggregation; [[read]] turns their
    * values back into a digest.
    */
  def aggregates(columns: Seq[String]): Seq[Column] = {
    val h = xxhash64(columns.map(c => col(s"`$c`")): _*)
    Seq(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32)))
  }

  /** The digest from the three [[aggregates]] values starting at `at`. */
  def read(r: Row, at: Int): Digest = {
    val rows = r.getLong(at)
    if (rows == 0) Digest(0L, 0L) else Digest(rows, combine(r.getLong(at + 1), r.getLong(at + 2)))
  }

  /** Wrapping `hi * 2^32 + lo`: the full 64-bit sum of the row hashes. */
  def combine(loSum: Long, hiSum: Long): Long = (hiSum << 32) + loSum
}
