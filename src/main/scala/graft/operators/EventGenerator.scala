package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Md5Index, Md5Uuid}

/** S1 — synthetic event generator, Spark-first.
  *
  * The reference expands a JSON template (`$uuid4`, `$name`, `$email`,
  * `$datetime(fmt)`) into N events (reference: src/generate_events.py:7-72,
  * config/glassgen/user_event.json:1-7). Here the template functions are a
  * small codegen-friendly expression library over `spark.range` — no UDFs, so
  * the whole projection stays inside WholeStageCodegen and parallelizes
  * embarrassingly across `numPartitions` (the Spark-native replacement for the
  * reference's multiprocessing.Pool, reference: src/utils/publish.py:19-59).
  *
  * Determinism: every field derives from (seed, id) via md5, so the same
  * (numRecords, seed) always yields identical rows on any cluster size. The
  * md5 basis also makes the generator reproducible in any SQL engine for
  * oracle checks.
  */
object EventGenerator {

  /** Deterministic uuid4-shaped id: md5 hex of s"$tag:$seed:" + id, spliced to
    * 8-4-4-4-12 with the version nibble forced to '4'. Pure column expression,
    * computed by the one-pass [[graft.functions.Md5Uuid]] kernel (the oracle
    * SQL spells the same value as md5 + substring + concat).
    */
  def uuidCol(id: Column, seed: Long, tag: String): Column =
    Md5Uuid(md5Input(id, seed, tag))

  private def md5Input(id: Column, seed: Long, tag: String): Column =
    concat(lit(s"$tag:$seed:"), id.cast("string"))

  // Small public-domain-style lookup vocabularies; indexed by a hash of the
  // row id so name/email are deterministic per row (reference analog:
  // glassgen's $name/$email faker calls).
  val FirstNames: Seq[String] = Seq(
    "alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
    "ivan", "judy", "mallory", "niaj", "olivia", "peggy", "rupert", "sybil")
  val LastNames: Seq[String] = Seq(
    "smith", "jones", "lee", "brown", "garcia", "miller", "davis", "lopez",
    "wilson", "anderson", "thomas", "taylor", "moore", "martin", "white", "clark")
  val Domains: Seq[String] = Seq("example.com", "test.org", "mail.net", "demo.io")

  /** Deterministic index into a lookup array: the md5's first 4 bytes
    * (its leading 8 hex digits) mod n, via the one-pass [[graft.functions.Md5Index]]
    * kernel. The oracle SQL spells the same value as
    * pmod(conv(substring(md5(..), 1, 8), 16, 10), n) — portable to DuckDB,
    * unlike xxhash64.
    */
  private def pickIdx(id: Column, seed: Long, tag: String, n: Int): Column =
    Md5Index(md5Input(id, seed, tag), n)

  private def pick(vals: Seq[String], id: Column, seed: Long, tag: String): Column = {
    val arr = array(vals.map(lit): _*)
    element_at(arr, (pickIdx(id, seed, tag, vals.size) + 1).cast("int"))
  }

  /** Generate `numRecords` user events matching the reference template:
    * (event_id, user_id, name, email, created_at) — all strings, created_at
    * formatted "yyyy-MM-dd HH:mm:ss" from a fixed epoch + 1s per row
    * (reference fields: config/glassflow/deduplication_pipeline.json:19-43).
    */
  def generate(spark: SparkSession, numRecords: Long, seed: Long = 42L,
               numPartitions: Int = 0): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    val base = spark.range(0, numRecords, 1, parts)
    val id = col("id")
    val first = pick(FirstNames, id, seed, "fn")
    val last = pick(LastNames, id, seed, "ln")
    base.select(
      uuidCol(id, seed, "eid").as("event_id"),
      uuidCol(id, seed, "uid").as("user_id"),
      concat(first, lit(" "), last).as("name"),
      concat(first, lit("."), last, lit(id), lit("@"),
        pick(Domains, id, seed, "dom")).as("email"),
      date_format(
        timestamp_seconds(lit(1700000000L) + id),
        "yyyy-MM-dd HH:mm:ss").as("created_at"),
      id.as("row_id"))
  }
}
