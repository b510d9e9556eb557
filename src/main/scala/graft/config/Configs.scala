package graft.config

/** Control-plane config model, replacing the reference's pydantic models.
  *
  * Mirrors the semantics of the reference pipeline config
  * (reference: config/glassflow/deduplication_pipeline.json, src/models.py:14-62)
  * as plain Scala case classes — validated eagerly at construction, never
  * inferred (SURVEY.md §1.3).
  */
final case class SchemaField(name: String, fieldType: String)

/** One sink column mapping: rename + cast (reference:
  * config/glassflow/deduplication_pipeline.json:68-99).
  * `columnType` ∈ {string, uuid, datetime, int, long, double}.
  */
final case class FieldMapping(fieldName: String, columnName: String, columnType: String)

object FieldMapping {
  /** The reference pipeline's sink mapping
    * (config/glassflow/deduplication_pipeline.json:68-99).
    */
  val reference: Seq[FieldMapping] = Seq(
    FieldMapping("event_id", "event_id", "uuid"),
    FieldMapping("user_id", "user_id", "uuid"),
    FieldMapping("created_at", "created_at", "datetime"),
    FieldMapping("name", "user_name", "string"),
    FieldMapping("email", "user_email", "string"))
}

/** Dedup declaration (reference: deduplication_pipeline.json:44-49). */
final case class DedupConfig(enabled: Boolean, idField: String, timeWindow: Duration)

/** Temporal-join declaration (reference: deduplication_pipeline.json:53-55,
  * src/pre_process.py:9-12).
  */
final case class JoinConfig(enabled: Boolean, joinKey: String, timeWindow: Duration)

/** Sink batching (reference: deduplication_pipeline.json:65-66; swept in
  * src/models.py:39-50).
  */
final case class SinkConfig(
    table: String,
    maxBatchSize: Int,
    maxDelayTime: Duration,
    tableMapping: Seq[FieldMapping]) {
  /** MergeTree ORDER BY rule: join key when a join is enabled, else the first
    * mapped column (reference: src/utils/clickhouse.py:34-46).
    */
  def orderByKey(join: Option[JoinConfig]): String =
    join.filter(_.enabled).map(_.joinKey)
      .getOrElse(tableMapping.head.columnName)
}

final case class PipelineConfig(
    pipelineId: String,
    sourceSchema: Seq[SchemaField],
    dedup: DedupConfig,
    join: Option[JoinConfig],
    sink: SinkConfig)

object PipelineConfig {
  /** The shipped reference config (config/glassflow/deduplication_pipeline.json):
    * keep the first `event_id` within 8h, no join, sink batches of 5000 rows
    * or 10s, the [[FieldMapping.reference]] mapping. The one home of these
    * defaults — the JSON codec, the CLI and the test executor all read it.
    */
  val reference: PipelineConfig = PipelineConfig(
    pipelineId = "pipeline",
    sourceSchema = FieldMapping.reference.map(m => SchemaField(m.fieldName, "string")),
    dedup = DedupConfig(enabled = true, idField = "event_id", Duration.parse("8h")),
    join = None,
    sink = SinkConfig(table = "events", maxBatchSize = 5000,
      maxDelayTime = Duration.parse("10s"), tableMapping = FieldMapping.reference))
}

/** Go-style duration strings "10s" / "1h" / "8h" (reference:
  * src/models.py:33-38,45-50). Supports ms/s/m/h/d.
  */
final case class Duration(millis: Long) {
  def seconds: Double = millis / 1000.0
  /** Render for Spark interval / watermark strings. */
  def asSparkInterval: String = s"$millis milliseconds"
  override def toString: String =
    if (millis % 3600000L == 0 && millis != 0) s"${millis / 3600000L}h"
    else if (millis % 60000L == 0 && millis != 0) s"${millis / 60000L}m"
    else if (millis % 1000L == 0 && millis != 0) s"${millis / 1000L}s"
    else s"${millis}ms"
}

object Duration {
  private val Pattern = """(\d+)(ms|s|m|h|d)""".r

  /** Parse e.g. "8h", "10s", "500ms", "1h30m". */
  def parse(s: String): Duration = {
    val matches = Pattern.findAllMatchIn(s.trim).toSeq
    val consumed = matches.map(_.matched.length).sum
    require(matches.nonEmpty && consumed == s.trim.length,
      s"invalid duration: '$s' (expected e.g. 8h, 10s, 500ms)")
    Duration(matches.map { m =>
      val n = m.group(1).toLong
      m.group(2) match {
        case "ms" => n
        case "s"  => n * 1000L
        case "m"  => n * 60000L
        case "h"  => n * 3600000L
        case "d"  => n * 86400000L
      }
    }.sum)
  }
}

/** RFC 4122 version-5 (SHA-1, name-based) UUID. The JDK only ships v3 (MD5,
  * `UUID.nameUUIDFromBytes`), so v5 is implemented here per the RFC.
  * Used for deterministic variant ids (reference: src/test_executor.py:28-33
  * — uuid5(NAMESPACE_DNS, canonical-json)[:8] prefixed with "load_").
  */
object Uuid5 {
  val NamespaceDns: java.util.UUID =
    java.util.UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")

  def apply(namespace: java.util.UUID, name: String): java.util.UUID = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val nsBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(namespace.getMostSignificantBits)
      .putLong(namespace.getLeastSignificantBits).array()
    md.update(nsBytes)
    md.update(name.getBytes("UTF-8"))
    val h = md.digest()
    h(6) = ((h(6) & 0x0f) | 0x50).toByte // version 5
    h(8) = ((h(8) & 0x3f) | 0x80).toByte // RFC 4122 variant
    val bb = java.nio.ByteBuffer.wrap(h, 0, 16)
    new java.util.UUID(bb.getLong, bb.getLong)
  }

  /** "load_" + first 8 hex chars, matching the reference's variant id. */
  def variantId(canonicalJson: String): String =
    "load_" + apply(NamespaceDns, canonicalJson).toString.take(8)
}
