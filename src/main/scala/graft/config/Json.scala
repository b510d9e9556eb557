package graft.config

/** Minimal JSON parser/printer for the control plane (S14 — config file
  * sources; reference: pydantic model_validate_json, main.py:40-58). No
  * external dependency: the offline build allows none, and the config
  * surface is small. Parses to Any: Map[String, Any] | List[Any] | String |
  * Double | Long | Boolean | null.
  */
object Json {

  def parse(s: String): Any = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    require(p.eof, s"trailing characters at ${p.pos}")
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s(pos) == c, s"expected '$c' at $pos")
      pos += 1
    }

    def value(): Any = {
      skipWs()
      require(!eof, "unexpected end of input")
      s(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _ => num()
      }
    }

    private def lit(word: String, v: Any): Any = {
      require(s.startsWith(word, pos), s"invalid literal at $pos")
      pos += word.length
      v
    }

    private def obj(): Map[String, Any] = {
      expect('{'); skipWs()
      val b = Map.newBuilder[String, Any]
      if (!eof && s(pos) == '}') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (!eof && s(pos) == ',') pos += 1 else { expect('}'); done = true }
      }
      b.result()
    }

    private def arr(): List[Any] = {
      expect('['); skipWs()
      val b = List.newBuilder[Any]
      if (!eof && s(pos) == ']') { pos += 1; return b.result() }
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (!eof && s(pos) == ',') pos += 1 else { expect(']'); done = true }
      }
      b.result()
    }

    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (!eof && s(pos) != '"') {
        if (s(pos) == '\\') {
          pos += 1
          require(!eof, "bad escape")
          s(pos) match {
            case '"' => b += '"'
            case '\\' => b += '\\'
            case '/' => b += '/'
            case 'b' => b += '\b'
            case 'f' => b += '\f'
            case 'n' => b += '\n'
            case 'r' => b += '\r'
            case 't' => b += '\t'
            case 'u' =>
              b += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case c => sys.error(s"bad escape \\$c")
          }
        } else b += s(pos)
        pos += 1
      }
      expect('"')
      b.result()
    }

    private def num(): Any = {
      val start = pos
      if (!eof && s(pos) == '-') pos += 1
      while (!eof && (s(pos).isDigit || "+-.eE".contains(s(pos)))) pos += 1
      val raw = s.substring(start, pos)
      require(raw.nonEmpty, s"invalid number at $start")
      if (raw.exists(c => c == '.' || c == 'e' || c == 'E')) raw.toDouble
      else raw.toLong
    }
  }

  /** Typed accessors over the parsed Any tree. */
  implicit final class JsonOps(private val v: Any) extends AnyVal {
    def asObj: Map[String, Any] = v.asInstanceOf[Map[String, Any]]
    def asList: List[Any] = v.asInstanceOf[List[Any]]
    def str(k: String): String = asObj(k).asInstanceOf[String]
    def strOr(k: String, d: String): String =
      asObj.get(k).map(_.asInstanceOf[String]).getOrElse(d)
    def long(k: String): Long = asObj(k) match {
      case l: Long => l
      case d: Double => d.toLong
      case o => o.toString.toLong
    }
    def bool(k: String): Boolean = asObj(k).asInstanceOf[Boolean]
    def boolOr(k: String, d: Boolean): Boolean =
      asObj.get(k).map(_.asInstanceOf[Boolean]).getOrElse(d)
    def obj(k: String): Map[String, Any] = asObj(k).asObj
    def list(k: String): List[Any] = asObj(k).asList
  }
}

/** PipelineConfig JSON codec + per-variant rewrite (P4).
  *
  * Reads the reference's pipeline-config shape
  * (reference: config/glassflow/deduplication_pipeline.json — source topic
  * with declared schema + dedup block, optional join, sink with
  * table_mapping) into the typed model, and applies the reference's
  * point-updates for a variant (reference: src/pre_process.py:17-35:
  * pipeline_id, topic name, table name, per-mapping source_id, dedup
  * time_window, sink max_batch_size / max_delay_time).
  */
object PipelineConfigJson {
  import Json.JsonOps

  def fromJson(text: String): PipelineConfig = {
    val ref = PipelineConfig.reference
    val root = Json.parse(text)
    val source = root.obj("source")
    val topic = source.list("topics").head.asObj
    val schemaFields = topic.obj("schema").list("fields").map { f =>
      SchemaField(f.str("name"), f.strOr("type", "string"))
    }
    val dedupObj = topic.get("deduplication").map(_.asObj)
    val dedup = dedupObj.map { d =>
      DedupConfig(d.boolOr("enabled", true), d.strOr("id_field", ref.dedup.idField),
        Duration.parse(d.strOr("time_window", ref.dedup.timeWindow.toString)))
    }.getOrElse(ref.dedup.copy(enabled = false))
    val join = root.asObj.get("join").map(_.asObj).map { j =>
      JoinConfig(j.boolOr("enabled", false),
        j.strOr("join_key", "event_id"), Duration.parse(j.strOr("time_window", "1h")))
    }
    val sinkObj = root.obj("sink")
    val mapping = sinkObj.list("table_mapping").map { m =>
      FieldMapping(m.str("field_name"), m.str("column_name"), m.str("column_type"))
    }
    PipelineConfig(
      pipelineId = root.strOr("pipeline_id", ref.pipelineId),
      sourceSchema = schemaFields,
      dedup = dedup,
      join = join,
      sink = SinkConfig(
        table = sinkObj.str("table"),
        maxBatchSize = sinkObj.long("max_batch_size").toInt,
        maxDelayTime = Duration.parse(
          sinkObj.strOr("max_delay_time", ref.sink.maxDelayTime.toString)),
        tableMapping = mapping))
  }

  /** P4 — the per-variant rewrite: everything keyed off the variant id plus
    * the swept dedup/sink knobs (reference: src/pre_process.py:17-35).
    */
  def rewriteForVariant(cfg: PipelineConfig, variantId: String,
                        dedupWindow: Duration, maxBatchSize: Int,
                        maxDelayTime: Duration): PipelineConfig =
    cfg.copy(
      pipelineId = variantId,
      dedup = cfg.dedup.copy(timeWindow = dedupWindow),
      sink = cfg.sink.copy(
        table = variantId,
        maxBatchSize = maxBatchSize,
        maxDelayTime = maxDelayTime))
}
