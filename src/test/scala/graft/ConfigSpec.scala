package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

class ConfigSpec extends AnyFunSuite {

  test("Duration parses Go-style strings (reference src/models.py:33-50)") {
    assert(Duration.parse("10s").millis == 10000L)
    assert(Duration.parse("8h").millis == 8L * 3600 * 1000)
    assert(Duration.parse("1h").millis == 3600000L)
    assert(Duration.parse("500ms").millis == 500L)
    assert(Duration.parse("1h30m").millis == 5400000L)
    assert(Duration.parse("2d").millis == 172800000L)
    intercept[IllegalArgumentException](Duration.parse("abc"))
    intercept[IllegalArgumentException](Duration.parse("10x"))
    intercept[IllegalArgumentException](Duration.parse(""))
  }

  test("Duration round-trips toString") {
    assert(Duration.parse("8h").toString == "8h")
    assert(Duration.parse("10s").toString == "10s")
    assert(Duration.parse("500ms").toString == "500ms")
  }

  test("Uuid5 matches RFC 4122 v5 (goldens from CPython uuid.uuid5)") {
    assert(Uuid5(Uuid5.NamespaceDns, "hello").toString
      == "9342d47a-1bab-5709-9869-c840b2eac501")
    assert(Uuid5(Uuid5.NamespaceDns, "www.example.com").toString
      == "2ed6657d-e927-568b-95e1-2665a8aea6a2")
  }

  test("variantId: load_ + first 8 hex of uuid5 over canonical JSON " +
    "(reference src/test_executor.py:28-33)") {
    val canonical = """{"deduplication_window": "8h", "duplication_rate": 0.1, """ +
      """"max_batch_size": 5000, "max_delay_time": "10s", "num_processes": 2, """ +
      """"total_records": 5000000}"""
    assert(Uuid5.variantId(canonical) == "load_56f6c42a")
  }

  test("sink ORDER BY key rule: join key when enabled, else first mapped column " +
    "(reference src/utils/clickhouse.py:34-46)") {
    val sink = SinkConfig("t", 5000, Duration.parse("10s"), Seq(
      FieldMapping("event_id", "event_id", "uuid"),
      FieldMapping("name", "user_name", "string")))
    assert(sink.orderByKey(None) == "event_id")
    assert(sink.orderByKey(Some(JoinConfig(enabled = false, "user_id", Duration.parse("1h"))))
      == "event_id")
    assert(sink.orderByKey(Some(JoinConfig(enabled = true, "user_id", Duration.parse("1h"))))
      == "user_id")
  }

  test("duplicate arithmetic (reference src/generate_events.py:31-39)") {
    import graft.harness.Metrics._
    assert(uniqueOf(5000000L, 0.1) == 4545454L)
    assert(duplicatesOf(5000000L, 0.1) == 454546L)
    assert(uniqueOf(5000000L, 0.1) + duplicatesOf(5000000L, 0.1) == 5000000L)
  }
}
