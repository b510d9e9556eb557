package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

class RateTimesSpec extends SparkSpec {

  test("offset arithmetic") {
    assert(RateTimes.firstValue(3, 50) == 150)
    assert(RateTimes.rows(3, 5, 50) == 100)
    assert(RateTimes.eventTimeMs(1000L, 0, 1, 4, 0) == 1000L)
    assert(RateTimes.eventTimeMs(1000L, 0, 1, 4, 3) == 1750L)
    assert(RateTimes.eventTimeMs(1000L, 2, 4, 4, 10) == 3500L)
    val lat = RateTimes.latenciesMs(0L, 1, 2, 4, 3000L).toSeq
    assert(lat == Seq(2000.0, 1750.0, 1500.0, 1250.0))
  }

  test("a second's rows are released when the offset moves past it") {
    assert(RateTimes.releaseMs(1000L, 0) == 2000L)
    assert(RateTimes.releaseMs(1000L, 4) == 6000L)
    assert(RateTimes.eventTimeMs(1000L, 4, 5, 10, 49) < RateTimes.releaseMs(1000L, 4))
  }

  test("event times rebuilt from offsets match what the rate source emitted") {
    val rps = 40L
    val checkpoint = scratch.resolve("rate-checkpoint")
    val seen = ArrayBuffer.empty[(Long, Long, Long)] // batch, value, ts ms
    val q = spark.readStream.format("rate").option("rowsPerSecond", rps.toString).load()
      .writeStream.option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.ProcessingTime(500L))
      .foreachBatch { (b: DataFrame, id: Long) =>
        val rows = b.collect().map(r => (id, r.getLong(1), r.getTimestamp(0).getTime))
        seen.synchronized { seen ++= rows }
        ()
      }.start()
    try {
      while (q.recentProgress.count(_.numInputRows > 0) < 3) Thread.sleep(200)
    } finally q.stop()
    val created = java.nio.file.Files.readAllLines(checkpoint.resolve("sources/0/0"), UTF_8)
      .asScala.last.trim.toLong
    val ranges = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      p.batchId -> (Option(s.startOffset).fold(0L)(_.trim.toLong), s.endOffset.trim.toLong)
    }.toMap
    val checked = seen.synchronized(seen.toList).filter(r => ranges.contains(r._1))
    assert(checked.size >= 3 * rps / 2)
    checked.foreach { case (id, v, ts) =>
      val (s0, s1) = ranges(id)
      assert(v >= RateTimes.firstValue(s0, rps) && v < RateTimes.firstValue(s1, rps))
      assert(RateTimes.eventTimeMs(created, s0, s1, rps, v) == ts, s"value $v of batch $id")
    }
    ranges.foreach { case (id, (s0, s1)) =>
      assert(checked.count(_._1 == id) == RateTimes.rows(s0, s1, rps))
    }
  }
}
