package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.config.Duration
import graft.queries.SessionCache
import graft.sources.IdempotentParquetSink
import graft.streaming.StreamingDedup

/** The local write paths start no shell process: a JFR recording of
  * `jdk.ProcessStart` around a RocksDB streaming dedup into the idempotent
  * sink, a batch sink write and a session-cache build finds no `chmod`,
  * `readlink`, `stat` or `ls` (Hadoop's stock local file system starts one
  * per create, mkdir or rename; see [[graft.sources.NioLocalFileSystem]]).
  */
class NoForkSpec extends SparkSpecBase {
  import spark.implicits._

  /** The command line of every process the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val starts = new ConcurrentLinkedQueue[String]
    val flushes = new Semaphore(0)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => starts.add(
        e.getString("command") + Option(e.getStackTrace).fold("")(_.getFrames.asScala
          .take(12).map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
          .mkString(" <- ", " <- ", ""))))
      rs.onFlush(() => flushes.release())
      rs.startAsync()
      body
      // events reach the stream at its (about once a second) flushes: the
      // second flush that begins after body holds everything body started
      flushes.drainPermits()
      assert(flushes.tryAcquire(2, 60, TimeUnit.SECONDS), "the JFR stream flushed")
    } finally rs.close()
    starts.asScala.toSeq
  }

  test("streaming dedup, a batch sink write and a session-cache build start no chmod/readlink/stat/ls") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = Seq(provider, changelog).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelog, "true")
    implicit val sqlCtx = spark.sqlContext
    val starts = try processStarts {
      val in = MemoryStream[(String, Timestamp)]
      val deduped = StreamingDedup.withinWatermark(
        in.toDF().toDF("event_id", "ts"), Seq("event_id"), "ts", Duration.parse("8h"))
      val sink = new IdempotentParquetSink(Files.createTempDirectory("graft_nofork_sink").toString)
      val q = deduped.writeStream.outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("graft_nofork_ckpt").toString)
        .foreachBatch { (batch: DataFrame, id: Long) => sink.writeBatch(batch, id); () }
        .start()
      try {
        for (b <- 0 until 3) {
          in.addData((0 until 20).map(i =>
            (s"e${b * 10 + i}", new Timestamp(1700000000000L + (b * 10 + i) * 1000L))))
          q.processAllAvailable()
        }
        assert(q.recentProgress.count(_.numInputRows > 0) == 3, "three micro-batches ran")
      } finally q.stop()
      assert(sink.read(spark).count() == 40, "each id once across the epochs")

      val batchSink = new IdempotentParquetSink(Files.createTempDirectory("graft_nofork_batch").toString)
      assert(batchSink.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L))

      val cached = SessionCache.readThrough(spark, s"nofork-${java.util.UUID.randomUUID()}", "t")(
        spark.range(100).toDF())
      assert(cached.count() == 100)

      new ProcessBuilder("true").start().waitFor() // shows the recording sees a start
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(starts.exists(_.startsWith("true")), s"the recording saw the probe process: $starts")
    val shell = starts.filter { s =>
      Set("chmod", "readlink", "stat", "ls")(s.takeWhile(_ != ' ').split('/').last)
    }
    if (shell.nonEmpty) fail(s"${shell.size} shell processes (" +
      shell.groupBy(_.takeWhile(_ != ' ')).map { case (c, ss) => s"$c ${ss.size}" }.mkString(", ") +
      s"), the first: ${shell.head}")
  }
}
