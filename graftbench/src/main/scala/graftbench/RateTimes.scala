package graftbench

/** Event times of the rows Spark's `rate` source emits, rebuilt from a
  * micro-batch's offsets instead of read back from the data.
  *
  * The source's offsets are whole seconds since its creation. A batch that
  * covers seconds `[s0, s1)` at `rps` rows per second emits the values
  * `[rps*s0, rps*s1)`, and value `v` carries the timestamp
  * `created + 1000*s0 + round((v - rps*s0) * 1000*(s1-s0) / (rps*(s1-s0)))`
  * milliseconds: the batch's second range spread evenly over its values.
  */
object RateTimes {

  def firstValue(s0: Long, rps: Long): Long = rps * s0

  def rows(s0: Long, s1: Long, rps: Long): Long = rps * (s1 - s0)

  /** Event time in epoch milliseconds of value `v` in batch `[s0, s1)`. */
  def eventTimeMs(createdMs: Long, s0: Long, s1: Long, rps: Long, v: Long): Long = {
    val start = firstValue(s0, rps)
    val msPerValue = (1000.0 * (s1 - s0)) / rows(s0, s1, rps)
    createdMs + 1000L * s0 + math.round((v - start) * msPerValue)
  }

  /** When the source offers second `k`'s rows: once its offset, whole
    * seconds since creation, has moved past `k`.
    */
  def releaseMs(createdMs: Long, k: Long): Long = createdMs + 1000L * (k + 1)

  /** Latencies in milliseconds, one per row, of a batch committed at
    * `commitMs`: the time from each row's event time to the commit.
    */
  def latenciesMs(createdMs: Long, s0: Long, s1: Long, rps: Long,
                  commitMs: Long): Iterator[Double] = {
    val start = firstValue(s0, rps)
    Iterator.range(0, rows(s0, s1, rps).toInt).map { i =>
      (commitMs - eventTimeMs(createdMs, s0, s1, rps, start + i)).toDouble
    }
  }
}
