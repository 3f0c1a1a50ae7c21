package perfbench

/** Output checks and the statistics every metric goes through. Pure
  * functions, so the self-tests pin them without a Spark session. */
object Check {

  /** One egress record as the check compares it: the Kafka key, a tab,
    * then the JSON value the egress projection writes. */
  def line(device: String, state: String, tsMs: Long): String =
    s"""$device\t{"device_id":"$device","state":"$state","ts_ms":$tsMs}"""

  /** Closed form of per-device presence over a reading schedule: ONLINE at
    * a device's first reading; for every gap longer than the TTL, OFFLINE
    * at last+ttl then ONLINE at the next reading; a trailing OFFLINE once
    * the final watermark has passed last+ttl. */
  def expectedTransitions(readings: Map[String, Seq[Long]], ttlMs: Long,
                          finalWatermark: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    readings.foreach { case (d, ts0) =>
      val ts = ts0.sorted
      out += line(d, "online", ts.head)
      ts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
        if (b - a > ttlMs) {
          out += line(d, "offline", a + ttlMs)
          out += line(d, "online", b)
        }
      }
      if (ts.last + ttlMs < finalWatermark)
        out += line(d, "offline", ts.last + ttlMs)
    }
    out.result()
  }

  /** Order-insensitive digest: (count, sum of 64-bit string hashes). */
  final case class Digest(count: Long, hash: Long)

  def digest(values: Iterator[String]): Digest = {
    var n = 0L; var h = 0L
    values.foreach { v =>
      n += 1
      h += hash64(v)
    }
    Digest(n, h)
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  /** Transitions missing from `actual` plus transitions it has that were
    * not expected (multiset difference both ways). */
  def mismatches(expected: Iterable[String], actual: Iterable[String]): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    expected.foreach(v => counts(v) = counts.getOrElse(v, 0L) + 1)
    actual.foreach(v => counts(v) = counts.getOrElse(v, 0L) - 1)
    counts.valuesIterator.map(math.abs).sum
  }

  // ---------------------------------------------------------- statistics

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (50 at least, so a short run still reports its median). */
  def tailPercentile(n: Int): Int =
    math.max(50, math.min(99, math.floor(100.0 * (n - 10) / n).toInt))

  def tail(xs: Seq[Double]): Double = quantile(xs, tailPercentile(xs.size) / 100.0)

  // ------------------------------------------------------ open-loop math

  /** Ingest latency per published file, counted from the file's DUE time
    * (not from when the generator got round to publishing it) to the
    * completion of the micro-batch that consumed it: `offsetOf` gives the
    * source offset a file was listed under, `consumedEndMs` when the batch
    * that read that offset ended. Files no batch consumed map to None. */
  def ingestLatencies(dueMs: IndexedSeq[Double], offsetOf: Int => Option[Long],
                      consumedEndMs: Long => Option[Double]): IndexedSeq[Option[Double]] =
    dueMs.indices.map(i => offsetOf(i).flatMap(consumedEndMs).map(_ - dueMs(i)))

  /** Generator lateness: how long after its due time each file was published. */
  def generatorLateness(dueMs: IndexedSeq[Double], publishedMs: IndexedSeq[Double]): IndexedSeq[Double] =
    dueMs.indices.map(i => publishedMs(i) - dueMs(i))

  /** Files over the latency limit plus files never consumed, as a share. */
  def lateFraction(latencies: Seq[Option[Double]], limitMs: Double): Double =
    if (latencies.isEmpty) 0.0
    else latencies.count(l => l.forall(_ > limitMs)).toDouble / latencies.size
}
