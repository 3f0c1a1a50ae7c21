package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

import graft.codec.{AvroEnvelope, EnvelopeFormat}
import graft.codec.AvroEnvelope.WeatherReading

/** Seeded input generator for the streaming workloads.
  *
  * A corpus is a list of files, each a list of pre-encoded envelopes, plus
  * the schedule the output check needs: every valid reading's device and
  * event time, and how many poison pills of each kind were planted. All
  * encoding happens here, before any timed region; the program under test
  * only ever sees the written parquet files (`value: binary`, the shape
  * `SourceProvider.file` reads).
  *
  * Event times are whole seconds and every TTL ends in 500 ms, so a gap
  * never equals the TTL and a timer never coincides with a watermark: the
  * expected transitions are a closed form with no tie-breaking.
  */
object Corpus {

  val T0: Long = 1700000000000L

  /** Poison-pill kinds the decode path must drop, by name. */
  val PoisonKinds: Seq[String] = Seq("bad_magic", "unknown_id", "alien_writer", "truncated")

  /** One envelope: a valid reading's device and event time, or the
    * poison kind planted (device null). */
  final case class Envelope(device: String, tsMs: Long, bytes: Array[Byte],
                            poison: String = null) {
    def valid: Boolean = device != null
  }

  final case class Corpus(files: IndexedSeq[IndexedSeq[Envelope]], ttlMs: Long) {
    def events: Int = files.iterator.map(_.count(_.valid)).sum
    def envelopes: Int = files.iterator.map(_.size).sum
    def planted: Map[String, Int] =
      PoisonKinds.map(k => k -> files.iterator.map(_.count(_.poison == k)).sum).toMap
    def poison: Int = planted.values.sum
    def take(n: Int): Corpus = copy(files = files.take(n))
    /** Event times per device, in file order. */
    def readings: Map[String, Seq[Long]] =
      files.flatten.filter(_.valid).groupBy(_.device)
        .map { case (d, es) => d -> es.map(_.tsMs) }
    def maxTs: Long = files.flatten.filter(_.valid).map(_.tsMs).max
  }

  /** drain-churn: Zipf-skewed report rates over `devices`, event time
    * advancing `windowMs` per file, a TTL short against most device gaps
    * (so most events open or close a presence interval), v1/v2 writers
    * mixed and `poisonShare` of the envelopes planted per poison kind. */
  final case class DrainSpec(devices: Int, events: Int, files: Int,
                             windowMs: Long, ttlMs: Long, zipf: Double,
                             poisonShare: Double)

  val drainSpec: DrainSpec =
    DrainSpec(devices = 100000, events = 240000, files = 96,
      windowMs = 10000L, ttlMs = 20500L, zipf = 0.6, poisonShare = 0.0025)

  /** paced-steady: `devices` report round-robin, `perFile` readings per
    * file and one second of event time per file, so each device reports
    * every devices/perFile seconds — well inside the TTL. */
  final case class PacedSpec(devices: Int, perFile: Int, ttlMs: Long)

  val pacedSpec: PacedSpec = PacedSpec(devices = 6000, perFile = 800, ttlMs = 60500L)

  private def reading(rng: java.util.SplittableRandom, device: String,
                      ts: Long): WeatherReading =
    WeatherReading(device, ts,
      Some(-20.0 + rng.nextInt(600) / 10.0), Some(rng.nextInt(1000) / 10.0),
      Some(rng.nextInt(300) / 10.0), Some(950.0 + rng.nextInt(100)))

  /** Mixed writer schemas: v1 (no pressure) and v2, resolved to the v2 reader. */
  private def writerVersion(rng: java.util.SplittableRandom): Byte =
    (if (rng.nextBoolean()) 1 else 2).toByte

  private def encodeValid(r: WeatherReading, version: Byte): Array[Byte] =
    AvroEnvelope.encode(r, version, AvroEnvelope.defaultRegistry)

  /** Map every file's items on all cores; the result keeps file order. */
  private def parallel[A, B](files: IndexedSeq[IndexedSeq[A]])(f: A => B): IndexedSeq[IndexedSeq[B]] = {
    val out = new Array[IndexedSeq[B]](files.size)
    java.util.stream.IntStream.range(0, files.size).parallel()
      .forEach(i => out(i) = files(i).map(f))
    out.toIndexedSeq
  }

  private def encodePoison(kind: String, r: WeatherReading): Array[Byte] = kind match {
    case "bad_magic" => Array[Byte](2) // a header with no body behind it
    case "unknown_id" =>
      AvroEnvelope.encode(r, 5, AvroEnvelope.v2SchemaJson, EnvelopeFormat.Magic1)
    case "alien_writer" =>
      AvroEnvelope.encode(r, 9.toByte, AvroEnvelope.defaultRegistry)
    case "truncated" =>
      AvroEnvelope.encode(r, 2.toByte, AvroEnvelope.defaultRegistry).take(3)
  }

  def deviceName(i: Int): String = f"d$i%06d"

  def drain(seed: Long, spec: DrainSpec = drainSpec): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    // Zipf CDF over device ranks; ranks map to ids through a seeded
    // permutation so hot devices are spread over the key space
    val w = Array.tabulate(spec.devices)(r => math.pow(r + 1.0, -spec.zipf))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    val perm = Array.range(0, spec.devices)
    for (i <- perm.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    def sampleDevice(): Int = {
      val u = rng.nextDouble() * total
      val k = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(if (k >= 0) k else -k - 1, spec.devices - 1))
    }
    val perFile = spec.events / spec.files
    val poisonPerKind = math.round(spec.events * spec.poisonShare).toInt
    // poison slots: (file, kind) pairs spread evenly, seeded order
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle(PoisonKinds.flatMap(k => Seq.fill(poisonPerKind)(k)))
      .zipWithIndex.groupBy(_._2 % spec.files).map { case (f, ks) => f -> ks.map(_._1) }
    val secondsPerFile = (spec.windowMs / 1000L).toInt
    // draws stay sequential (one seeded stream); encoding runs in parallel
    val drawn = (0 until spec.files).map { f =>
      val valid = (0 until perFile).map { _ =>
        val d = deviceName(sampleDevice())
        val ts = T0 + f * spec.windowMs + rng.nextInt(secondsPerFile) * 1000L
        (reading(rng, d, ts), writerVersion(rng), null: String)
      }
      val poison = slots.getOrElse(f, Nil).map { k =>
        (reading(rng, "poison", T0 + f * spec.windowMs), 0.toByte, k)
      }
      // poison interleaved at seeded positions
      val all = scala.collection.mutable.ArrayBuffer(valid: _*)
      poison.foreach(p => all.insert(rng.nextInt(all.size + 1), p))
      all.toIndexedSeq
    }
    val files = parallel(drawn) { case (r, v, kind) =>
      if (kind == null) Envelope(r.deviceId, r.timestamp, encodeValid(r, v))
      else Envelope(null, 0L, encodePoison(kind, r), kind)
    }
    Corpus(files, spec.ttlMs)
  }

  /** The first `warmFiles` paced files cover every device once; each
    * later file carries the next `perFile` devices round-robin. */
  def paced(seed: Long, files: Int, spec: PacedSpec = pacedSpec): Corpus = {
    val rng = new java.util.SplittableRandom(seed)
    val offset = rng.nextInt(spec.devices)
    val drawn = (0 until files).map { f =>
      (0 until spec.perFile).map { j =>
        val d = deviceName((offset + f * spec.perFile + j) % spec.devices)
        (reading(rng, d, T0 + f * 1000L), writerVersion(rng))
      }
    }
    Corpus(parallel(drawn) { case (r, v) => Envelope(r.deviceId, r.timestamp, encodeValid(r, v)) },
      spec.ttlMs)
  }

  def warmFiles(spec: PacedSpec = pacedSpec): Int =
    (spec.devices + spec.perFile - 1) / spec.perFile

  // ---------------------------------------------------------------- files

  private val schema = MessageTypeParser.parseMessageType(
    "message envelope { optional binary value; }")

  /** Write one parquet file of envelopes (deterministic bytes: the writer
    * records no time or host), via a hidden temp name then a rename. */
  def writeFile(path: Path, envelopes: Seq[Envelope]): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    Files.deleteIfExists(tmp)
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(tmp.toUri))
      .withConf(new Configuration())
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val g = new SimpleGroupFactory(schema)
    try envelopes.foreach(e => w.write(g.newGroup().append("value", Binary.fromConstantByteArray(e.bytes))))
    finally w.close()
    Files.deleteIfExists(tmp.resolveSibling("." + tmp.getFileName + ".crc"))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  def fileName(i: Int): String = f"part-$i%05d.parquet"

  /** Write every file of `c` under `dir`; modification times increase with
    * the file index so the file source admits them in schedule order. */
  def writeAll(c: Corpus, dir: Path): Seq[Path] = {
    Files.createDirectories(dir)
    val base = System.currentTimeMillis() - c.files.size * 1000L
    parallel(c.files.indices.map(IndexedSeq(_))) { i =>
      val p = dir.resolve(fileName(i))
      writeFile(p, c.files(i))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
      p
    }.flatten
  }
}
