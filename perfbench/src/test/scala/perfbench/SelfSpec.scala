package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: its generator, its output check,
  * its open-loop latency math and its metric names. */
class SelfSpec extends AnyFunSuite {

  private val small = Corpus.DrainSpec(devices = 500, events = 2000, files = 4,
    windowMs = 10000L, ttlMs = 20500L, zipf = 0.6, poisonShare = 0.01)

  private def written(c: Corpus.Corpus): Seq[Array[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-corpus")
    try Corpus.writeAll(c, dir).map(Files.readAllBytes)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  test("the same seed gives a byte-identical corpus; another seed does not") {
    val a = written(Corpus.drain(7L, small))
    val b = written(Corpus.drain(7L, small))
    val c = written(Corpus.drain(8L, small))
    assert(a.size == 4)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    val p1 = written(Corpus.paced(7L, 6))
    val p2 = written(Corpus.paced(7L, 6))
    assert(p1.zip(p2).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("every poison kind is planted and counted") {
    val c = Corpus.drain(7L, small)
    assert(c.planted.keySet == Corpus.PoisonKinds.toSet)
    assert(c.planted.values.forall(_ == 20))
    assert(c.envelopes == c.events + c.poison)
  }

  test("the closed form emits online, gap offline/online pairs and the trailing offline") {
    val got = Check.expectedTransitions(
      Map("a" -> Seq(1000L, 2000L, 30000L), "b" -> Seq(25000L)), 10500L, 40000L).toSet
    assert(got == Set(
      Check.line("a", "online", 1000L),
      Check.line("a", "offline", 12500L),
      Check.line("a", "online", 30000L),
      Check.line("b", "online", 25000L),
      Check.line("b", "offline", 35500L)))
    // a's last reading + ttl = 40500 lies past the final watermark: no trailing offline
  }

  test("the output check rejects an output missing one transition") {
    val c = Corpus.drain(3L, small)
    val expected = Check.expectedTransitions(c.readings, c.ttlMs, c.maxTs)
    val digest = Check.digest(expected.iterator)
    val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(1)).shuffle(expected)
    assert(Pipeline.failures(expected, digest, shuffled.toArray) == 0L)
    val perturbed = shuffled.drop(1).toArray
    assert(Check.digest(perturbed.iterator) != digest)
    assert(Pipeline.failures(expected, digest, perturbed) == 1L)
    val i = shuffled.indexWhere(_.contains("\"online\""))
    val wrong = shuffled.updated(i, shuffled(i).replace("\"online\"", "\"offline\"")).toArray
    assert(Pipeline.failures(expected, digest, wrong) == 2L)
  }

  test("open-loop latency counts from the due time and reports generator lateness") {
    val due = IndexedSeq(1000.0, 1100.0, 1200.0)
    // the generator stalled: file 1 went out 300 ms late, file 2 never got consumed
    val published = IndexedSeq(1000.5, 1400.0, 1401.0)
    val offsetOf = Map(0 -> 7L, 1 -> 8L) // source offsets the files were listed under
    val consumedEnd = Map(7L -> 1250.0, 8L -> 1600.0) // end of the batch reading each
    val lat = Check.ingestLatencies(due, offsetOf.get, consumedEnd.get)
    assert(lat == IndexedSeq(Some(250.0), Some(500.0), None))
    assert(Check.generatorLateness(due, published) == IndexedSeq(0.5, 300.0, 201.0))
    assert(Check.lateFraction(lat, 400.0) == 2.0 / 3)
  }

  test("the tail percentile leaves ten samples beyond it") {
    assert(Check.tailPercentile(100) == 90)
    assert(Check.tailPercentile(1000) == 99)
    assert(Check.tailPercentile(12) == 50)
    assert(Check.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
  }

  test("the printed metric names and units are the ones BENCHMARK.json declares") {
    val file = Seq(Paths.get("..", "BENCHMARK.json"), Paths.get("BENCHMARK.json"))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    def declared(k: String): Seq[(String, String)] =
      root.get(k).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Main.endToEnd)
    assert(declared("per_layer") == Main.perLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.workloads)
  }
}
