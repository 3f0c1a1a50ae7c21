package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.WeatherJob
import graft.codec.AvroEnvelope
import graft.core.{EngineConfig, EngineSession}
import graft.operators.TxTable
import graft.streaming.SourceProvider

/** What one workload run measured: the inputs attempted and failed, the
  * end-to-end metrics and (traced runs) the per-layer ones. */
final case class Result(attempted: Long, failed: Long,
                        endToEnd: Map[String, Double], layers: Map[String, Double])

/** Where a run keeps its files, its seed and its time budget. */
final case class Env(work: Path, seed: Long, seconds: Int, tracer: Tracer) {
  def fresh(name: String): Path =
    Files.createDirectories(work.resolve(s"$name-${Env.dirs.incrementAndGet()}"))
}

object Env {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger
}

object Session {
  /** Task slots of the timed sessions: the engine's own core count
    * (`SPARK_GRAFT_CPUS`, which run.py pins to 3 so one core of the four
    * stays free for scheduling, the JIT compiler and GC). It also sets the
    * shuffle and state-store partition count. */
  val cores: Int = EngineSession.cpus.toInt

  /** A production-default engine session (EngineSession's conf and
    * partition count, RocksDB state store with changelog checkpointing) at
    * `local[cores]`. Returns the session and the seconds it took to start. */
  def start(cores: Int, env: Env): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = EngineSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", env.work.resolve("warehouse").toString)
      .config("spark.local.dir", env.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (spark, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-ups per timed run: the first pays the JVM's class loading and
    * compilation once, the later ones are what a restarted pipeline pays. */
  val setups = 5

  /** The median of the set-ups after the first (all of them when there is
    * only one): the first pays seconds of class loading and compilation
    * once per JVM and swings with them. */
  def warmMedian(xs: Seq[Double]): Double = Check.median(if (xs.size > 1) xs.tail else xs)
}

/** Helpers over the engine's own micro-batch progress reports. */
object Progress {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution").toLong

  /** The file-source log offset a batch read up to. */
  def endLogOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(o => """"logOffset":(\d+)""".r.findFirstMatchIn(o)).map(_.group(1).toLong)
      .getOrElse(-1L)

  /** Block until the query has finished a batch that read input. */
  def awaitFirstData(q: StreamingQuery, timeoutMs: Long = 120000L): StreamingQueryProgress = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (true) {
      q.exception.foreach(e => throw e)
      q.recentProgress.find(_.numInputRows > 0).foreach(p => return p)
      require(System.currentTimeMillis() < deadline, "no micro-batch read input in time")
      Thread.sleep(2)
    }
    throw new IllegalStateException("unreachable")
  }

  private def stateSum(ps: Seq[StreamingQueryProgress])(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
    ps.flatMap(_.stateOperators.headOption).map(f).sum

  private def custom(s: org.apache.spark.sql.streaming.StateOperatorProgress, k: String): Double =
    Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** batch.* and state.* layer metrics over a query's batches. */
  def layers(all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = all.filter(_.numInputRows > 0)
    val steady = if (data.size > 1) data.tail else data
    // phases are reported in whole ms; their mean keeps the sub-ms signal
    def mean(k: String) = steady.map(dur(_, k)).sum / steady.size
    val trig = steady.map(dur(_, "triggerExecution"))
    val ops = all.flatMap(_.stateOperators.headOption)
    Map(
      "batch.latestOffset_ms" -> mean("latestOffset"),
      "batch.getBatch_ms" -> mean("getBatch"),
      "batch.queryPlanning_ms" -> mean("queryPlanning"),
      "batch.addBatch_ms" -> mean("addBatch"),
      "batch.walCommit_ms" -> mean("walCommit"),
      "batch.commitOffsets_ms" -> mean("commitOffsets"),
      "batch.trigger_ms_p50" -> Check.median(trig),
      "batch.trigger_ms_tail" -> Check.tail(trig),
      "batch.count" -> all.size.toDouble,
      "batch.rows_p50" -> Check.median(data.map(_.numInputRows.toDouble)),
      "state.all_updates_ms" -> stateSum(all)(_.allUpdatesTimeMs.toDouble),
      "state.timer_processing_ms" -> stateSum(all)(custom(_, "timerProcessingTimeMs")),
      "state.rows_removed" -> stateSum(all)(_.numRowsRemoved.toDouble),
      "state.rows_updated" -> stateSum(all)(_.numRowsUpdated.toDouble),
      "state.timers_registered" -> stateSum(all)(custom(_, "numRegisteredTimers")),
      "state.timers_deleted" -> stateSum(all)(custom(_, "numDeletedTimers")),
      "state.commit_ms_mean" -> (if (ops.isEmpty) 0.0 else ops.map(_.commitTimeMs.toDouble).sum / ops.size),
      "state.rows_total" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal.toDouble).max),
      "state.memory_used_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes.toDouble).max))
  }

  /** The most files that were in the source directory but not yet consumed
    * when a batch ended. `files` gives, per file, when it appeared (epoch
    * ms) and the log offset its listing got (None: never listed). */
  def backlogMax(all: Seq[StreamingQueryProgress], files: Seq[(Double, Option[Long])]): Double =
    all.map { p =>
      val (end, upTo) = (endMs(p), endLogOffset(p))
      files.count { case (at, off) => at < end && off.forall(_ > upTo) }
    }.maxOption.getOrElse(0).toDouble

  /** file name -> file-source log offset, from the source's own log. The
    * offset counts listings that found new files, not query batches. */
  def fileOffsets(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => Paths.get(new java.net.URI(m.group(1)).getPath).getFileName.toString -> m.group(2).toLong)
      .toMap
  }
}

/** The production chain, driven through its public functions. */
object Pipeline {
  val valueSchema: StructType = StructType(Seq(StructField("value", BinaryType)))

  /** decode-only, decode+presence or the full chain over `raw`. */
  def build(spark: SparkSession, raw: DataFrame, plan: String,
            ttlMs: Long): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    import spark.implicits._
    val (readings, dropped) = AvroEnvelope.decodeWithMetrics(spark,
      raw.select("value").as[Array[Byte]], AvroEnvelope.defaultRegistry)
    val out = plan match {
      case "decode" => readings.toDF()
      case "presence" => WeatherJob.plan(spark, readings, ttlMs)
      case "full" => WeatherJob.sinkProjection(WeatherJob.plan(spark, readings, ttlMs))
    }
    (out, dropped)
  }

  /** Start `out` into the JSON file sink (full chain) or the no-op sink. */
  def start(out: DataFrame, plan: String, dir: Path, trigger: Trigger): StreamingQuery = {
    val w = out.writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .outputMode("append").trigger(trigger)
    (if (plan == "full") w.format("json").option("path", dir.resolve("out").toString)
     else w.format("noop")).start()
  }

  /** Egress lines as the check compares them, read back through the sink's
    * commit log (only committed files). */
  def egress(spark: SparkSession, dir: Path): Array[String] = {
    import spark.implicits._
    spark.read.schema("key STRING, value STRING").json(dir.resolve("out").toString)
      .as[(String, String)].collect().map { case (k, v) => s"$k\t$v" }
  }

  def egressBytes(dir: Path): Long =
    Files.list(dir.resolve("out")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).map(Files.size).sum

  /** failed outputs of one run: 0 when the digests agree, else the exact
    * multiset difference. */
  def failures(expected: Seq[String], expectedDigest: Check.Digest,
               actual: Array[String]): Long =
    if (Check.digest(actual.iterator) == expectedDigest) 0L
    else Check.mismatches(expected, actual)
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val offsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs
}

object Jvm {
  /** Peak resident set of this JVM (the kernel's high-water mark). */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
  def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  def heapPeakMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024)
}

/** drain-churn: catch-up drain of a pre-staged corpus in
  * `maxFilesPerTrigger`-sized batches through the full production chain.
  * Set-up (session start through the first completed batch) is taken
  * `Session.setups` times, each in a fresh session over the corpus's first
  * `setupFiles` files; the last session then drains the whole corpus in one
  * query, whose batches after the first give throughput and batch latency. */
object DrainChurn {
  val maxFilesPerTrigger = 4
  val setupFiles = 4

  final case class Round(setupS: Double, sessionS: Double, laterEvents: Long, laterMs: Long,
                         batchMs: Seq[Double], failed: Long, attempted: Long, dropped: Long,
                         backlogMax: Double, progress: Seq[StreamingQueryProgress], outDir: Path,
                         egressRows: Long, shuffle: Option[ShuffleListener]) {
    def eventsPerS: Double = laterEvents * 1000.0 / laterMs
  }

  final case class Staged(corpus: Corpus.Corpus, dir: Path, expected: Seq[String],
                          digest: Check.Digest)

  def stage(env: Env, corpus: Corpus.Corpus): Staged = {
    val dir = env.fresh("drain-src")
    Corpus.writeAll(corpus, dir)
    val expected = Check.expectedTransitions(corpus.readings, corpus.ttlMs, corpus.maxTs)
    Staged(corpus, dir, expected, Check.digest(expected.iterator))
  }

  /** Drain `st` to the end with one AvailableNow query in `spark`, then
    * check its output; `t0` is when this drain's set-up began. */
  def drain(spark: SparkSession, env: Env, st: Staged, plan: String,
            t0: Long, sessionS: Double): Round = {
    val shuffle = Listeners.shuffle(spark, env.tracer)
    val dir = env.fresh("drain")
    val raw = spark.readStream.schema(Pipeline.valueSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
      .parquet(st.dir.toString)
    val (out, dropped) = Pipeline.build(spark, raw, plan, st.corpus.ttlMs)
    val q = Pipeline.start(out, plan, dir, Trigger.AvailableNow())
    q.awaitTermination()
    shuffle.foreach(spark.sparkContext.removeSparkListener)
    val all = q.recentProgress.toSeq
    val data = all.filter(_.numInputRows > 0)
    // every file is in the source directory before the query starts
    val offsets = Progress.fileOffsets(dir.resolve("ckpt"))
    val backlog = Progress.backlogMax(all, st.corpus.files.indices.map(i =>
      (Double.NegativeInfinity, offsets.get(Corpus.fileName(i)))))
    val firstEnd = Progress.endMs(data.head)
    val lastEnd = Progress.endMs(all.last)
    val tc = System.currentTimeMillis()
    val egress = if (plan == "full") Pipeline.egress(spark, dir) else Array.empty[String]
    val failedOut =
      if (plan != "full") 0L else Pipeline.failures(st.expected, st.digest, egress)
    System.err.println(s"[perfbench] drain plan=$plan files=${st.corpus.files.size} " +
      s"setup=${firstEnd - t0}ms drain=${lastEnd - firstEnd}ms check=${System.currentTimeMillis() - tc}ms " +
      s"batches=${data.size} batch_ms=${data.map(Progress.dur(_, "triggerExecution").toLong).mkString(",")}")
    Round((firstEnd - t0) / 1000.0, sessionS, data.tail.map(_.numInputRows).sum,
      lastEnd - firstEnd, data.tail.map(Progress.dur(_, "triggerExecution")),
      failedOut + math.abs(dropped.value - st.corpus.poison),
      (if (plan == "full") st.expected.size else 0) + st.corpus.poison,
      dropped.value, backlog, all, dir, egress.length.toLong, shuffle)
  }

  /** [[drain]] in a session of its own. */
  def round(env: Env, st: Staged, cores: Int, plan: String = "full"): Round = {
    val t0 = System.currentTimeMillis()
    val (spark, sessionS) = Session.start(cores, env)
    try {
      Listeners.attach(spark, env.tracer)
      drain(spark, env, st, plan, t0, sessionS)
    } finally spark.stop()
  }

  def run(env: Env, setupReps: Int = Session.setups): Result = {
    val tg = System.currentTimeMillis()
    val corpus = Corpus.drain(env.seed)
    val st = stage(env, corpus)
    val first = stage(env, corpus.take(setupFiles))
    System.err.println(s"[perfbench] drain corpus staged in ${System.currentTimeMillis() - tg}ms")
    val sets = Seq.newBuilder[Round]
    var spark: SparkSession = null
    for (_ <- 0 until setupReps) {
      if (spark != null) spark.stop()
      // a set-up should not pay for its predecessor's garbage
      System.gc()
      val t0 = System.currentTimeMillis()
      val (s, ss) = Session.start(Session.cores, env)
      spark = s
      Listeners.attach(spark, env.tracer)
      sets += env.tracer.span("drain.setup")(drain(spark, env, first, "full", t0, ss))
    }
    val setupRounds = sets.result()
    val main =
      try env.tracer.span("drain.main")(
        drain(spark, env, st, "full", System.currentTimeMillis(), 0.0))
      finally spark.stop()
    val e2e = Map(
      "setup_s" -> Session.warmMedian(setupRounds.map(_.setupS)),
      "throughput_per_s" -> main.eventsPerS,
      "latency_p50_ms" -> Check.median(main.batchMs),
      "latency_tail_ms" -> Check.tail(main.batchMs))
    val layers =
      if (!env.tracer.enabled) Map.empty[String, Double]
      else Progress.layers(main.progress) ++ Map(
        "core.session_s" -> Session.warmMedian(setupRounds.map(_.sessionS)),
        "codec.dropped_rows" -> main.dropped.toDouble,
        "source.backlog_files_max" -> main.backlogMax) ++
        Probes.shuffleLayers(main.shuffle, st.corpus.envelopes)
    val rs = setupRounds :+ main
    Result(rs.map(_.attempted).sum, rs.map(_.failed).sum, e2e, layers)
  }
}

/** paced-steady: an open loop. A generator thread publishes pre-written
  * files by atomic rename every `periodMs` to a ProcessingTime pipeline;
  * each file's latency runs from its due time to the end of the batch that
  * consumed it. */
object PacedSteady {
  val periodMs = 100L
  val triggerMs = 1000L
  val latencyLimitMs = 2000.0

  def run(env: Env, setupReps: Int = Session.setups): Result = {
    val warm = Corpus.warmFiles()
    val nPaced = (env.seconds * 1000L / periodMs).toInt
    val corpus = Corpus.paced(env.seed, warm + nPaced)
    val expected = Check.expectedTransitions(corpus.readings, corpus.ttlMs, corpus.maxTs)
    // every paced file is written before the clock starts; the generator only renames
    val stage = env.fresh("paced-stage")
    val staged = corpus.files.zipWithIndex.drop(warm).map { case (es, i) =>
      val p = stage.resolve(Corpus.fileName(i)); Corpus.writeFile(p, es); p
    }
    val setupS = Seq.newBuilder[Double]
    val sessionS = Seq.newBuilder[Double]
    var live: (SparkSession, StreamingQuery, Path, Path,
      org.apache.spark.util.LongAccumulator) = null
    for (r <- 0 until setupReps) {
      val dir = env.fresh("paced")
      val src = dir.resolve("src")
      Corpus.writeAll(corpus.take(warm), src)
      // a set-up should not pay for its predecessor's garbage
      System.gc()
      val t0 = System.currentTimeMillis()
      val (spark, ss) = Session.start(Session.cores, env)
      Listeners.attach(spark, env.tracer)
      val raw = SourceProvider(spark, EngineConfig(Array("--source", "file",
        "--source.path", src.toString)))
      val (out, dropped) = Pipeline.build(spark, raw, "full", corpus.ttlMs)
      val q = Pipeline.start(out, "full", dir, Trigger.ProcessingTime(triggerMs))
      setupS += (Progress.endMs(Progress.awaitFirstData(q)) - t0) / 1000.0
      sessionS += ss
      if (r < setupReps - 1) { q.stop(); spark.stop() }
      else live = (spark, q, dir, src, dropped)
    }
    val (spark, q, dir, src, dropped) = live
    val shuffle = Listeners.shuffle(spark, env.tracer)
    try {
      val published = new Array[Double](nPaced)
      // ProcessingTime fires on multiples of the interval: the schedule
      // starts 50 ms past a trigger, so every run sees the same phase
      val start = (math.floor(Clock.nowMs / triggerMs) + 1) * triggerMs + 50
      val due = (0 until nPaced).map(k => start + k * periodMs)
      val gen = new Thread(() => {
        for (k <- 0 until nPaced) {
          val wait = due(k) - Clock.nowMs
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          Files.move(staged(k), src.resolve(staged(k).getFileName), StandardCopyOption.ATOMIC_MOVE)
          published(k) = Clock.nowMs
        }
      }, "perfbench-generator")
      env.tracer.span("paced.generator") { gen.start(); gen.join() }
      q.processAllAvailable()
      q.stop()
      val all = q.recentProgress.toSeq
      // a file is consumed by the first batch whose source end offset reaches
      // the offset its listing got in the source log
      val fileOffset = Progress.fileOffsets(dir.resolve("ckpt"))
      val offsetOf = (k: Int) => fileOffset.get(Corpus.fileName(warm + k))
      val consumedEnd = (o: Long) =>
        all.find(p => Progress.endLogOffset(p) >= o).map(Progress.endMs(_).toDouble)
      val lat = Check.ingestLatencies(due, offsetOf, consumedEnd)
      val got = lat.flatten
      val unconsumed = lat.count(_.isEmpty)
      val failedOut = Pipeline.failures(expected, Check.digest(expected.iterator),
        Pipeline.egress(spark, dir))
      val consumedEvents = got.size.toLong * Corpus.pacedSpec.perFile
      val lastEnd = lat.indices.flatMap(k => lat(k).map(_ + due(k))).max
      val e2e = Map(
        "setup_s" -> Session.warmMedian(setupS.result()),
        "throughput_per_s" -> consumedEvents * 1000.0 / (lastEnd - start),
        "latency_p50_ms" -> Check.median(got),
        "latency_tail_ms" -> Check.tail(got))
      val layers =
        if (!env.tracer.enabled) Map.empty[String, Double]
        else {
          val late = Check.generatorLateness(due, published.toIndexedSeq)
          Progress.layers(all) ++ Map(
            "core.session_s" -> Session.warmMedian(sessionS.result()),
            "codec.dropped_rows" -> dropped.value.toDouble,
            "source.backlog_files_max" ->
              Progress.backlogMax(all, (0 until nPaced).map(k => (published(k), offsetOf(k)))),
            "generator.late_ms_tail" -> Check.tail(late),
            "late_fraction" -> Check.lateFraction(lat, latencyLimitMs)) ++
            Probes.shuffleLayers(shuffle, consumedEvents)
        }
      Result(expected.size + nPaced.toLong, failedOut + unconsumed + dropped.value, e2e, layers)
    } finally spark.stop()
  }
}

/** device-table, a traced-run probe: a closed loop with one client against
  * a TxTable holding the latest reading per device, key-statistics and
  * blooms on the device id. Each iteration upserts one epoch of rows
  * merge-on-read, then point reads hot and cold ids; every `compactEvery`
  * epochs it compacts. One client: the next request goes out when the last
  * one returned. Reports the table.* and plan.* layers. */
object DeviceTable {
  val devices = 20000
  val perEpoch = 400
  val hotDevices = 1000
  val compactEvery = 3
  /** Point reads per epoch of ids just upserted, and as many of cold ids. */
  val readsPerKind = 3

  final case class Row(device_id: Long, ts_ms: Long, temperature: Double)

  def run(env: Env): Result = {
    val rng = new java.util.SplittableRandom(env.seed)
    val latest = scala.collection.mutable.HashMap.empty[Long, Row]
    val initial = (0 until devices).map { d =>
      Row(d.toLong, Corpus.T0, -20.0 + rng.nextInt(600) / 10.0)
    }
    initial.foreach(r => latest(r.device_id) = r)
    val (spark, _) = Session.start(Session.cores, env)
    val root = env.fresh("table").resolve("t").toString
    import spark.implicits._
    Listeners.attach(spark, env.tracer)
    val tr = env.tracer
    val upsertMs, readMs, snapMs, compactMs = Seq.newBuilder[Double]
    val phases = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val kept = Seq.newBuilder[Double]
    var attempts = 0L
    var failed = 0L
    var attempted = 0L
    var epoch = 0
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

    /** One epoch: upsert, point reads, and a compaction every
      * `compactEvery` epochs; timings kept only when `record`. */
    def iteration(record: Boolean): Unit = {
      epoch += 1
      val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (ids.size < perEpoch)
        ids += (if (rng.nextBoolean()) rng.nextInt(hotDevices) else rng.nextInt(devices)).toLong
      val rows = ids.toSeq.map(d => Row(d, Corpus.T0 + epoch * 1000L, -20.0 + rng.nextInt(600) / 10.0))
      val df = rows.toDF()
      val tu = System.nanoTime()
      val res = tr.span("table.upsert")(
        TxTable.mergeMor(spark, root, df, "device_id", Some(s"epoch-$epoch")))
      if (record) upsertMs += ms(tu)
      attempts += res.attempts
      attempted += 1
      rows.foreach(r => latest(r.device_id) = r)
      val hot = ids.toSeq.take(readsPerKind)
      val cold = Seq.fill(readsPerKind)((hotDevices + rng.nextInt(devices - hotDevices)).toLong)
      (hot ++ cold).foreach { id =>
        val tq = System.nanoTime()
        val (read, built) = tr.span("table.point_read") {
          val ds = TxTable.pointRead(spark, root, Seq(id)).as[Row]
          val built = ms(tq)
          val out = ds.collect()
          if (record)
            ds.queryExecution.tracker.phases.foreach { case (k, v) =>
              phases(k) = phases(k) :+ v.durationMs.toDouble }
          (out, built)
        }
        val took = ms(tq)
        attempted += 1
        if (!(read.length == 1 && read.head == latest(id))) failed += 1
        if (record) {
          readMs += took
          // the tracker's own analysis phase covers only the last step of
          // the read's plan; building the DataFrame is the analysis
          phases("build") = phases("build") :+ built
          phases("total") = phases("total") :+ took
          val (_, k, total) = TxTable.pointPruneAccounting(root, Seq(id))
          kept += k.toDouble / total
        }
      }
      if (record) {
        val ts = System.nanoTime(); TxTable.snapshot(root); snapMs += ms(ts)
      }
      if (epoch % compactEvery == 0) {
        val tc = System.nanoTime()
        attempts += tr.span("table.compact")(TxTable.compact(spark, root)).attempts
        if (record) compactMs += ms(tc)
      }
    }

    try {
      TxTable.create(initial.toDF(), root, Some("device_id"))
      // one untimed epoch first: the upsert and read paths' first calls
      // pay class loading and code generation a running client does not
      iteration(record = false)
      val t0 = System.nanoTime()
      // whole compaction cycles, so every run averages over the same mix
      // of fresh and ledger-laden reads
      while ((System.nanoTime() - t0) / 1e9 < env.seconds || epoch % compactEvery != 0)
        iteration(record = true)
      val table = TxTable.read(spark, root).as[Row].collect()
      val finalFailed = Check.mismatches(latest.values.map(_.toString), table.map(_.toString))
      val reads = readMs.result()
      val snap = TxTable.snapshot(root)
      val logs = Files.list(Paths.get(root, "_log")).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.matches("\\d+\\.json"))
      val ups = upsertMs.result()
      // tracker phases come in whole ms; the mean keeps the sub-ms signal
      def phase(k: String) = if (phases(k).isEmpty) 0.0 else phases(k).sum / phases(k).size
      val planMs = phase("build") + phase("optimization") + phase("planning")
      val layers = Map(
        "table.upsert_ms_p50" -> Check.median(ups),
        "table.upsert_ms_tail" -> Check.tail(ups),
        "table.point_read_ms_p50" -> Check.median(reads),
        "table.point_read_ms_tail" -> Check.tail(reads),
        "table.snapshot_ms_p50" -> Check.median(snapMs.result()),
        "table.compact_ms" -> Check.median(compactMs.result()),
        "table.commit_attempts" -> attempts.toDouble,
        "table.files_live" -> snap.files.size.toDouble,
        "table.ledgers_live" -> snap.ledgers.size.toDouble,
        "table.log_bytes_per_commit" -> logs.map(Files.size).sum.toDouble / logs.size,
        "table.prune_kept_ratio" -> Check.median(kept.result()),
        "plan.analysis_ms_mean" -> phase("build"),
        "plan.optimization_ms_mean" -> phase("optimization"),
        "plan.planning_ms_mean" -> phase("planning"),
        "plan.execution_ms_mean" -> (phase("total") - planMs))
      Result(attempted + latest.size, failed + finalFailed, Map.empty, layers)
    } finally spark.stop()
  }
}
