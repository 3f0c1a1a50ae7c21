package perfbench

import java.nio.file.{Files, Path, Paths}

/** Layer probes of the traced run: the decode-only / decode+presence /
  * full-chain differential on the drain-churn corpus, the `local[1]`
  * baseline, and short traced runs of paced-steady and device-table, so
  * every per-layer metric is measured on every workload. */
object Probes {
  /** Files of the drain-churn corpus the differential plans drain. */
  val diffFiles = 24
  val probeSeconds = 2

  def shuffleLayers(s: Option[ShuffleListener], events: Long): Map[String, Double] =
    s.map(l => Map(
      "shuffle.bytes_per_event" -> l.shuffleBytes.toDouble / events,
      "shuffle.max_task_share" -> l.maxTaskShare)).getOrElse(Map.empty)

  /** Each plan drains the same files in a fresh session and checkpoint; a
    * plan's time is its drain of the batches after the first, a layer's
    * cost the difference of two plans. */
  def differential(env: Env): Result = {
    val st = DrainChurn.stage(env, Corpus.drain(env.seed).take(diffFiles))
    val plans = Seq("decode", "presence", "full")
    val runs = plans.map(p =>
      p -> env.tracer.span(s"diff.$p")(DrainChurn.round(env, st, Session.cores, p)))
    val rs = runs.toMap
    val one = env.tracer.span("diff.local1")(DrainChurn.round(env, st, 1))
    def seconds(p: String) = {
      val r = rs(p)
      r.progress.filter(_.numInputRows > 0).tail.map(_.numInputRows).sum / r.eventsPerS
    }
    val full = rs("full")
    val layers = Progress.layers(full.progress) ++
      shuffleLayers(full.shuffle, st.corpus.envelopes) ++ Map(
        "codec.decode_rows_per_s" -> rs("decode").eventsPerS,
        "presence.s" -> (seconds("presence") - seconds("decode")),
        "egress.s" -> (seconds("full") - seconds("presence")),
        "egress.rows" -> full.egressRows.toDouble,
        "egress.bytes" -> Pipeline.egressBytes(full.outDir).toDouble,
        "scaling.drain_events_per_s_1core" -> one.eventsPerS)
    val all = runs.map(_._2) :+ one
    Result(all.map(_.attempted).sum, all.map(_.failed).sum, Map.empty, layers)
  }
}

object Main {
  /** The timed workloads. device-table runs only as a traced-run probe: its
    * small-job latencies doubled under host CPU steal, beyond any bound. */
  val workloads: Seq[String] = Seq("drain-churn", "paced-steady")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "codec.decode_rows_per_s" -> "1/s",
    "codec.dropped_rows" -> "count",
    "state.all_updates_ms" -> "ms",
    "state.timer_processing_ms" -> "ms",
    "state.rows_removed" -> "count",
    "state.timers_registered" -> "count",
    "state.timers_deleted" -> "count",
    "state.commit_ms_mean" -> "ms",
    "state.rows_updated" -> "count",
    "state.rows_total" -> "count",
    "state.memory_used_bytes" -> "B",
    "presence.s" -> "s",
    "egress.s" -> "s",
    "egress.rows" -> "count",
    "egress.bytes" -> "B",
    "batch.latestOffset_ms" -> "ms",
    "batch.getBatch_ms" -> "ms",
    "batch.queryPlanning_ms" -> "ms",
    "batch.addBatch_ms" -> "ms",
    "batch.walCommit_ms" -> "ms",
    "batch.commitOffsets_ms" -> "ms",
    "batch.trigger_ms_p50" -> "ms",
    "batch.trigger_ms_tail" -> "ms",
    "batch.count" -> "count",
    "batch.rows_p50" -> "count",
    "source.backlog_files_max" -> "count",
    "generator.late_ms_tail" -> "ms",
    "late_fraction" -> "ratio",
    "shuffle.bytes_per_event" -> "B/event",
    "shuffle.max_task_share" -> "ratio",
    "table.upsert_ms_p50" -> "ms",
    "table.upsert_ms_tail" -> "ms",
    "table.point_read_ms_p50" -> "ms",
    "table.point_read_ms_tail" -> "ms",
    "table.snapshot_ms_p50" -> "ms",
    "table.compact_ms" -> "ms",
    "table.commit_attempts" -> "count",
    "table.files_live" -> "count",
    "table.ledgers_live" -> "count",
    "table.log_bytes_per_commit" -> "B",
    "table.prune_kept_ratio" -> "ratio",
    "plan.analysis_ms_mean" -> "ms",
    "plan.optimization_ms_mean" -> "ms",
    "plan.planning_ms_mean" -> "ms",
    "plan.execution_ms_mean" -> "ms",
    "core.session_s" -> "s",
    "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "scaling.drain_events_per_s_1core" -> "1/s",
    "failed_fraction" -> "ratio",
    "tracing.overhead_pct" -> "%")

  /** `short` runs (probes, the untraced reference) set up once. */
  def run(workload: String, env: Env, short: Boolean = false): Result = {
    val reps = if (short) 1 else Session.setups
    workload match {
      case "drain-churn" => DrainChurn.run(env, reps)
      case "paced-steady" => PacedSteady.run(env, reps)
    }
  }

  /** The probes, an untraced reference run (for the tracing overhead),
    * then the traced run; the workload's own layer numbers win over a
    * probe's. */
  def traced(workload: String, env: Env, trace: Path): Result = {
    val tracer = new Tracer(true)
    val tenv = env.copy(tracer = tracer)
    // the probes go first: they also warm every workload's code paths, so
    // the untraced reference and the traced run start from the same state
    val probe = tenv.copy(seconds = Probes.probeSeconds)
    val probes = Seq(
      tracer.span("probe.paced-steady")(run("paced-steady", probe, short = true)),
      tracer.span("probe.device-table")(DeviceTable.run(probe)),
      tracer.span("probe.differential")(Probes.differential(tenv)))
    val base = run(workload, env, short = true)
    val gc0 = Jvm.gcMs
    val main = tracer.span(s"workload.$workload")(run(workload, tenv))
    val gc = Jvm.gcMs - gc0
    tracer.write(trace)
    val parts = probes :+ main
    val attempted = parts.map(_.attempted).sum + base.attempted
    val failed = parts.map(_.failed).sum + base.failed
    val bt = base.endToEnd("throughput_per_s")
    val layers = parts.map(_.layers).reduce(_ ++ _) ++ Map(
      "jvm.gc_ms" -> gc,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb,
      "failed_fraction" -> main.failed.toDouble / main.attempted,
      "tracing.overhead_pct" -> 100.0 * (bt - main.endToEnd("throughput_per_s")) / bt)
    Result(attempted, failed, main.endToEnd, layers)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def json(r: Result, names: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = names.map { case (n, u) =>
      val v = values.getOrElse(n, throw new IllegalStateException(s"metric $n was not measured"))
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }
    s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(workloads.contains(workload), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val build = Paths.get(opts.getOrElse("build-dir", ".bench_build")).toAbsolutePath
    val work = build.resolve("work")
    deleteTree(work)
    Files.createDirectories(work)
    val env = Env(work, seed, seconds, Tracer.off)
    val line =
      try {
        if (!trace) {
          val r = run(workload, env)
          json(r, endToEnd, r.endToEnd + ("peak_rss_mb" -> Jvm.rssPeakMb))
        } else {
          val r = traced(workload, env, build.resolve("trace").resolve(s"$workload-seed$seed.json"))
          json(r, perLayer, r.layers)
        }
      } finally deleteTree(work)
    System.out.println(line)
    System.out.flush()
  }
}
