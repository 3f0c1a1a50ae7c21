package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans and counts of one traced run, held in memory and written as one
  * JSON file when the run ends. A span is (id, name, parent, start, end)
  * in epoch milliseconds; spans recorded inside another span name it as
  * their parent. Only the traced run builds one; untraced runs pass
  * [[Tracer.off]] and pay one branch per call. */
final class Tracer(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var open: List[Int] = Nil
  private var nextId = 0


  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val start = Clock.nowMs
      try f
      finally {
        open = open.tail
        synchronized(spans += Span(id, name, parent, start, Clock.nowMs))
      }
    }

  /** A span whose bounds were measured elsewhere (e.g. a micro-batch phase
    * reported by the streaming engine). */
  def record(name: String, startMs: Double, endMs: Double, parent: Int = 0): Int =
    if (!enabled) 0
    else synchronized {
      nextId += 1
      spans += Span(nextId, name, parent, startMs, endMs)
      nextId
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized(counts(name) = counts.getOrElse(name, 0.0) + v)

  def write(path: Path): Unit = if (enabled) synchronized {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.map(s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
      .mkString(",")
    sb ++= "],\"counts\":{"
    sb ++= counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    sb ++= "}}\n"
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** Shuffle accounting from public task-end events: bytes written, and per
  * stage the records the busiest task read against the stage's total. */
final class ShuffleListener extends SparkListener {
  private var bytesWritten = 0L
  private val stageRead = mutable.HashMap.empty[Int, (Long, Long)] // stage -> (max, sum)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      bytesWritten += m.shuffleWriteMetrics.bytesWritten
      val r = m.shuffleReadMetrics.recordsRead
      if (r > 0) {
        val (mx, sum) = stageRead.getOrElse(e.stageId, (0L, 0L))
        stageRead(e.stageId) = (math.max(mx, r), sum + r)
      }
    }
  }

  def shuffleBytes: Long = synchronized(bytesWritten)

  /** Busiest task's share of shuffle-read records, summed over stages. */
  def maxTaskShare: Double = synchronized {
    val total = stageRead.values.map(_._2).sum
    if (total == 0) 0.0 else stageRead.values.map(_._1).sum.toDouble / total
  }
}

/** Records every micro-batch of the traced queries as a span with its
  * engine-reported phases as child spans. */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p: StreamingQueryProgress = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs
    val total = Option(d.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    val id = tracer.record(s"batch.${p.batchId}", start, start + total)
    var at = start
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
      .foreach { k =>
        Option(d.get(k)).foreach { v =>
          tracer.record(s"batch.$k", at, at + v.doubleValue, id)
          at += v.doubleValue
        }
      }
    tracer.count("batch.rows", p.numInputRows.toDouble)
  }
}

object Listeners {
  /** Register the traced run's micro-batch listener on `spark`. */
  def attach(spark: SparkSession, tracer: Tracer): Unit =
    if (tracer.enabled) spark.streams.addListener(new ProgressListener(tracer))

  /** A fresh shuffle listener on `spark` (traced runs only). */
  def shuffle(spark: SparkSession, tracer: Tracer): Option[ShuffleListener] =
    if (!tracer.enabled) None
    else {
      val sl = new ShuffleListener
      spark.sparkContext.addSparkListener(sl)
      Some(sl)
    }
}
