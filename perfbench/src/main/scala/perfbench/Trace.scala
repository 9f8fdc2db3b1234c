package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for a root); spans of one micro-batch or one query share `group`. */
final case class Span(id: Long, parent: Long, group: String, name: String,
    layer: String, startMs: Double, endMs: Double, count: Long = -1L)

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0L)
  private val buf = ArrayBuffer[Span]()

  def add(parent: Long, group: String, name: String, layer: String,
      startMs: Double, endMs: Double, count: Long = -1L): Long = {
    val id = ids.incrementAndGet()
    buf.synchronized(buf += Span(id, parent, group, name, layer, startMs, endMs, count))
    id
  }

  def all: Seq[Span] = buf.synchronized(buf.toSeq)

  /** Sets the end of a span opened with `add(..., startMs, startMs)`. */
  def close(id: Long, endMs: Double): Unit = buf.synchronized {
    val i = buf.lastIndexWhere(_.id == id)
    buf(i) = buf(i).copy(endMs = endMs)
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"group":"${s.group}","name":"${s.name}",""" +
        f""""layer":"${s.layer}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"count":${s.count}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Every micro-batch progress of every query, read through the listener
  * bus: `recentProgress` is a ring of the last 100 batches and silently
  * drops older ones. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer[StreamingQueryProgress]()
  @volatile var failure: Option[String] = None

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    buf.synchronized(buf += event.progress)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
    event.exception.foreach(e => failure = Some(e))

  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    buf.synchronized(buf.filter(_.runId == runId).toSeq)

  /** Waits until `ok` holds for some progress of the run, or gives up. */
  def await(runId: java.util.UUID, timeoutMs: Long)(ok: StreamingQueryProgress => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!of(runId).exists(ok) && System.currentTimeMillis() < deadline) Thread.sleep(20)
    of(runId).exists(ok)
  }
}

object ProgressLog {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + dur(p, "triggerExecution")

  /** The micro-batch as a span tree. The durations come without start
    * times, so children are laid end to end in execution order. */
  def addSpans(spans: Spans, tag: String, p: StreamingQueryProgress, sink: SinkLog): Unit = {
    val group = s"$tag/${p.batchId}"
    val root = spans.add(0L, group, "microbatch", "streaming", startMs(p), endMs(p), p.numInputRows)
    var t = startMs(p)
    Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
      "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
      .foreach { case (k, layer) =>
        val d = dur(p, k)
        val id = spans.add(root, group, k, layer, t, t + d)
        if (k == "addBatch") sink.batch(tag, p.batchId).foreach { b =>
          b.opsMs.foreach { case (a, e) => spans.add(id, group, "ops", "ops", a, e, b.rows) }
          spans.add(id, group, "upsert", "upsert", b.sinkStartMs, b.sinkEndMs, b.rows)
        }
        t += d
      }
  }
}

/** One foreachBatch call as the benchmark's wrapper saw it. `opsMs` is
  * the persist-and-count interval, present only when tracing. */
final case class SinkCall(tag: String, batchId: Long, sinkStartMs: Double, sinkEndMs: Double,
    opsMs: Option[(Double, Double)], rows: Long)

final class SinkLog {
  private val buf = ArrayBuffer[SinkCall]()
  def add(c: SinkCall): Unit = buf.synchronized(buf += c)
  def all: Seq[SinkCall] = buf.synchronized(buf.toSeq)
  def of(tag: String): Seq[SinkCall] = all.filter(_.tag == tag)
  def batch(tag: String, id: Long): Option[SinkCall] =
    buf.synchronized(buf.find(c => c.tag == tag && c.batchId == id))
}

/** Task, stage and job counters from the scheduler, collected while
  * `active`. Jobs and stages also become spans. */
final class TaskTrace(spans: Spans) extends SparkListener {
  @volatile var active = false
  private var busyMs, gcMs, shuffleBytes, spillBytes = 0L
  private val stageRuns = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
  private val jobStart = scala.collection.mutable.Map[Int, (Long, Seq[Int], Long, String)]()
  private val stageIv = scala.collection.mutable.Map[Int, (Long, Long, Int)]()
  /** Span id and group that jobs starting now hang under (the running
    * query), 0 if none. */
  @volatile var parentSpan = 0L
  @volatile var group = ""

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      busyMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      stageRuns.getOrElseUpdate(e.stageId, ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) jobStart(e.jobId) = (e.time, e.stageIds, parentSpan, group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageIv(i.stageId) = (a, b, i.numTasks)
  }

  /** Stages complete before their job ends, so both spans are added here. */
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, stages, parent, g) =>
      val id = spans.add(parent, g, s"job-${e.jobId}", "spark", t0.toDouble, e.time.toDouble)
      stages.flatMap(s => stageIv.remove(s).map(s -> _)).foreach { case (s, (a, b, n)) =>
        spans.add(id, g, s"stage-$s", "spark", a.toDouble, b.toDouble, n.toLong)
      }
    }
  }

  def reset(): Unit = synchronized {
    busyMs = 0; gcMs = 0; shuffleBytes = 0; spillBytes = 0; stageRuns.clear(); stageIv.clear()
  }

  /** (task busy s, gc s, shuffle MB, spill MB, skew) since the last reset.
    * Skew is the median over multi-task stages of max / mean task time. */
  def counters: (Double, Double, Double, Double, Double) = synchronized {
    val skews = stageRuns.values.filter(_.size >= 2).map { rs =>
      val mean = rs.sum.toDouble / rs.size
      if (mean > 0) rs.max / mean else 1.0
    }.toSeq
    (busyMs / 1e3, gcMs / 1e3, shuffleBytes / 1e6, spillBytes / 1e6,
      if (skews.isEmpty) 1.0 else Stats.median(skews))
  }
}

/** Peak used heap, sampled every 20 ms while running. */
final class HeapSampler extends Thread("heap-sampler") {
  setDaemon(true)
  @volatile var peakBytes = 0L
  @volatile private var stopped = false
  override def run(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    while (!stopped) {
      peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(20)
    }
  }
  def reset(): Unit = peakBytes = 0L
  def finish(): Unit = { stopped = true; join() }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
