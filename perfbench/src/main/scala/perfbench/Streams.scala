package perfbench

import java.nio.file.{Files, Path}
import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.StarterDemo
import graft.sources.Sources
import graft.streaming.UpsertSink

/** A streaming workload: one reference job fed by the generator at a
  * fixed open-loop rate, then by a pre-loaded backlog.
  *
  * `keys` and `rate` are the generator's; `sinkKey` is the program's
  * upsert key (`StarterDemo.upsertKey`) with `key` renamed to `k`,
  * because Derby rejects a column named `key`. */
final case class StreamSpec(job: String, interval: String, keys: String, rate: Int,
    ddlColumns: String, sinkKey: Seq[String], drainEvents: Int, drainPerFile: Int,
    drainFilesPerTrigger: Int)

object Streams {

  /** StreamJobSqlTumbling: 8 uniform classes, 1 s windows. */
  val Tumbling = StreamSpec("StreamJobSqlTumbling", "1 second", "uniform8", 4000,
    "k VARCHAR(64) NOT NULL, cnt BIGINT, window_start TIMESTAMP NOT NULL, " +
      "window_end TIMESTAMP NOT NULL",
    Seq("k", "window_start", "window_end"), 60000, 2000, 5)

  /** StreamJobSqlSliding: per-row trailing count over 60 s, ~10k Zipf
    * classes, every input row one sink row. */
  val Sliding = StreamSpec("StreamJobSqlSliding", "60 seconds", "zipf:10000:1.0", 1000,
    "k VARCHAR(64) NOT NULL, ts TIMESTAMP NOT NULL, trailing_cnt BIGINT",
    Seq("k", "ts"), 20000, 1000, 2)

  private val WarmupS = 4
  private val TailS = 2
  private val TickMs = 50
  /** Validity limits of a live run: the generator may not fall behind
    * its schedule, and the backlog may not grow at the fixed rate. */
  private val MaxGenLateP95Ms = 200.0
  private val MaxBacklogGrowthS = 1.0

  def run(opts: Opts, spec0: StreamSpec): Outcome = {
    val spec = if (opts.smoke)
      spec0.copy(rate = math.min(spec0.rate, 200), drainEvents = 2000,
        drainPerFile = 500, drainFilesPerTrigger = 2)
    else spec0
    val spark = Main.session(opts)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val spans = new Spans
    val tasks = new TaskTrace(spans)
    val heap = new HeapSampler
    if (opts.trace) { spark.sparkContext.addSparkListener(tasks); heap.start() }
    val url = "jdbc:derby:memory:perfbench;create=true"
    val sinkLog = new SinkLog
    val notes = Seq.newBuilder[String]

    // A drain reads a pre-loaded backlog, a bounded number of files per
    // trigger, through the same reader `Sources.geojsonLinesDir` builds
    // (which takes no options). Returns the median batch rate after the
    // first batch (query start), the wall time to the last commit and
    // the query's run id.
    var setupGenMs = -1.0
    val drained = Seq.newBuilder[(String, Feed)]
    def drain(tag: String, events: Int, traced: Boolean): (Double, Double, java.util.UUID) = {
      val dir = mkdir(opts.work.resolve(s"feed-$tag"))
      createTable(url, tag, spec)
      val g = Main.nowMs
      Gen.backlog(opts, dir, spec, events)
      if (setupGenMs < 0) setupGenMs = Main.nowMs - g
      val feed = Feed.read(dir)
      drained += tag -> feed
      val raw = spark.readStream.option("maxFilesPerTrigger", spec.drainFilesPerTrigger.toLong)
        .text(dir.toString)
      val t0 = Main.nowMs
      val q = start(spark, spec, raw, url, tag, opts, sinkLog, traced)
      finish(q, progress, spec, feed, 120000L, notes)
      val wall = (Main.nowMs - t0) / 1000.0
      val ps = progress.of(q.runId).filter(_.numInputRows > 0).sortBy(_.batchId).drop(1)
      val eps = if (ps.isEmpty) Double.NaN
        else Stats.median(ps.map(p => p.numInputRows * 1000.0 / ProgressLog.dur(p, "triggerExecution")))
      (eps, wall, q.runId)
    }

    // ---- set-up: one batch of backlog, the process's first commit; it
    // also warms the JVM for the phases that are measured. Writing the
    // backlog is the generator's time, not the program's.
    drain("setup", spec.drainPerFile * spec.drainFilesPerTrigger, traced = false)
    val setupS = (sinkLog.all.map(_.sinkEndMs).min - Main.jvmStartMs - setupGenMs) / 1000.0

    // ---- live phase: fixed open-loop rate ----
    val liveDir = mkdir(opts.work.resolve("feed-live"))
    createTable(url, "live", spec)
    val live = start(spark, spec, Sources.geojsonLinesDir(spark, liveDir.toString),
      url, "live", opts, sinkLog, opts.trace)
    val t0Us = ((Main.nowMs + 300.0) * 1000).toLong
    val measureFromMs = t0Us / 1000.0 + WarmupS * 1000.0
    val measureToMs = measureFromMs + opts.seconds * 1000.0
    val genSeconds = WarmupS + opts.seconds + TailS
    tasks.reset()
    tasks.active = opts.trace
    heap.reset()
    val genLateP95Ms = Gen.live(opts, liveDir, spec, t0Us, genSeconds, TickMs)
    val liveFeed = Feed.read(liveDir)
    finish(live, progress, spec, liveFeed, 60000L, notes)
    tasks.active = false
    val (busyS, gcS, shufMb, spillMb, skew) = tasks.counters
    val heapMb = heap.peakBytes / 1e6

    // ---- drain phase: throughput. With tracing on, an untraced drain of
    // the same backlog just before the traced one gives the overhead.
    val plainEps = if (opts.trace) Some(drain("drain_plain", spec.drainEvents, traced = false)._1)
      else None
    val (eps, drainWall, drainId) = drain("drain", spec.drainEvents, opts.trace)

    // ---- output check against a plain-Scala oracle ----
    val liveCheck = Check.run(url, "live", spec, liveFeed)
    val drainChecks = drained.result().map { case (tag, feed) => tag -> Check.run(url, tag, spec, feed) }
    val checks = liveCheck +: drainChecks.map(_._2)
    progress.failure.foreach(f => notes += s"query failed: ${f.take(300)}")

    // ---- latency: sink commit minus due time, measured window only ----
    val calls = sinkLog.of("live").sortBy(_.sinkEndMs)
    val lat = liveCheck.samples.flatMap { case (dueMs, writtenMs) =>
      if (dueMs < measureFromMs || dueMs >= measureToMs) None
      else writtenMs match {
        case Some(w) =>
          // the batch whose sink call wrote the row; its end is the commit
          calls.find(_.sinkEndMs >= w).map(c => (c.sinkEndMs - dueMs) / 1000.0)
            .orElse(Some(Double.PositiveInfinity))
        case None => Some(Double.PositiveInfinity) // never written: misses every limit
      }
    }
    if (lat.isEmpty) notes += "no latency samples in the measured window"

    // ---- validity: generator on schedule, no backlog growth ----
    val liveRuns = progress.of(live.runId)
    val measured = liveRuns.filter { p =>
      val t = ProgressLog.startMs(p)
      t >= measureFromMs && t < measureToMs
    }
    val backlog = backlogSeries(liveRuns, measured, spec, t0Us)
    val growth = if (backlog.size >= 3) {
      val third = math.max(1, backlog.size / 3)
      (backlog.takeRight(third).sum / third - backlog.take(third).sum / third) / spec.rate
    } else 0.0
    var valid = true
    if (genLateP95Ms > MaxGenLateP95Ms) {
      valid = false; notes += f"invalid: generator ran late (p95 $genLateP95Ms%.1f ms)"
    }
    if (growth > MaxBacklogGrowthS) {
      valid = false; notes += f"invalid: backlog grew by $growth%.2f s of input over the window"
    }
    notes += s"latency samples=${lat.size} live batches=${measured.size} " +
      s"events live=${liveFeed.events.size} drain=${spec.drainEvents}"

    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_eps" -> eps,
      "latency_p50_s" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat)),
      "latency_p95_s" -> (if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.95)),
      "suite_s" -> drainWall)

    val layer = if (!opts.trace) Map.empty[String, Double] else {
      measured.foreach(p => ProgressLog.addSpans(spans, "live", p, sinkLog))
      val drainQ = progress.of(drainId).filter(_.numInputRows > 0)
      val self = spans.selfMsByLayer
      val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)
      val state = measured.map(_.stateOperators.toSeq)
      val upsertMs = sinkLog.of("live").filter(c =>
        c.sinkStartMs >= measureFromMs && c.sinkStartMs < measureToMs).map(c => c.sinkEndMs - c.sinkStartMs)
      val allCalls = Seq("live", "drain").flatMap(sinkLog.of)
      val written = allCalls.map(_.rows).sum.toDouble
      val sinkBusyS = allCalls.map(c => c.sinkEndMs - c.sinkStartMs).sum / 1000.0
      val finalRows = (liveCheck.tableRows + drainChecks.toMap.apply("drain").tableRows).toDouble
      val drainCalls = sinkLog.of("drain")
      Map(
        "sources.latest_offset_ms" -> med(measured.map(ProgressLog.dur(_, "latestOffset"))),
        "sources.get_batch_ms" -> med(measured.map(ProgressLog.dur(_, "getBatch"))),
        "sources.gen_late_p95_ms" -> genLateP95Ms,
        "sources.backlog_max_events" -> (if (backlog.isEmpty) 0.0 else backlog.max),
        "streaming.trigger_ms_p50" -> med(measured.map(ProgressLog.dur(_, "triggerExecution"))),
        "streaming.planning_ms" -> med(measured.map(ProgressLog.dur(_, "queryPlanning"))),
        "streaming.commit_ms" -> med(measured.map(p =>
          ProgressLog.dur(p, "walCommit") + ProgressLog.dur(p, "commitOffsets"))),
        "streaming.rows_per_batch" -> med(drainQ.map(_.numInputRows.toDouble)),
        "streaming.state_rows_max" -> (0.0 +: state.map(_.map(_.numRowsTotal).sum.toDouble)).max,
        "streaming.state_mem_mb_max" -> (0.0 +: state.map(_.map(_.memoryUsedBytes).sum / 1e6)).max,
        "streaming.state_commit_ms" -> med(state.map(_.map(_.commitTimeMs).sum.toDouble)),
        "streaming.rows_dropped_late" -> liveRuns.flatMap(_.stateOperators.toSeq)
          .map(_.numRowsDroppedByWatermark).sum.toDouble,
        "ops.exec_ms_p50" -> med(drainCalls.flatMap(_.opsMs).map { case (a, b) => b - a }),
        "upsert.ms_p50" -> med(upsertMs),
        "upsert.ms_p95" -> (if (upsertMs.isEmpty) 0.0 else Stats.quantile(upsertMs, 0.95)),
        "upsert.rows_written" -> written,
        "upsert.rows_per_s" -> (if (sinkBusyS > 0) written / sinkBusyS else 0.0),
        "upsert.write_ratio" -> (if (written > 0) finalRows / written else 0.0),
        "spark.task_busy_s" -> busyS, "spark.gc_s" -> gcS, "spark.shuffle_mb" -> shufMb,
        "spark.spill_mb" -> spillMb, "spark.task_skew" -> skew, "spark.heap_peak_mb" -> heapMb,
        "trace.overhead_pct" -> plainEps.map(p => (p / eps - 1.0) * 100.0).getOrElse(0.0)) ++
        Seq("sources", "streaming", "ops", "upsert", "spark").map(l =>
          s"trace.self_${l}_ms" -> self.getOrElse(l, 0.0))
    }
    if (opts.trace) {
      heap.finish()
      spans.writeJsonLines(opts.work.resolve("spans.jsonl"))
    }
    spark.stop()
    Outcome(checks.map(_.expected).sum, checks.map(_.failed).sum, valid,
      e2e ++ layer, notes.result())
  }

  /** Builds the reference job through `StarterDemo.buildJob` and starts it
    * into the Derby table `tag` through the benchmark's wrapper. */
  private def start(spark: SparkSession, spec: StreamSpec, raw: DataFrame, url: String,
      tag: String, opts: Opts, sinkLog: SinkLog, traced: Boolean): StreamingQuery = {
    val upsert = UpsertSink.jdbcForeachBatchUpsert(url, tag, spec.sinkKey) _
    StarterDemo.buildJob(spec.job, raw, spec.interval)
      .writeStream.outputMode("append")
      .option("checkpointLocation", opts.work.resolve(s"ckpt-$tag").toString)
      .foreachBatch((df: DataFrame, id: Long) => wrapper(upsert, sinkLog, tag, traced)(df, id))
      .start()
  }

  /** The foreachBatch wrapper. The batch reaches the sink as the job
    * emitted it (only `key` is renamed to `k`). When tracing, the batch is
    * persisted and counted first, so the `ops` span holds the upstream
    * plan and the `upsert` span holds the sink alone; untraced, the sink
    * call runs the upstream plan itself. */
  private def wrapper(upsert: (DataFrame, Long) => Unit, sinkLog: SinkLog, tag: String,
      traced: Boolean)(df: DataFrame, id: Long): Unit = {
    val out = df.withColumnRenamed("key", "k")
    if (traced) {
      val a = Main.nowMs
      out.persist()
      val n = out.count()
      val b = Main.nowMs
      try upsert(out, id) finally out.unpersist()
      sinkLog.add(SinkCall(tag, id, b, Main.nowMs, Some((a, b)), n))
    } else {
      val a = Main.nowMs
      upsert(out, id)
      sinkLog.add(SinkCall(tag, id, a, Main.nowMs, None, -1L))
    }
  }

  /** Lets the query consume its whole feed, then stops it. A window job
    * is done once a batch ran at the watermark of the newest event (that
    * batch emits every window the watermark closed). Never restarts a
    * failed query: what it did not write is counted as failed. */
  private def finish(q: StreamingQuery, progress: ProgressLog, spec: StreamSpec, feed: Feed,
      timeoutMs: Long, notes: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    try {
      q.processAllAvailable()
      val wmMs = feed.maxUs / 1000L
      if (spec.job == Tumbling.job && !progress.await(q.runId, timeoutMs) { p =>
            Option(p.eventTime.get("watermark"))
              .exists(w => java.time.Instant.parse(w).toEpochMilli >= wmMs)
          })
        notes += s"query ${q.runId} never reached the final watermark"
    } catch {
      case e: Exception => notes += s"query ${q.runId} failed: ${e.getMessage.take(300)}"
    }
    q.stop()
    // the listener bus delivers the last progress events asynchronously
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    progress.await(q.runId, 5000L)(_.batchId >= last)
  }

  /** Events waiting in published files at the end of each measured batch. */
  private def backlogSeries(all: Seq[StreamingQueryProgress], measured: Seq[StreamingQueryProgress],
      spec: StreamSpec, t0Us: Long): Seq[Double] = {
    val sorted = all.sortBy(_.batchId)
    val consumed = sorted.scanLeft(0L)(_ + _.numInputRows).tail
    val ids = measured.map(_.batchId).toSet
    sorted.zip(consumed).collect { case (p, c) if ids.contains(p.batchId) =>
      val end = ProgressLog.endMs(p)
      val ticks = math.floor((end - t0Us / 1000.0) / TickMs)
      val published = math.ceil(ticks * TickMs / 1000.0 * spec.rate)
      math.max(0.0, published - c)
    }
  }

  private def createTable(url: String, table: String, spec: StreamSpec): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      // written_at is stamped by Derby when the row is inserted; it
      // places each row in the sink call that wrote it
      conn.createStatement().execute(
        s"CREATE TABLE $table (${spec.ddlColumns}, " +
          s"written_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP, PRIMARY KEY (${spec.sinkKey.mkString(", ")}))")
    } finally conn.close()
  }

  private def mkdir(p: Path): Path = Files.createDirectories(p)
}

/** Generated events, read back from the feed files in plain Scala. */
final case class Feed(events: Seq[(String, Long)]) {
  lazy val maxUs: Long = if (events.isEmpty) 0L else events.map(_._2).max
}

object Feed {
  private val Cls = "\"N02_001\":\"([^\"]*)\"".r
  private val Ts = "\"RECEIVED_ON\":\"([^\"]*)\"".r
  private val Fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  def read(dir: Path): Feed = {
    val files = Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    Feed(files.flatMap(f => Files.readAllLines(f).asScala).filter(_.nonEmpty).map { line =>
      val t = java.time.LocalDateTime.parse(Ts.findFirstMatchIn(line).get.group(1), Fmt)
        .toInstant(java.time.ZoneOffset.UTC)
      (Cls.findFirstMatchIn(line).get.group(1), t.getEpochSecond * 1000000L + t.getNano / 1000L)
    })
  }
}

/** The generator runs as its own single-threaded process. */
object Gen {
  private def python(args: Seq[String]): String = {
    val pb = new ProcessBuilder((Seq("python3", "perfbench/gen.py") ++ args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"generator failed: ${args.mkString(" ")}")
    out.trim
  }

  /** Runs the live feed to its end; returns the p95 of how late the
    * generator published against its schedule, in ms. */
  def live(opts: Opts, dir: Path, spec: StreamSpec, t0Us: Long, seconds: Int, tickMs: Int): Double = {
    val out = python(Seq("live", "--dir", dir.toString,
      "--tmp", opts.work.resolve("gen-tmp").toString, "--seed", opts.seed.toString,
      "--rate", spec.rate.toString, "--start-us", t0Us.toString, "--keys", spec.keys,
      "--seconds", seconds.toString, "--tick-ms", tickMs.toString))
    """"late_p95_ms": ([0-9.]+)""".r.findFirstMatchIn(out).get.group(1).toDouble
  }

  /** The backlog's event times start at a fixed instant, so one seed
    * gives byte-identical backlog files. */
  def backlog(opts: Opts, dir: Path, spec: StreamSpec, events: Int): Unit =
    python(Seq("backlog", "--dir", dir.toString,
      "--tmp", opts.work.resolve("gen-tmp").toString, "--seed", opts.seed.toString,
      "--rate", spec.rate.toString, "--start-us", "1600075200000000", "--keys", spec.keys,
      "--events", events.toString, "--per-file", spec.drainPerFile.toString))
}

/** Expected sink rows computed from the generated events in plain Scala
  * (no Spark, no `Windows`, no `StreamingJobs`), diffed with the Derby
  * table. `samples` pairs each expected row's due time (the last event
  * it counts) with the instant Derby stamped on its row, if written. */
final case class CheckResult(expected: Long, failed: Long, tableRows: Long,
    samples: Seq[(Double, Option[Double])])

object Check {
  def run(url: String, table: String, spec: StreamSpec, feed: Feed): CheckResult = {
    // expected: key columns -> (value, due time in ms)
    val expected: Map[Seq[Any], (Long, Double)] =
      if (spec.job == Streams.Tumbling.job) {
        // a window [s, s + 1 s) is emitted once the watermark (newest
        // event time, ms precision, zero delay) reaches its end
        val wmUs = feed.maxUs / 1000L * 1000L
        feed.events.groupBy { case (k, us) => (k, Math.floorDiv(us, 1000000L)) }
          .collect { case ((k, s), evs) if (s + 1) * 1000000L <= wmUs =>
            Seq[Any](k, s * 1000000L) -> (evs.size.toLong, evs.map(_._2).max / 1000.0)
          }
      } else {
        // per key, rows in event-time order; the count covers the
        // inclusive frame [ts - 60 s, ts]
        val frameUs = 60L * 1000000L
        feed.events.groupBy(_._1).toSeq.flatMap { case (k, evs) =>
          val ts = evs.map(_._2).sorted.toArray
          var lo = 0
          ts.indices.map { i =>
            while (ts(lo) < ts(i) - frameUs) lo += 1
            Seq[Any](k, ts(i)) -> ((i - lo + 1).toLong, ts(i) / 1000.0)
          }
        }.toMap
      }
    val got = scala.collection.mutable.Map[Seq[Any], (Long, Double)]()
    val conn = DriverManager.getConnection(url)
    try {
      val tumbling = spec.job == Streams.Tumbling.job
      val sql = if (tumbling) s"SELECT k, window_start, window_end, cnt, written_at FROM $table"
        else s"SELECT k, ts, trailing_cnt, written_at FROM $table"
      val rs = conn.createStatement().executeQuery(sql)
      def us(t: java.sql.Timestamp): Long = t.getTime / 1000L * 1000000L + t.getNanos / 1000L
      while (rs.next()) {
        val start = us(rs.getTimestamp(2))
        val ok = !tumbling || us(rs.getTimestamp(3)) - start == 1000000L
        val cnt = if (tumbling) rs.getLong(4) else rs.getLong(3)
        val written = rs.getTimestamp(if (tumbling) 5 else 4).getTime.toDouble
        got(Seq[Any](rs.getString(1), start)) = (if (ok) cnt else -1L, written)
      }
    } finally conn.close()
    val missingOrWrong = expected.count { case (k, (v, _)) => !got.get(k).exists(_._1 == v) }
    val extra = got.keys.count(k => !expected.contains(k))
    CheckResult(expected.size.toLong, (missingOrWrong + extra).toLong, got.size.toLong,
      expected.toSeq.map { case (k, (_, due)) => (due, got.get(k).map(_._2)) })
  }
}
