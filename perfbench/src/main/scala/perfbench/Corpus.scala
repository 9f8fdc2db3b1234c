package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.model.Tables

/** corpus_dedup: cold passes, in family order, over an exact list of
  * `SparkEntry.queries` keys on the seed-permuted sf0.1 tables, after the
  * JVM is warmed on sf0.001. `run.py` writes the permuted copies into
  * `<work>/sf0.1` and `<work>/sf0.001`, and after this JVM exits diffs
  * the dumped outputs with their DuckDB oracles. */
object Corpus {

  /** Exact names: a prefix filter would also pick up `dedup_survivors_*`. */
  val Queries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_embedding_cosine", "dedup_exact_substring", "dedup_survivors",
    "sim_ann_ivf", "text_tfidf")

  /** Dumped beside the outputs: the simhash oracles are exact only while
    * this census reports no binding cap. */
  private val Census = "dedup_cap_binding"

  /** Upper bound on passes, so a fast pass cannot stretch the run. */
  private val MaxPasses = 5

  def run(opts: Opts): Outcome = {
    val spark = Main.session(opts)
    val spans = new Spans
    val tasks = new TaskTrace(spans)
    val heap = new HeapSampler
    if (opts.trace) { spark.sparkContext.addSparkListener(tasks); heap.start() }
    val small = opts.work.resolve("sf0.001").toString
    val big = opts.work.resolve(if (opts.smoke) "sf0.001" else "sf0.1").toString
    val fns = Queries.map(q => q -> SparkEntry.queries(q))
    val failed = scala.collection.mutable.LinkedHashSet[String]()

    // each pass writes every result as parquet, the batch job's sink; the
    // last pass's files are the outputs that are checked
    def pass(dir: String, traced: Boolean, passNo: Int): Seq[(String, Double)] = {
      Tables.clearCaches(spark)
      val out = opts.work.resolve(if (passNo == 0) "out-warm" else "out")
      tasks.active = traced
      val times = fns.map { case (name, fn) =>
        val a = Main.nowMs
        val id = if (traced) spans.add(0L, s"pass$passNo", name, "queries", a, a) else 0L
        tasks.parentSpan = id
        tasks.group = s"pass$passNo"
        try fn(spark, dir).write.mode("overwrite").parquet(out.resolve(name).toString)
        catch { case e: Exception => failed += name; System.err.println(s"[perfbench] $name failed: $e") }
        val b = Main.nowMs
        if (traced) spans.close(id, b)
        name -> (b - a) / 1000.0
      }
      tasks.active = false
      times
    }

    pass(small, traced = false, 0)
    val setupS = (Main.nowMs - Main.jvmStartMs) / 1000.0

    // passes until the run's seconds are spent; a traced run makes one
    // traced and then one untraced pass, whose ratio is the overhead (the
    // untraced pass meets the warmer JVM, so this errs high)
    val t0 = Main.nowMs
    val runs = Vector.newBuilder[(Boolean, Seq[(String, Double)])]
    var i = 1
    while (if (opts.trace) i <= 2
        else i == 1 || (Main.nowMs - t0 < opts.seconds * 1000.0 && i <= MaxPasses)) {
      val traced = opts.trace && i == 1
      runs += traced -> pass(big, traced, i)
      i += 1
    }
    val passes = runs.result()
    val totals = passes.map(_._2.map(_._2).sum)
    val times = passes.flatMap(_._2.map(_._2))
    val suite = Stats.median(totals)
    val rows = Seq("documents", "embeddings").map(t => Tables.load(spark, big, t).count()).sum

    val e2e = Map(
      "setup_s" -> setupS,
      "suite_s" -> suite,
      "latency_p50_s" -> Stats.median(times),
      "latency_p95_s" -> Stats.quantile(times, 0.95),
      "throughput_eps" -> rows * Queries.size / suite)

    val layer = if (!opts.trace) Map.empty[String, Double] else {
      val Seq(traced, plain) = passes.map(_._2)
      val (busyS, gcS, shufMb, spillMb, skew) = tasks.counters
      val self = spans.selfMsByLayer
      traced.map { case (q, t) => s"queries.${q}_s" -> t }.toMap ++ Map(
        "spark.task_busy_s" -> busyS, "spark.gc_s" -> gcS,
        "spark.shuffle_mb" -> shufMb, "spark.spill_mb" -> spillMb,
        "spark.task_skew" -> skew, "spark.heap_peak_mb" -> heap.peakBytes / 1e6,
        "trace.overhead_pct" -> (traced.map(_._2).sum / plain.map(_._2).sum - 1.0) * 100.0,
        "trace.self_queries_ms" -> self.getOrElse("queries", 0.0),
        "trace.self_spark_ms" -> self.getOrElse("spark", 0.0))
    }
    if (opts.trace) { heap.finish(); spans.writeJsonLines(opts.work.resolve("spans.jsonl")) }

    dumpCensus(spark, big, opts.work.resolve("out"))
    spark.stop()
    Outcome(Queries.size.toLong, failed.size.toLong, valid = true, e2e ++ layer,
      Seq(s"passes=${passes.size} latency samples=${times.size}"), failed.toSeq)
  }

  /** Outside the timed passes: the cap-binding census beside the
    * outputs, and the oracle SQL, in the layout `tools/compare.py` reads. */
  private def dumpCensus(spark: SparkSession, dir: String, out: java.nio.file.Path): Unit = {
    SparkEntry.queries(Census)(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(out.resolve(Census).toString)
    def json(m: Map[String, String]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":\"" + v.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    }.mkString("{", ",", "}")
    Files.writeString(out.resolve("oracle_sql.json"),
      json(SparkEntry.oracleSql.filter(kv => Queries.contains(kv._1))))
    Files.writeString(out.resolve("oracle_sql_scaled.json"),
      json(SparkEntry.scaledOracleSql.filter(kv => Queries.contains(kv._1))))
  }
}
