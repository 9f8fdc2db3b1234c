package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Options of one run; `run.py` passes them after preparing `work`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, smoke: Boolean)

/** What a workload hands back: the output check and every metric it
  * measured (name to value; units live in BENCHMARK.json). */
final case class Outcome(attempted: Long, failed: Long, valid: Boolean,
    metrics: Map[String, Double], notes: Seq[String], failedKeys: Seq[String] = Nil)

/** JVM side of the benchmark: runs one workload against the program's
  * public API and writes `result.json` into the work directory. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val opts = Opts(kv("--workload"), kv("--seed").toLong, kv("--seconds").toInt,
      kv("--trace") == "1", Paths.get(kv("--work")), kv.get("--smoke").contains("1"))
    val out = opts.workload match {
      case "tumbling_upsert" => Streams.run(opts, Streams.Tumbling)
      case "sliding_upsert" => Streams.run(opts, Streams.Sliding)
      case "corpus_dedup" => Corpus.run(opts)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val metrics = out.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ",", "}")
    def strings(xs: Seq[String]): String =
      xs.map(n => "\"" + n.replace("\\", "/").replace("\"", "'").replace("\n", " ") + "\"")
        .mkString("[", ",", "]")
    Files.write(opts.work.resolve("result.json"),
      (s"""{"attempted":${out.attempted},"failed":${out.failed},"valid":${out.valid},""" +
        s""""metrics":$metrics,"notes":${strings(out.notes)},""" +
        s""""failed_keys":${strings(out.failedKeys)}}""" + "\n").getBytes("UTF-8"))
    // Spark's non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }

  /** Milliseconds since the JVM started: the process start of set-up. */
  def jvmStartMs: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Wall clock, the one Derby stamps rows with and the generator
    * schedules by. */
  def nowMs: Double = System.currentTimeMillis().toDouble

  /** `local[nproc]` with `nproc` shuffle partitions; every file Spark
    * writes stays under the work directory. */
  def session(opts: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .appName(s"perfbench-${opts.workload}")
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", opts.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config(graft.model.Tables.nanosConf, "true")
      .config(graft.model.Tables.ntzConf, "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
