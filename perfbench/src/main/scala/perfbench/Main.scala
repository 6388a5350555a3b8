package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one run measured. `e2e` are the end-to-end metrics (untraced run),
  * `layers` the per-layer ones (traced run), `notes` free-form context
  * (sample counts, check details) for the run's artifact. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, String])

/** Entry point: `--workload <ingest|dashboard> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --results <dir>`. Prints the
  * run's stamp and notes, then, as the last line, the result object; writes
  * the full result, and the spans of a traced run, under `<results>`. Exit
  * code 1 when an output check failed. */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "dashboard")

  /** Number of times each run builds its starting state; `setup_s` is the
    * median (the first build also pays JIT and codegen warm-up). */
  val Setups = 3

  private def uptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(cores)
    spark.sparkContext.setLogLevel("ERROR")
    // Grafana sends range queries whose step differs from the window
    spark.conf.set("graft.promql.rangeWindows", "sliding")
    val tracer = new Tracer(spark.sparkContext, trace)
    val stamp = Map(
      "workload" -> workload, "seed" -> seed.toString,
      "trace" -> trace.toString, "nproc" -> cores.toString,
      "loadavg" -> Stats.loadAvg,
      "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark_version" -> spark.version)
    val stampJson = Stats.json(stamp.view.mapValues(Stats.str).toMap)
    println("stamp " + stampJson)

    val sessionS = uptimeS
    val out =
      try {
        val ctx = Ctx(spark, tracer, work, seed, seconds)
        workload match {
          case "ingest" => Ingest.run(ctx)
          case "dashboard" => Dashboard.run(ctx)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          Outcome(correct = false, attempted = 1, failed = 1, Map.empty,
            Map.empty, Map("error" -> e.toString))
      }
    val spans = tracer.finish
    val metrics = if (trace) out.layers else out.e2e
    val units = if (trace) Metrics.layerUnits else Metrics.e2eUnits
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k":{"value":${Stats.num(v)},"unit":"${units.getOrElse(k, "count")}"}""" }
    val result = s"""{"correct":${out.correct},"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":{${body.mkString(",")}}}"""
    // peak RSS follows the collector's heap sizing, which moves by a third
    // between runs on the same input: reported here, not as a metric
    val notes = out.notes ++ Map("session_ready_s" -> f"$sessionS%.1f",
      "workload_done_s" -> f"$uptimeS%.1f",
      "peak_rss_mb" -> f"${Stats.peakRssMb}%.0f")
    val notesJson = Stats.json(notes.view.mapValues(Stats.str).toMap)
    println("notes " + notesJson)

    // the artifact: stamp + notes + result, and the spans when traced
    val art = Paths.get(opts("results"))
    Files.createDirectories(art)
    val base = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    Files.writeString(art.resolve(s"$base.json"),
      s"""{"stamp":$stampJson,"notes":$notesJson,"result":$result}""" + "\n")
    if (trace) {
      val self = Tracer.selfMs(spans)
      Files.write(art.resolve(s"$base.spans.jsonl"),
        spans.map(s => Tracer.toJson(s, self(s.id)))
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    spark.stop()
    println(result)
    System.out.flush()
    System.exit(if (out.correct) 0 else 1)
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path,
    seed: Long, seconds: Double) {
  private var n = 0
  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): String = synchronized {
    n += 1
    val d = work.resolve(s"$name-$n")
    Files.createDirectories(d)
    d.toString
  }
}

/** The metric names and units the benchmark publishes. */
object Metrics {
  val e2eUnits: Map[String, String] = Map(
    "setup_s" -> "s", "p50_ms" -> "ms", "throughput_per_s" -> "1/s")

  val layerUnits: Map[String, String] = Map(
    "streaming.decode_ms" -> "ms",
    "metric.write_ms" -> "ms", "metric.write_jobs" -> "count",
    "spark.write_tasks" -> "count", "spark.write_shuffle_bytes" -> "bytes",
    "storage.compact_ms" -> "ms", "storage.compactions" -> "count",
    "storage.compact_bytes_rewritten" -> "bytes",
    "storage.bytes_written_per_sample" -> "bytes/sample",
    "storage.ssts_max" -> "count", "storage.ssts_live" -> "count",
    "storage.bytes_per_sample" -> "bytes/sample",
    "promql.parse_ms" -> "ms",
    "metric.query_build_ms" -> "ms", "metric.query_build_jobs" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.exec_ms" -> "ms",
    "spark.jobs_per_query" -> "count", "spark.stages_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.shuffle_bytes_per_query" -> "bytes", "spark.spill_bytes" -> "bytes",
    "storage.files_planned_per_query" -> "ratio",
    "storage.rows_read_per_result" -> "ratio",
    "storage.bytes_read_per_query" -> "bytes",
    "server.write_self_ms" -> "ms", "server.query_self_ms" -> "ms",
    "bench.tracing_overhead" -> "ratio")

  /** Every per-layer metric, 0 unless the workload's traced run sets it:
    * a layer the workload never calls did no work. */
  def layers(set: Map[String, Double]): Map[String, Double] = {
    val unknown = set.keySet -- layerUnits.keySet
    require(unknown.isEmpty, s"unregistered layer metrics: $unknown")
    layerUnits.keys.map(k => k -> set.getOrElse(k, 0.0)).toMap
  }
}

/** Small numeric and formatting helpers. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg: String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split(" ").take(3).mkString(" ")).getOrElse("unknown")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A JSON object from already-encoded values. */
  def json(kv: Map[String, String]): String =
    kv.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** Latencies of one operation class, thread-safe. */
  final class Lat {
    private val xs = mutable.ArrayBuffer.empty[Double]
    def add(ms: Double): Unit = synchronized { xs += ms }
    def all: Seq[Double] = synchronized(xs.toSeq)
    def size: Int = synchronized(xs.size)
  }
}
