package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import graft.metric.MetricEngine
import graft.server.HttpFrontend
import graft.storage.{CompactionConfig, Compactor, ScanRequest, TimeRange}
import graft.streaming.{MetricStreamIngest, RemoteWrite}
import Stats.{Lat, median => med, timed}

/** A blocking HTTP/1.1 client for the frontend on `port`. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private def uri(p: String) = URI.create(s"http://127.0.0.1:$port$p")

  def post(path: String, body: Array[Byte]): Int =
    client.send(HttpRequest.newBuilder(uri(path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(uri(path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

/** Shared workload machinery. */
object Loop {
  /** `clients` closed-loop threads call `op(k)` with a run-wide operation
    * index from `first` on, until `seconds` have passed since the start or,
    * when `last` is given, until every index below `last` was taken;
    * returns the wall time (ms) from the start to the last completion. */
  def closed(clients: Int, seconds: Double, first: Long = 0L,
      last: Long = Long.MaxValue)(op: Long => Unit): Double = {
    val next = new AtomicLong(first)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var k = next.getAndIncrement()
        while (k < last && (last != Long.MaxValue || System.nanoTime() < deadline)) {
          op(k)
          k = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Build the starting state [[Main.Setups]] times; keep the last one,
    * release the others, and return it with the median build time (s). */
  def setups[T](build: () => T)(release: T => Unit): (T, Double, Seq[Double]) = {
    val built = (1 to Main.Setups).map(_ => timed(build()))
    built.init.foreach(b => release(b._1))
    val secs = built.map(_._2 / 1000.0)
    (built.last._1, Stats.median(secs), secs)
  }

  /** Spans named `name` among `spans`. */
  def named(spans: Seq[Span], name: String): Seq[Span] = spans.filter(_.name == name)

  def counter(spans: Seq[Span], key: String): Seq[Double] =
    spans.map(_.spark.getOrElse(key, 0L).toDouble)

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
  }

  def notes(kv: (String, Any)*): Map[String, String] =
    kv.map { case (k, v) => k -> v.toString }.toMap
}

/** `ingest`: two closed-loop remote-write senders against an initially
  * empty store, with a benchmark-owned compaction tick every second. */
object Ingest {
  private final class Rig(val root: String, val engine: MetricEngine,
      val fe: HttpFrontend, val http: Http, val compactor: Compactor)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val scrape = Gen.Scrape(ctx.seed)
    val first = scrape.batchesPerScrape.toLong
    val acked = new AtomicLongArray(scrape.batchesPerScrape)

    // starting state: a fresh store that has taken the first scrape, so
    // every series is registered before the clock starts
    def build(): Rig = {
      val root = ctx.freshDir("ingest")
      val engine = new MetricEngine(spark, root)
      val fe = new HttpFrontend(spark, engine)
      val http = new Http(fe.start())
      (0L until first).foreach { k =>
        val code = http.post("/api/v1/write", scrape.payload(k))
        require(code == 204, s"setup write $k returned $code")
      }
      new Rig(root, engine, fe, http, new Compactor(engine.data,
        CompactionConfig(inputSstMinNum = 2, deleteGraceMs = 60000L)))
    }
    val (rig, setupS, setupAll) = Loop.setups(() => build()) { r =>
      r.fe.stop(); Loop.deleteTree(r.root)
    }
    val engine = rig.engine

    // the benchmark's compaction tick
    var sstsMax = engine.data.manifest.allSsts().size
    val ticker = Executors.newSingleThreadScheduledExecutor()
    ticker.scheduleWithFixedDelay(() => {
      try {
        tracer.span("storage.compact")(rig.compactor.runOnce())
        sstsMax = math.max(sstsMax, engine.data.manifest.allSsts().size)
      } catch { case scala.util.control.NonFatal(e) => e.printStackTrace() }
    }, 1000L, 1000L, TimeUnit.MILLISECONDS)

    val lat = new Lat
    // traced runs: whole-operation latencies of plain and of traced HTTP
    // writes, both timed from before the benchmark's write lock
    val plainLat, tracedLat = new Lat
    val failed = new AtomicLong()
    val writeLock = new Object
    // traced runs rotate three ways through the same writes: plain HTTP,
    // HTTP inside a span, and the direct calls the server makes (decode,
    // then the engine write), serialized by the benchmark so the direct
    // path is never a second concurrent writer
    def send(k: Long): Unit = {
      val body = scrape.payload(k)
      val t0 = System.nanoTime()
      val ok =
        try {
          if (!tracer.enabled) rig.http.post("/api/v1/write", body) == 204
          else writeLock.synchronized {
            (k % 3).toInt match {
              case 0 => rig.http.post("/api/v1/write", body) == 204
              case 1 => tracer.span("server.write")(
                rig.http.post("/api/v1/write", body)) == 204
              case _ => tracer.span("op.write_direct") {
                val req = tracer.span("streaming.decode")(RemoteWrite.decodeRequest(body))
                tracer.span("metric.write")(
                  MetricStreamIngest.ingestDecoded(engine, spark, req.samples))
                true
              }
            }
          }
        } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); false }
      val ms = (System.nanoTime() - t0) / 1e6
      if (ok) {
        lat.add(ms)
        if (tracer.enabled && k % 3 < 2) (if (k % 3 == 0) plainLat else tracedLat).add(ms)
        acked.incrementAndGet((k % scrape.batchesPerScrape).toInt)
      } else failed.incrementAndGet()
    }
    val wallMs = Loop.closed(clients = 2, ctx.seconds, first)(send)
    val writes = lat.size
    val ackedSamples = (0 until scrape.batchesPerScrape)
      .map(s => acked.get(s) * scrape.samples(s).size).sum

    // drain compaction to quiescence, then check exactness
    ticker.shutdown()
    ticker.awaitTermination(60, TimeUnit.SECONDS)
    var rounds = 0
    while (rounds < 64 && tracer.span("storage.compact")(rig.compactor.runOnce())) rounds += 1
    rig.compactor.flushDeferred()
    val live = engine.data.manifest.allSsts()
    val stored = engine.data.scan(ScanRequest(projection = Some(Seq("metric_id"))))
      .groupBy("metric_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val idOf = engine.metrics.scan().select("metric_name", "metric_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // expected per metric: setup's first scrape plus every acked batch
    val expected = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    (0 until scrape.batchesPerScrape).foreach { s =>
      scrape.samples(s).groupBy(_.name).foreach { case (m, xs) =>
        expected(m) += (1L + acked.get(s)) * xs.size }
    }
    val mismatches = scrape.names.filter(m =>
      idOf.get(m).flatMap(stored.get).getOrElse(0L) != expected(m))
    val totalStored = stored.values.sum
    rig.fe.stop()

    val correct = failed.get == 0 && mismatches.isEmpty && writes > 0
    val e2e = Map(
      "setup_s" -> setupS,
      "p50_ms" -> Stats.median(lat.all),
      "throughput_per_s" -> ackedSamples / (wallMs / 1000.0))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val spans = tracer.finish
        val decode = Loop.named(spans, "streaming.decode")
        val write = Loop.named(spans, "metric.write")
        val compact = Loop.named(spans, "storage.compact")
          .filter(_.spark.getOrElse("jobs", 0L) > 0)
        val http = Loop.named(spans, "server.write")
        val batch = scrape.batch.toDouble
        val compactOut = Loop.counter(compact, "output_bytes").sum
        Metrics.layers(Map(
          "streaming.decode_ms" -> med(decode.map(_.ms)),
          "metric.write_ms" -> med(write.map(_.ms)),
          "metric.write_jobs" -> med(Loop.counter(write, "jobs")),
          "spark.write_tasks" -> med(Loop.counter(write, "tasks")),
          "spark.write_shuffle_bytes" -> med(Loop.counter(write, "shuffle_write_bytes")),
          "storage.compact_ms" -> med(compact.map(_.ms)),
          "storage.compactions" -> compact.size,
          "storage.compact_bytes_rewritten" -> compactOut,
          "storage.bytes_written_per_sample" ->
            (med(Loop.counter(write, "output_bytes")) / batch +
              compactOut / math.max(1L, totalStored)),
          "storage.ssts_max" -> sstsMax,
          "storage.ssts_live" -> live.size,
          "storage.bytes_per_sample" -> live.map(_.sizeBytes).sum.toDouble / totalStored,
          "server.write_self_ms" ->
            (med(http.map(_.ms)) - med(decode.map(_.ms)) - med(write.map(_.ms))),
          "bench.tracing_overhead" -> (med(tracedLat.all) / med(plainLat.all) - 1)))
      }
    Outcome(correct, writes + failed.get, failed.get, e2e, layers, Loop.notes(
      "writes" -> writes, "p90_ms" -> Stats.pct(lat.all, 0.9),
      "latencies_ms" -> lat.all.map(x => f"$x%.0f").mkString(" "),
      "acked_samples" -> ackedSamples, "series" -> scrape.seriesCount,
      "stored_samples" -> totalStored, "metric_mismatches" -> mismatches.mkString(","),
      "ssts_live" -> live.size, "ssts_max" -> sstsMax,
      "setup_s_each" -> setupAll.map(s => f"$s%.2f").mkString(" "),
      "wall_ms" -> f"$wallMs%.0f"))
  }
}

/** `dashboard`: two closed-loop Grafana clients against a preloaded,
  * compacted store. */
object Dashboard {
  private final class Rig(val root: String, val engine: MetricEngine,
      val fe: HttpFrontend, val http: Http)

  /** What a traced run keeps of one direct query: Spark's phase times, the
    * result rows and the share of live SSTs planned for its range. */
  private final case class Direct(phases: Map[String, Double], rows: Int,
      plannedShare: Double)

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def sec(ms: Long) = java.math.BigDecimal.valueOf(ms, 3).toPlainString

  def path(q: Gen.Query): String =
    if (q.isRange)
      s"/api/v1/query_range?query=${enc(q.text)}&start=${sec(q.start)}" +
        s"&end=${sec(q.end)}&step=${q.step / 1000}s"
    else s"/api/v1/query?query=${enc(q.text)}&time=${sec(q.time)}"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val store = Gen.Store(ctx.seed)

    def build(): Rig = {
      val root = ctx.freshDir("dashboard")
      val engine = new MetricEngine(spark, root)
      import spark.implicits._
      // an RDD, not a local relation: the rows travel in the partitions
      // instead of inside every task's plan
      engine.write(spark.sparkContext
        .parallelize(store.samples(0, store.points), spark.sparkContext.defaultParallelism)
        .toDF())
      val compactor = new Compactor(engine.data, CompactionConfig(inputSstMinNum = 2))
      var rounds = 0
      while (rounds < 64 && compactor.runOnce()) rounds += 1
      val fe = new HttpFrontend(spark, engine)
      new Rig(root, engine, fe, new Http(fe.start()))
    }
    val (rig, setupS, setupAll) = Loop.setups(() => build()) { r =>
      r.fe.stop(); Loop.deleteTree(r.root)
    }
    val engine = rig.engine
    // one request of every panel shape from the same two clients, so plans
    // and codegen are warm before the clock starts
    val warmFailures = new AtomicLong()
    Loop.closed(clients = 2, seconds = 0, last = 6L) { k =>
      val code = scala.util.Try(rig.http.get(path(Gen.dashboardQuery(store, ctx.seed, k)))._1)
      if (!code.toOption.contains(200)) warmFailures.incrementAndGet()
    }
    require(warmFailures.get == 0, s"${warmFailures.get} warm-up queries failed")

    val lat = new Lat
    val plainLat = new Lat
    val byShape = IndexedSeq.fill(6)(new Lat)
    val failed = new AtomicLong()
    val directs = new java.util.concurrent.ConcurrentLinkedQueue[Direct]()
    def direct(q: Gen.Query): Unit = tracer.span("op.query_direct") {
      tracer.span("promql.parse")(graft.promql.PromQLParser.parse(q.text))
      val df = tracer.span("metric.query_build") {
        if (q.isRange) engine.queryPromQL(q.text, TimeRange(q.start, q.end + 1), Some(q.step))
        else engine.instantPromQL(q.text, q.time)
      }
      val qe = df.queryExecution
      tracer.span("spark.plan")(qe.executedPlan)
      val rows = tracer.span("spark.exec")(df.collect())
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val range = if (q.isRange) TimeRange(q.start - 600000L, q.end + 1)
        else TimeRange(q.time - 600000L, q.time + 1)
      val planned = engine.data.plannedSsts(ScanRequest(range = range)).size
      val liveN = engine.data.manifest.allSsts().size
      directs.add(Direct(phases, rows.length, planned.toDouble / math.max(1, liveN)))
    }
    def query(k: Long): Unit = {
      val q = Gen.dashboardQuery(store, ctx.seed, k)
      val t0 = System.nanoTime()
      val ok =
        try {
          def viaHttp(): Boolean = {
            val (code, body) = rig.http.get(path(q))
            code == 200 && body.startsWith("""{"status":"success"""")
          }
          if (!tracer.enabled) viaHttp()
          // the mode changes once per round of the six panel shapes, so
          // every mode sees every shape equally often
          else ((k / 6) % 3).toInt match {
            case 0 => viaHttp()
            case 1 => tracer.span("server.query")(viaHttp())
            case _ => direct(q); true
          }
        } catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); false }
      val ms = (System.nanoTime() - t0) / 1e6
      if (ok) {
        lat.add(ms)
        byShape((k % 6).toInt).add(ms)
        if (tracer.enabled && (k / 6) % 3 == 0) plainLat.add(ms)
      } else failed.incrementAndGet()
    }
    val wallMs = Loop.closed(clients = 2, ctx.seconds, first = 6L)(query)
    val queries = lat.size

    // probes with answers the generator knows
    val last = store.points - 1
    val t = store.end
    def at(p: Int): Long = store.end - (last - p) * store.intervalMs
    val sIdx = for (j <- 0 until store.jobs; i <- 0 until store.instances) yield (j, i)
    val probes: Seq[(String, Long, Double)] = Seq(
      ("count(svc_inflight_00)", t, store.seriesPerMetric.toDouble),
      ("""svc_inflight_05{job="job1",instance="host2"}""", t,
        store.gaugeValue(5, 1, 2, last)),
      ("sum(svc_requests_03_total)", t,
        sIdx.map { case (j, i) => store.counterValue(3, j, i, last) }.sum),
      (s"count(${store.histName})", t,
        (store.seriesPerMetric * store.buckets).toDouble),
      ("max(svc_inflight_07)", at(last - 30),
        sIdx.map { case (j, i) => store.gaugeValue(7, j, i, last - 30) }.max))
    val valueRe = "\"value\":\\[[^,]+,\"([^\"]+)\"\\]".r
    val probeFails = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Loop.closed(clients = 2, seconds = 0, last = probes.size.toLong) { k =>
      val (text, ms, want) = probes(k.toInt)
      val (code, body) = scala.util.Try(rig.http.get(path(Gen.Query("instant", text, ms))))
        .getOrElse((0, ""))
      val got = valueRe.findAllMatchIn(body).map(_.group(1).toDouble).toSeq
      if (code != 200 || got != Seq(want))
        probeFails.add(s"$text@$ms: want $want got $code ${got.mkString(",")}")
    }
    val live = engine.data.manifest.allSsts()
    rig.fe.stop()

    val correct = failed.get == 0 && probeFails.isEmpty && queries > 0
    val e2e = Map(
      "setup_s" -> setupS,
      "p50_ms" -> Stats.median(lat.all),
      "throughput_per_s" -> queries / (wallMs / 1000.0))
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val spans = tracer.finish
        // the split of the traced HTTP median: Spark analyses the frame
        // while the engine builds it (and the engine parses again), so the
        // build share is the build span minus parse and analysis
        val ds = directs.asScala.toSeq
        def phase(n: String) = med(ds.map(_.phases.getOrElse(n, 0.0)))
        val (analysis, optimization, planning) =
          (phase("analysis"), phase("optimization"), phase("planning"))
        val parse = med(Loop.named(spans, "promql.parse").map(_.ms))
        val buildSp = Loop.named(spans, "metric.query_build")
        val build = med(buildSp.map(_.ms)) - parse - analysis
        val execSp = Loop.named(spans, "spark.exec")
        val exec = med(execSp.map(_.ms))
        val http = med(Loop.named(spans, "server.query").map(_.ms))
        val opSp = Loop.named(spans, "op.query_direct")
        Metrics.layers(Map(
          "promql.parse_ms" -> parse,
          "metric.query_build_ms" -> build,
          "metric.query_build_jobs" -> med(Loop.counter(buildSp, "jobs")),
          "spark.analysis_ms" -> analysis,
          "spark.optimization_ms" -> optimization,
          "spark.planning_ms" -> planning,
          "spark.exec_ms" -> exec,
          "spark.jobs_per_query" -> med(Loop.counter(opSp, "jobs")),
          "spark.stages_per_query" -> med(Loop.counter(opSp, "stages")),
          "spark.tasks_per_query" -> med(Loop.counter(opSp, "tasks")),
          "spark.shuffle_bytes_per_query" -> med(
            Loop.counter(opSp, "shuffle_write_bytes")),
          "spark.spill_bytes" -> Loop.counter(opSp, "spill_bytes").sum,
          "storage.files_planned_per_query" -> med(ds.map(_.plannedShare)),
          "storage.rows_read_per_result" ->
            Loop.counter(execSp, "input_records").sum / math.max(1, ds.map(_.rows).sum),
          "storage.bytes_read_per_query" -> med(Loop.counter(execSp, "input_bytes")),
          "storage.ssts_live" -> live.size,
          "storage.bytes_per_sample" ->
            live.map(_.sizeBytes).sum.toDouble / engine.data.scan().count(),
          "server.query_self_ms" ->
            (http - parse - build - analysis - optimization - planning - exec),
          "bench.tracing_overhead" -> (http / med(plainLat.all) - 1)))
      }
    Outcome(correct, queries + failed.get, failed.get, e2e, layers, Loop.notes(
      "queries" -> queries, "p90_ms" -> Stats.pct(lat.all, 0.9),
      "p50_ms_by_shape" -> byShape.map(l => f"${Stats.median(l.all)}%.0f").mkString(" "),
      "latencies_ms" -> lat.all.map(x => f"$x%.0f").mkString(" "),
      "preload_samples" -> store.sampleCount,
      "probe_failures" -> probeFails.asScala.mkString("; "), "ssts_live" -> live.size,
      "setup_s_each" -> setupAll.map(s => f"$s%.2f").mkString(" "),
      "wall_ms" -> f"$wallMs%.0f"))
  }
}
