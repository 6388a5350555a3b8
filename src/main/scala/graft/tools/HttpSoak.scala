package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.metric._
import graft.server.HttpFrontend
import graft.storage.{CompactionConfig, CompactionScheduler, Compactor}
import graft.streaming.RemoteWrite

/** Remote-write HTTP soak — closes the loop between decode throughput
  * (SCALE.md's codec record) and `SinkProbe`'s commit number: the reference's CAPTURED
  * Prometheus workload is replayed against `POST /api/v1/write` over a
  * real socket at the soak cadence (one payload / 500 ms, the reference
  * server's own write tick) for `seconds`, with the 1 s background
  * compaction scheduler running CONCURRENTLY the whole time. Each replay
  * shifts every sample's timestamp past the previous iteration's span, so
  * the stream is genuinely advancing (identical re-posts would merge away
  * on the Overwrite data table and measure nothing).
  *
  * Reports every 30 s (posts, sustained rows/s, live SST count — the
  * file-count equilibrium the scheduler is supposed to hold), then after
  * ingest stops: drains compaction to quiescence and verifies the engine
  * count EXACTLY equals distinct(series, ts) × iterations.
  *
  * A READ lane runs concurrently on its own thread (round 9): every 5 s
  * it issues a Prometheus remote-read (`POST /api/v1/read`, snappy
  * protobuf) over the newest replay window plus an instant query
  * (`GET /api/v1/query`) for the same metric — the serving mix a live
  * Prometheus + Grafana pair generates against a backend that is
  * ingesting and compacting at the same time. Read latencies report at
  * the end (p50/p95/max); every read must be a 200. After quiescence one
  * final remote-read re-fetches the last window and its sample count
  * must EXACTLY match the engine's count for that (metric, range) — the
  * protocol-level read-back twin of the ingest exactness check.
  *
  * Falls back to a synthetic 2,000-sample payload when the reference
  * capture is absent.
  *
  * Run: `sbt "runMain graft.tools.HttpSoak [seconds] [cadenceMs]"`
  */
object HttpSoak {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(600)
    val cadenceMs = args.lift(1).map(_.toLong).getOrElse(500L)
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val capture = Paths.get(
      "/root/reference/src/remote_write/tests/workloads/1709380533560664458.data")
    val baseSamples: Seq[Sample] =
      if (Files.isRegularFile(capture)) {
        val s = RemoteWrite.decode(Files.readAllBytes(capture))
        println(s"[httpsoak] captured workload: ${s.size} samples, " +
          s"${s.map(_.name).distinct.size} metrics")
        s
      } else {
        println("[httpsoak] capture absent — synthetic 2000-sample payload")
        (0 until 2000).map(i => Sample("soak_http_metric",
          Map("worker" -> s"w${i % 4}", "host" -> s"h${i % 16}"),
          1723680000000L + i * 250L, i * 0.5))
      }
    // distinct (series, ts) per iteration — the engine's Overwrite key;
    // duplicates inside one payload merge to one row
    val distinctPerIter = baseSamples
      .map(s => (s.name, MetricEngine.labelsKey(s.labels), s.timestamp)).distinct.size
    val tsMin = baseSamples.map(_.timestamp).min
    val span = baseSamples.map(_.timestamp).max - tsMin + 60000L

    val root = Files.createTempDirectory("graft-httpsoak").toString
    val engine = new MetricEngine(spark, root)
    // everything-on serving shape: a 1h rollup refreshed on a 1s tick
    // concurrently with ingest, reads, and compaction (round 10)
    val fe = new HttpFrontend(spark, engine,
      rollupGrids = Seq(3600000L), rollupRefreshMs = 1000L)
    val port = fe.start()
    // deleteGraceMs: the serving-deployment setting — physical deletes wait
    // out in-flight reads (the read lane measures sub-2s query latencies;
    // 60 s is orders of magnitude above them)
    val compactor = new Compactor(engine.data,
      CompactionConfig(inputSstMinNum = 2, inputSstMaxNum = 30,
        deleteGraceMs = 60000L))
    val scheduler = new CompactionScheduler(compactor, intervalMs = 1000L)
    scheduler.start()
    println(s"[httpsoak] port=$port root=$root seconds=$seconds " +
      s"cadence=${cadenceMs}ms scheduler=1s")

    val http = HttpClient.newHttpClient()
    def post(body: Array[Byte]): Int = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/write"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

    // ---- read lane: remote-read + instant queries against the live store
    val readMetric = baseSamples.map(_.name)
      .filter(_.matches("[a-zA-Z_][a-zA-Z0-9_]*"))
      .groupBy(identity).maxBy(_._2.size)._1
    val readLatenciesMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    @volatile var readsDone = 0
    @volatile var readFailures = 0
    @volatile var writerIters = 0
    @volatile var readerStop = false
    def remoteRead(startMs: Long, endMs: Long): Seq[graft.streaming.RemoteRead.Series] = {
      val req = org.xerial.snappy.Snappy.compress(
        graft.streaming.RemoteRead.encodeRequest(Seq(
          graft.streaming.RemoteRead.Query(startMs, endMs, Seq(
            graft.streaming.RemoteRead.Matcher(0, "__name__", readMetric))))))
      val resp = http.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1/read"))
          .POST(HttpRequest.BodyPublishers.ofByteArray(req)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      require(resp.statusCode() == 200,
        s"remote read failed with ${resp.statusCode()}: " +
          new String(resp.body(), "UTF-8"))
      graft.streaming.RemoteRead.decodeResponse(resp.body()).head
    }
    val reader = new Thread(() => {
      while (!readerStop) {
        try {
          val it = writerIters
          if (it > 0) {
            val winStart = tsMin + (it - 1).toLong * span
            val t = System.nanoTime()
            val series = remoteRead(winStart, winStart + span)
            val tEval = (baseSamples.map(_.timestamp).max +
              (it - 1).toLong * span) / 1000
            val q = java.net.URLEncoder.encode(s"sum($readMetric)", "UTF-8")
            val iq = http.send(HttpRequest.newBuilder(URI.create(
                s"http://127.0.0.1:$port/api/v1/query?query=$q&time=$tEval"))
              .GET().build(), HttpResponse.BodyHandlers.ofString())
            readLatenciesMs.add((System.nanoTime() - t) / 1e6)
            require(iq.statusCode() == 200 && series.nonEmpty,
              s"read lane: instant=${iq.statusCode()} series=${series.size}")
            readsDone += 1
          }
        } catch {
          case _: InterruptedException => ()
          case scala.util.control.NonFatal(e) =>
            readFailures += 1
            println(s"[httpsoak] READ FAILURE: $e")
        }
        try Thread.sleep(5000) catch { case _: InterruptedException => () }
      }
    }, "httpsoak-reader")
    reader.setDaemon(true)

    // fe.stop() MUST run on every exit path: the JDK HttpServer's
    // dispatcher thread is non-daemon, so a soak failure that skips stop()
    // leaves a zombie JVM parked forever after main ends
    try {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000L * 1000L * 1000L
    reader.start()
    var iters = 0
    var sstMin = Int.MaxValue
    var sstMax = 0
    var nextReport = t0 + 30L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline) {
      val tick = System.nanoTime()
      val shift = iters.toLong * span
      val shifted = baseSamples.map(s => s.copy(timestamp = s.timestamp + shift))
      // alternate wire versions: odd iterations ship remote-write 2.0
      // (what Prometheus 3.x sends), even ones 1.0 — both snappy-framed,
      // both through the same auto-sniffed endpoint
      val payload = org.xerial.snappy.Snappy.compress(
        if (iters % 2 == 1) RemoteWrite.encodeV2(shifted)
        else RemoteWrite.encode(shifted))
      val code = post(payload)
      require(code == 204, s"write failed with $code at iter $iters")
      iters += 1
      writerIters = iters
      val ssts = engine.data.manifest.allSsts().size
      sstMin = math.min(sstMin, ssts); sstMax = math.max(sstMax, ssts)
      if (System.nanoTime() >= nextReport) {
        val el = (System.nanoTime() - t0) / 1e9
        println(f"[httpsoak] t=$el%.0f s: $iters posts, " +
          f"${iters.toLong * baseSamples.size / el}%.0f rows/s sustained, " +
          s"ssts=$ssts (min=$sstMin max=$sstMax)")
        nextReport += 30L * 1000 * 1000 * 1000
      }
      val sleepMs = cadenceMs - (System.nanoTime() - tick) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val posted = iters.toLong * baseSamples.size
    readerStop = true
    reader.interrupt()
    reader.join(10000)

    // quiescence: stop the scheduler's clock only after compaction drains;
    // then flush grace-parked deletes (nothing references them anymore)
    var rounds = 0
    while (compactor.runOnce() && rounds < 64) rounds += 1
    scheduler.stop()
    compactor.flushDeferred()
    val finalSsts = engine.data.manifest.allSsts().size

    // protocol-level read-back exactness: remote-read the LAST window and
    // compare its sample count against the engine's count for the same
    // (metric, range) — both sides post-compaction
    val lastStart = tsMin + (iters - 1).toLong * span
    val lastSeries = remoteRead(lastStart, lastStart + span)
    val readBack = lastSeries.map(_.samples.size.toLong).sum
    val engineCount = engine.query(MetricQuery(readMetric,
        range = graft.storage.TimeRange(lastStart, lastStart + span + 1),
        agg = MetricAgg.Count)).collect()(0).getDouble(0).toLong
    val lats = readLatenciesMs.toArray(Array.empty[java.lang.Double])
      .map(_.doubleValue).sorted
    if (lats.nonEmpty)
      println(f"[httpsoak] read lane: $readsDone reads, $readFailures failures, " +
        f"latency p50=${lats(lats.length / 2)}%.0f ms " +
        f"p95=${lats(math.min(lats.length - 1, (lats.length * 95) / 100))}%.0f ms " +
        f"max=${lats.last}%.0f ms; " +
        s"final remote-read=$readBack engine=$engineCount " +
        (if (readBack == engineCount) "EXACT" else "MISMATCH"))
    require(readFailures == 0, s"$readFailures read-lane failures")
    require(readBack == engineCount,
      s"remote-read read-back mismatch: $readBack vs $engineCount")

    // exactness across every metric the capture carries
    val expected = distinctPerIter.toLong * iters
    val total = baseSamples.map(_.name).distinct.sorted.map { m =>
      engine.query(MetricQuery(m, agg = MetricAgg.Count))
        .collect()(0).getDouble(0).toLong
    }.sum
    println(f"[httpsoak] DONE: $iters posts / $posted rows in $wall%.0f s " +
      f"(${posted / wall}%.0f rows/s sustained, cadence target " +
      f"${baseSamples.size * 1000.0 / cadenceMs}%.0f), " +
      s"sst equilibrium min=$sstMin max=$sstMax final=$finalSsts, " +
      s"count=$total expected=$expected " +
      (if (total == expected) "EXACT" else "MISMATCH"))
    require(total == expected, s"count mismatch: $total vs $expected")

    // rollup loop exactness: after a catch-up refresh the routed hourly
    // sum over the whole soak span must equal the raw replay (the same
    // store that just survived concurrent ingest/compaction/re-rolls)
    fe.rollups.foreach(_.refresh())
    val all = graft.storage.TimeRange(Long.MinValue, Long.MaxValue)
    val routed = engine.queryPromQL(s"sum($readMetric)", all, Some(3600000L))
    require(routed.inputFiles.exists(_.contains("_rollup_")),
      "rollup routing did not engage after the catch-up refresh")
    def byBucket(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("bucket_ms") -> r.getAs[Double]("value")).toMap
    val rawHourly = engine.query(MetricQuery(readMetric,
      stepMs = Some(3600000L), agg = MetricAgg.Sum))
    val (a, b) = (byBucket(routed), byBucket(rawHourly))
    require(a.keySet == b.keySet,
      s"rollup bucket sets diverged: ${a.keySet.size} vs ${b.keySet.size}; " +
        s"only-routed=${(a.keySet -- b.keySet).take(3)} " +
        s"only-raw=${(b.keySet -- a.keySet).take(3)}")
    // partial-then-total summation order differs from raw by accumulated
    // ULPs — captured values are ~1e6-1e9, so compare RELATIVE error
    val maxRel = a.keys.map { k =>
      val d = math.abs(a(k) - b(k))
      if (d == 0) 0.0 else d / math.max(math.abs(a(k)), math.abs(b(k)))
    }.max
    println(f"[httpsoak] rollup-routed hourly sums vs raw replay: " +
      f"${a.size} buckets, max relative diff $maxRel%.2e " +
      (if (maxRel < 1e-9) "EXACT(fp)" else "MISMATCH"))
    require(maxRel < 1e-9,
      f"rollup-routed result diverged from raw after the soak: $maxRel%.2e")
    } finally {
      readerStop = true
      scheduler.stop()
      fe.stop()
      spark.stop()
    }
  }
}
