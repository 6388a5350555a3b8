package perfbench

import java.util.SplittableRandom

import graft.metric.Sample
import graft.streaming.RemoteWrite

/** Deterministic input generators. Every input the engine sees is a pure
  * function of the workload seed (and an index), so two runs with the same
  * seed send byte-identical payloads, preloads and queries. */
object Gen {

  /** Epoch the generated clocks start at (2024-08-15T00:00:00Z), aligned
    * to the engine's 12 h data segment so the whole timeline stays in
    * one segment. */
  val T0: Long = 1723680000000L

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL)

  // ------------------------------------------------------------ ingest

  /** The scrape target set of the `ingest` workload: `metrics` metric
    * names × `jobs` × `instances` series, every one a counter. */
  final case class Scrape(seed: Long, metrics: Int = 20, jobs: Int = 4,
      instances: Int = 25, intervalMs: Long = 15000L, batch: Int = 2000) {
    val names: IndexedSeq[String] = {
      val r = rng(seed, 1)
      val stems = IndexedSeq("http_requests_total", "rpc_calls_total",
        "bytes_sent_total", "cpu_seconds_total", "errors_total",
        "gc_runs_total", "disk_reads_total", "cache_misses_total")
      (0 until metrics).map(i =>
        s"${stems(r.nextInt(stems.size))}_${i}_${Integer.toHexString(r.nextInt(1 << 16))}")
    }
    val series: IndexedSeq[(String, Map[String, String], Double)] = {
      val r = rng(seed, 2)
      for (m <- names; j <- 0 until jobs; i <- 0 until instances) yield
        (m, Map("job" -> s"job$j", "instance" -> s"10.0.$j.$i:9100",
          "region" -> s"r${i % 3}"), 1.0 + r.nextInt(100))
    }
    def seriesCount: Int = series.size
    def batchesPerScrape: Int = (seriesCount + batch - 1) / batch

    /** Batch `k` of the endless scrape stream: scrape `k / batchesPerScrape`,
      * slice `k % batchesPerScrape` of the (fixed) series order. */
    def samples(k: Long): Seq[Sample] = {
      val scrape = k / batchesPerScrape
      val slice = (k % batchesPerScrape).toInt
      val ts = T0 + scrape * intervalMs
      series.slice(slice * batch, math.min(seriesCount, (slice + 1) * batch))
        .map { case (m, labels, rate) => Sample(m, labels, ts, rate * scrape) }
    }

    /** Snappy-framed remote-write body of batch `k`: odd batches ship
      * remote-write 2.0, even ones 1.0, as a mixed Prometheus fleet does. */
    def payload(k: Long): Array[Byte] = {
      val s = samples(k)
      org.xerial.snappy.Snappy.compress(
        if (k % 2 == 1) RemoteWrite.encodeV2(s) else RemoteWrite.encode(s))
    }
  }

  // --------------------------------------------------------- dashboard

  /** The preloaded store of the `dashboard` workload: `counters` counter
    * metrics and `gauges` gauge metrics over `jobs` × `instances` series,
    * plus one classic histogram family with `buckets` `le` buckets, all
    * sampled every `intervalMs` over `spanMs`. */
  final case class Store(seed: Long, counters: Int = 12, gauges: Int = 12,
      jobs: Int = 4, instances: Int = 4, buckets: Int = 8,
      intervalMs: Long = 120000L, spanMs: Long = 6L * 3600 * 1000) {
    val points: Int = (spanMs / intervalMs).toInt
    val end: Long = T0 + (points - 1) * intervalMs
    val counterNames: IndexedSeq[String] =
      (0 until counters).map(i => f"svc_requests_$i%02d_total")
    val gaugeNames: IndexedSeq[String] =
      (0 until gauges).map(i => f"svc_inflight_$i%02d")
    val histName = "svc_latency_seconds_bucket"
    val les: IndexedSeq[String] =
      (0 until buckets - 1).map(i => (0.005 * (1 << i)).toString) :+ "+Inf"
    private val params = {
      val r = rng(seed, 3)
      (0 until (counters + gauges) * jobs * instances + jobs * instances)
        .map(_ => (1 + r.nextInt(50), r.nextInt(1000)))
    }
    private def labels(j: Int, i: Int) =
      Map("job" -> s"job$j", "instance" -> s"host$i")

    def seriesPerMetric: Int = jobs * instances
    def counterValue(m: Int, j: Int, i: Int, p: Int): Double = {
      val (rate, base) = params((m * jobs + j) * instances + i)
      (base + rate.toLong * p).toDouble
    }
    def gaugeValue(m: Int, j: Int, i: Int, p: Int): Double = {
      val (a, b) = params(((counters + m) * jobs + j) * instances + i)
      ((a * 31L + b + p * 7L) % 1000).toDouble
    }
    /** Cumulative count of bucket `b` (monotone in both `b` and `p`). */
    def bucketValue(b: Int, j: Int, i: Int, p: Int): Double = {
      val (rate, _) = params((counters + gauges) * jobs * instances + j * instances + i)
      ((b + 1).toLong * rate * p).toDouble
    }

    /** The samples of time points `[from, until)` — the preload writes the
      * store in slices of the timeline. */
    def samples(from: Int, until: Int): Seq[Sample] = {
      val out = Seq.newBuilder[Sample]
      for (p <- from until until; j <- 0 until jobs; i <- 0 until instances) {
        val ts = T0 + p * intervalMs
        val l = labels(j, i)
        for (m <- 0 until counters)
          out += Sample(counterNames(m), l, ts, counterValue(m, j, i, p))
        for (m <- 0 until gauges)
          out += Sample(gaugeNames(m), l, ts, gaugeValue(m, j, i, p))
        for (b <- 0 until buckets)
          out += Sample(histName, l + ("le" -> les(b)), ts, bucketValue(b, j, i, p))
      }
      out.result()
    }
    def sampleCount: Long =
      points.toLong * jobs * instances * (counters + gauges + buckets)
  }

  /** One Grafana-panel request: an instant query at `time`, or a range
    * query over `[start, end]` at `step` (all ms). */
  final case class Query(kind: String, text: String, time: Long,
      start: Long = 0L, end: Long = 0L, step: Long = 0L) {
    def isRange: Boolean = kind == "range"
  }

  /** Query `k` of the dashboard refresh stream. The six panel shapes
    * rotate; each draws its metric and matcher from the seed. */
  def dashboardQuery(st: Store, seed: Long, k: Long): Query = {
    val r = rng(seed, 1000 + k)
    val c = st.counterNames(r.nextInt(st.counters))
    val g = st.gaugeNames(r.nextInt(st.gauges))
    val j = r.nextInt(st.jobs)
    // evaluation time: somewhere in the last two hours of the store, on a
    // scrape boundary so the newest sample is unambiguous
    val t = st.end - r.nextInt(60).toLong * st.intervalMs
    (k % 6).toInt match {
      case 0 => Query("instant", s"sum by (job) (rate($c[5m]))", t)
      case 1 => Query("instant", s"""$g{job="job$j"}""", t)
      case 2 => Query("range", s"rate($c[5m])", t, t - 3600000L, t, 30000L)
      case 3 => Query("range", s"max by (instance) ($g)",
        st.end, st.end - 6 * 3600000L + st.intervalMs, st.end, 300000L)
      case 4 => Query("instant", s"topk(3, $g)", t)
      case _ => Query("instant",
        s"histogram_quantile(0.9, sum by (le) (rate(${st.histName}[5m])))", t)
    }
  }
}
