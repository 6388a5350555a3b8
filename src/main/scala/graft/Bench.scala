package graft

import org.apache.spark.sql.SparkSession

import graft.tools.Profile

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * prints one JSON line. Each query runs once untimed and once timed, so the
  * report measures steady-state latency — the reference's Criterion benches
  * use the same warmup-then-sample methodology (bench.rs:42-59); a cold first
  * run would time JVM/JIT/codegen-cache warmup (measured 5× the query cost
  * for the md5-heavy dedup path), not engine work. The warmup pass also
  * performs one-time builds (st1 storage load, e4 IVF index), so timed runs
  * measure the query, not the load. The sampling protocol and the per-query
  * layer split in BENCH_DETAIL.json come from [[graft.tools.Profile]]. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(cpus) // canonical engine session factory

    // One-time builds (st1 storage ingest, m2 engine ingest, e4 IVF index)
    // happen before anything is timed; the persistent-RDD snapshot taken
    // after them separates legitimate long-lived caches from per-query
    // transient blocks.
    SparkEntry.prewarm(spark, sfDir)
    val keep = spark.sparkContext.getPersistentRDDs.keySet

    // Warmup and sample back-to-back per query (Criterion's shape): with 50+
    // queries a single global warmup pass evicts the earlier entries from
    // the codegen class cache before their timed run. THREE timed samples,
    // median reported: single samples swing ±50% from GC/JIT interference,
    // and min-of-2 still let one contaminated pair through — r4 flagged
    // q1/q5 and r5 flagged j1/j2 at ~2.5× their isolated times because the
    // async ContextCleaner (kicked by the previous query's unpersist+gc)
    // overlaps the first timed run; the median discards that outlier.
    // optional args: bench only the named queries (dev-side triage)
    val only = args.toSet

    // Fixed canary workloads (see the normalization block below): sized
    // around half a second each so sample jitter is small against the
    // host-state swings they measure.
    val canaryWork: Seq[(String, () => Unit)] = {
      import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
      Seq(
        "canary_files" -> (() => {
          val o = spark.read.parquet(s"$sfDir/orders.parquet")
          val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
          o.filter(col("o_orderkey") % 7 === 0)
            .agg(sum(col("o_totalprice"))).collect()
          o.agg(sum(xxhash64(col("o_comment")).cast("double"))).collect()
          l.agg(sum(xxhash64(col("l_comment")).cast("double"))).collect(); ()
        }),
        "canary_cpu" -> (() => {
          // double-typed sum: a long sum of 64-bit hashes overflows and
          // would throw under ANSI, timing exception handling instead
          spark.range(2000000000L)
            .select(sum(xxhash64(col("id")).cast("double"))).collect(); ()
        }),
        "canary_shuffle" -> (() => {
          spark.range(50000000L).groupBy(pmod(col("id"), lit(4096)))
            .count().count(); ()
        }))
    }
    // median seconds of one canary under the shared sampling protocol
    // (-1 if it failed; the canary ratio skips non-positive times)
    def canaryPass(keep: collection.Set[Int]): Seq[(String, Double)] =
      canaryWork.map { case (n, w) =>
        n -> Profile.sample(keep)(Profile.run(n)(w())._2).fold(-1.0)(_.medS) }
    // locale-pinned 2-decimal format: f"%.2f" renders "1,23" on
    // comma-decimal locales, which breaks the JSON consumers
    def fmt2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

    // Canary anchors + ratio helper, hoisted above the 10× lane so the
    // lane can bracket itself with the same yardstick (round 14).
    // Anchors: the bracketed means measured on the round-12 build (this
    // box, ~32 idle cores, page cache reclaimed). canary_files depends on
    // the dataset size — one anchor per sf the driver/dev loops run; an
    // unknown sf normalizes on the two data-independent canaries alone.
    // calibrated from three full sf0.01 suite runs on 2026-08-15
    // (loads 1.9-4.9): cpu 0.350/0.363/0.360, shuffle 0.316/0.373/0.326,
    // files 0.183/0.246/0.201; sf0.1 files from the same-day sf0.1 run
    val sfName = sfDir.split('/').lastOption.getOrElse(sfDir)
    val anchors: Map[String, Double] = Map(
      "canary_cpu" -> 0.355,
      "canary_shuffle" -> 0.32) ++
      (sfName match {
        case "sf0.1" => Map("canary_files" -> 0.34)
        case "sf0.01" => Map("canary_files" -> 0.20)
        case _ => Map.empty[String, Double]
      })
    def canaryRatioOf(times: Seq[(String, Double)]): Double = {
      val rs = times.collect {
        case (n, t) if anchors.contains(n) && t > 0 => t / anchors(n)
      }.sorted
      if (rs.isEmpty) 1.0 else rs(rs.length / 2) // median
    }

    // ---- Synthetic 10× lane (round 13) -----------------------------------
    // At sf0.1 every engine fixture is sub-second, so round-over-round
    // ratios mostly measure launch latency, not data cost. This lane
    // re-runs the heaviest DATA-driven queries on a synthetic 10×
    // scale-up of the same tables (SparkEntry.synthesizeScaled — content
    // is REWRITTEN per copy, not replicated, so LSH/blocking bucket
    // density and near-dup structure match a genuinely larger corpus
    // instead of inflating quadratic pair stages 100×) and reports
    // per-query 10×-data/1×-data time ratios: ≈10 is linear scaling,
    // well above 10 is super-linear and gets a plan diff in SCALE.md.
    // Engine histogram/OTLP fixtures (nh*, ro7/ro8, otlp*) stay out —
    // their inputs are fixed wire-format fixtures, not dir tables. The
    // lane carries its own canary bracket (sf1_canary_ratio): the r13
    // driver run showed multi-job lane entries inflated up to 17× by host
    // contention DURING the lane while the suite-level canaries stayed ≈1
    // — a contended lane must be detectable on the artifact itself.
    // Round 15 (verdict task 2): the lane runs FIRST — before the
    // 200-query suite — so suite-end heap/GC/block-manager state cannot
    // skew it, and each entry publishes the min/median/max of its three
    // samples (sf1_spread) so a bimodal entry is visible on the artifact
    // instead of hiding behind its median. Skip with SPARK_GRAFT_SF1=0.
    val sf1Lane = Seq("c2_embedding_dedup", "c3_minhash_dedup",
      "c4_semantic_dedup", "c6_incremental_dedup", "d3_lsh_pairs",
      "d6_dup_clusters", "d8_simhash64_pairs", "d11_winnow_pairs",
      "d16_simhash_combo_pairs", "d18_cut_spans", "e10_knn_graph",
      "e12_pagerank", "e15_lsh_neardup_auto", "t13_winnow",
      "t14_decontaminate", "t15_tfidf",
      "ro1_rollup_day", "ro4_rollup_rate")
    // (min, median, max) of the three timed samples; (-1,-1,-1) = failed
    val (sf1Results, sf1Rerun, sf1CanaryRatio):
        (Seq[(String, (Double, Double, Double))],
         Seq[(String, (Double, Double, Double))], Double) =
      if (only.nonEmpty || sys.env.get("SPARK_GRAFT_SF1").contains("0"))
        (Nil, Nil, 1.0)
      else {
        val sf1Dir = SparkEntry.resolveScaledSpec(spark, s"scaled10x:$sfDir")
        SparkEntry.prewarm(spark, sf1Dir)
        val keep1 = spark.sparkContext.getPersistentRDDs.keySet
        val qmap = SparkEntry.queries
        val laneCanaryBefore = canaryPass(keep1)
        def measureEntry(name: String): (Double, Double, Double) =
          // a renamed/removed lane query records -1 like other lane
          // failures instead of aborting the whole bench run
          qmap.get(name) match {
            case None =>
              System.err.println(s"[bench] sf1 lane $name: unknown query")
              (-1.0, -1.0, -1.0)
            case Some(fn) =>
              // median of THREE timed samples (round 14): a single sample
              // let one contended multi-job run stand as the committed
              // scaling number (r13: e12_pagerank 17.7× under lane-time
              // load vs 1.2× isolated); the timed samples are a small
              // fraction of lane cost (synthesis + warmups dominate). A
              // failing sample poisons the entry to -1 — a query that
              // fails ONLY at 10× is exactly the blow-up this lane exists
              // to catch, and a near-zero plan-setup time would read as
              // "scales great".
              // one failed sample already decides the -1 entry, and
              // sampling stops there
              Profile.sample(keep1)(Profile.query(name)(fn(spark, sf1Dir)))
                .fold {
                  System.err.println(s"[bench] sf1 lane $name FAILED")
                  (-1.0, -1.0, -1.0)
                }(s => (s.minS, s.medS, s.maxS))
          }
        val lane = sf1Lane.map(name => name -> measureEntry(name))
        // Isolated rerun of contended entries (round 16, verdict task 6):
        // a within-entry max/min spread above 3× marks that capture as
        // bimodal/contended (the r15 driver lane recorded c3 spread
        // 33.5–130.9 s while the committed lane and the 8-core lane
        // agreed at ≈8 s). Re-measure those entries once AFTER the whole
        // lane — same warmup+3-samples protocol, no other lane entry's
        // jobs or cleaner activity overlapping — and publish BOTH
        // (sf1 keeps the in-lane medians; sf1_rerun shows what the same
        // query does isolated, so a contended capture is diagnosable on
        // the artifact itself).
        val rerun = lane.collect {
          case (n, (lo, _, hi)) if lo > 0 && hi / lo > 3.0 =>
            System.err.println(s"[bench] sf1 lane $n spread ${fmt2(hi / lo)}× — isolated rerun")
            n -> measureEntry(n)
        }
        val laneCanaryAfter = canaryPass(keep1)
        val laneCanary = laneCanaryBefore.zip(laneCanaryAfter)
          .map { case ((n, b), (_, a)) => n -> ((b + a) / 2.0) }
        // the lane's 10× tables are no longer needed; drop its one-time
        // caches so the suite below starts from the same block-manager
        // state a lane-less run would have
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!keep.contains(id)) rdd.unpersist(blocking = true)
        }
        System.gc()
        (lane, rerun, canaryRatioOf(laneCanary))
      }
    val sf1Median: Seq[(String, Double)] =
      sf1Results.map { case (k, (_, m, _)) => k -> m }

    // pre-suite canary pass — bracketed with the post-suite pass below
    val canaryBefore = canaryPass(keep)
    // Streaming run-to-completion entries (bounded file-stream → memory
    // sink) time Structured Streaming's micro-batch startup/teardown — a
    // fixed multi-second overhead independent of data volume — not engine
    // throughput. They stay correctness-gate-only unless named explicitly.
    val streamingOnly = Set("sd1_stream_dedup", "sa1_promql_stream",
      "sl1_live_last", "sc1_stream_chunks", "sr1_stream_rate",
      "ss1_stream_sessions", "si1_stream_ingest", "si2_sink_ingest",
      "sj1_stream_join", "sh1_stream_hll", "sq1_stream_quantiles",
      "sj2_stream_enrich")
    val resultsSpread = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        if (only.isEmpty) !streamingOnly(name) else only(name) }
      .map { case (name, fn) =>
      // Steady-state hygiene (r3 post-mortem): prefix-sum and connected-
      // components leave localCheckpoint blocks pinned until driver GC;
      // across 66 queries × 3 runs the block manager churns and the
      // late-alphabet queries time storage eviction instead of their plans
      // (official r3: ttl1 6.85 s vs 0.33 s isolated). The sampler drops
      // every persistent RDD the query created, keeps the one-time caches,
      // and collects the driver-side garbage between queries, all untimed.
      // A failed query records -1 like a failed lane entry.
      name -> Profile.sample(keep)(Profile.query(name)(fn(spark, sfDir)))
    }
    val results: Seq[(String, Double)] = // median of 3
      resultsSpread.map { case (k, s) => k -> s.fold(-1.0)(_.medS) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def sumTimes(ts: Seq[(String, Double)]): Double = ts.map(_._2).filter(_ >= 0).sum
    val total = sumTimes(results)

    val baseTimes = results.toMap
    val sf1Scaling: Seq[(String, Double)] = sf1Median.flatMap {
      case (k, v) if v >= 0 =>
        baseTimes.get(k).filter(_ > 0.001).map(b => k -> v / b)
      case _ => None // failed at 10× — surfaced via the -1 in `sf1`
    }

    // ---- In-run canaries (round 12, verdict task 5) ----------------------
    // The r8 "anchor" was a committed BENCH run from one host state; the
    // shared box's page-cache/load swings made the ≤1.15× criterion
    // untestable (same code measured 53 s and 123 s totals). Three fixed
    // trivial workloads — a parquet scan+aggregate (page-cache sensitive,
    // the exact shape the swung fixtures share), a pure-CPU hash fold,
    // and a shuffle — run under the identical median-of-3 protocol
    // TWICE, bracketing the suite (the `before` pass ran above, pre-
    // suite), and the bracketed mean against the committed anchors below
    // normalizes the suite: judge round-over-round regressions on
    // `normalized_total` (and BENCH_DETAIL's `normalized`), not raw
    // seconds. Each canary is sized ≥ ~0.5 s so its own jitter stays
    // small relative to the host swings it is measuring.
    val canaryAfter = canaryPass(keep)
    val canaryTimes: Seq[(String, Double)] = canaryBefore.zip(canaryAfter)
      .map { case ((n, b), (_, a)) => n -> ((b + a) / 2.0) }
    val canaryRatio = canaryRatioOf(canaryTimes)
    val normalizedTotal = total / canaryRatio
    val canariesJson = canaryTimes.map { case (k, v) =>
      "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Host-state stamp (round 11, verdict task #5): the r10 triage showed
    // same-code suite totals swinging 53→123 s with background load and
    // page-cache reclaim on the shared box. Recording loadavg + the page
    // cache + free memory WITH the numbers lets a reader separate engine
    // regressions from environment noise without re-deriving the triage.
    val env: String = {
      val load = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      def meminfoKb(key: String): Long =
        try scala.io.Source.fromFile("/proc/meminfo").getLines()
          .collectFirst { case l if l.startsWith(key + ":") =>
            l.split("\\s+")(1).toLong }.getOrElse(-1L)
        catch { case scala.util.control.NonFatal(_) => -1L }
      s"""{"load_avg":$load,"mem_free_kb":${meminfoKb("MemFree")},""" +
        s""""cached_kb":${meminfoKb("Cached")},""" +
        s""""buffers_kb":${meminfoKb("Buffers")},""" +
        s""""cpus":${Runtime.getRuntime.availableProcessors()}}"""
    }
    val sf1Json = sf1Median.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-entry sample spread (round 15): min/med/max of the three lane
    // samples, so a bimodal entry (two fast samples + one contended) is
    // visible on the artifact instead of hiding behind its median
    def spreadJson(lo: Double, m: Double, hi: Double): String =
      s"""{"min":${fmt2(lo)},"med":${fmt2(m)},"max":${fmt2(hi)}}"""
    // a suite query's spread plus the median sample's layer split: build
    // (driver-side construction), Spark planning, execution, and its jobs,
    // shuffle-write and spill bytes (-1 throughout for a failed query)
    def suiteRowJson(s: Option[Profile.Spread]): String = s match {
      case None => """{"min":-1,"med":-1,"max":-1,"build_ms":-1,""" +
        """"plan_ms":-1,"exec_ms":-1,"jobs":-1,"shuffle_bytes":-1,""" +
        """"spill_bytes":-1}"""
      case Some(s) =>
        val m = s.median
        s"""{"min":${fmt2(s.minS)},"med":${fmt2(s.medS)},""" +
          s""""max":${fmt2(s.maxS)},"build_ms":${fmt2(m.buildMs)},""" +
          s""""plan_ms":${fmt2(m.planMs)},"exec_ms":${fmt2(m.execMs)},""" +
          s""""jobs":${m.jobs},"shuffle_bytes":${m.shuffleWrite},""" +
          s""""spill_bytes":${m.spill}}"""
    }
    val sf1SpreadJson = sf1Results.map { case (k, (lo, m, hi)) =>
      "\"" + k + "\":" + spreadJson(lo, m, hi) }.mkString("{", ",", "}")
    val sf1RerunJson = sf1Rerun.map { case (k, (lo, m, hi)) =>
      "\"" + k + "\":" + spreadJson(lo, m, hi) }.mkString("{", ",", "}")
    val sf1ScalingJson = sf1Scaling.map { case (k, v) =>
      "\"" + k + "\":" + fmt2(v) }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","env":$env,"canaries":$canariesJson,""" +
        s""""canary_ratio":$canaryRatio,""" +
        s""""normalized_total":$normalizedTotal,""" +
        s""""sf1":$sf1Json,"sf1_scaling":$sf1ScalingJson,""" +
        s""""sf1_spread":$sf1SpreadJson,""" +
        s""""sf1_rerun":$sf1RerunJson,""" +
        s""""sf1_canary_ratio":$sf1CanaryRatio}"""
    println(line)
    // The driver's artifact capture keeps only the tail of stdout; at 160+
    // queries the one-line JSON (~4 kB) overflows it and the per-query map
    // is lost to the judge. Persist the full report in the repo as well
    // (pretty-printed one query per line so diffs between rounds are
    // readable). Dev-side `only=...` triage runs must not clobber the full
    // suite report.
    if (only.isEmpty) {
      val pretty = new StringBuilder
      pretty ++= s"""{\n  "metric": "total",\n  "value": $total,\n"""
      pretty ++= s"""  "unit": "sec",\n  "sf": "$sfDir",\n  "env": $env,\n"""
      pretty ++= s"""  "canaries": $canariesJson,\n"""
      pretty ++= s"""  "canary_ratio": $canaryRatio,\n"""
      pretty ++= s"""  "normalized_total": $normalizedTotal,\n"""
      pretty ++= s"""  "queries": {\n"""
      pretty ++= results.map { case (k, v) => s"""    "$k": $v""" }
        .mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "normalized": {\n"""
      pretty ++= results.map { case (k, v) =>
        s"""    "$k": ${v / canaryRatio}""" }.mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "queries_spread": {\n"""
      pretty ++= resultsSpread.map { case (k, s) =>
        s"""    "$k": ${suiteRowJson(s)}""" }.mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "sf1": {\n"""
      pretty ++= sf1Median.map { case (k, v) => s"""    "$k": $v""" }
        .mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "sf1_scaling": {\n"""
      pretty ++= sf1Scaling.map { case (k, v) =>
        s"""    "$k": ${fmt2(v)}""" }.mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "sf1_spread": {\n"""
      pretty ++= sf1Results.map { case (k, (lo, m, hi)) =>
        s"""    "$k": ${spreadJson(lo, m, hi)}""" }.mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "sf1_rerun": {\n"""
      pretty ++= sf1Rerun.map { case (k, (lo, m, hi)) =>
        s"""    "$k": ${spreadJson(lo, m, hi)}""" }.mkString(",\n")
      pretty ++= "\n  },\n"
      pretty ++= s"""  "sf1_canary_ratio": $sf1CanaryRatio\n}\n"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        pretty.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // Driver-parseable COMPACT line, printed LAST (round 16, verdict task
    // 1): the driver's artifact capture keeps only ~2 kB of stdout tail,
    // and the full per-query line above outgrew it two rounds running
    // (BENCH_r14/r15 both `parsed: null` — the line head with
    // `"metric":"total"` was always cut off). 220 query names cannot fit
    // 2 kB at any precision, so this line carries the totals plus
    // per-FAMILY subtotals (prefix with trailing digits stripped:
    // c3_minhash_dedup → "family:c", nh5 → "family:nh"), keyed
    // `family:<fam>` so they can never collide with a real query name.
    // The full per-query map still prints above AND persists in
    // BENCH_DETAIL.json — reporting here is additions-only, nothing is
    // dropped from either existing artifact.
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val famTotals = results
      .groupBy { case (k, _) =>
        k.split('_').head.reverse.dropWhile(_.isDigit).reverse }
      .toSeq.sortBy(_._1)
      .map { case (fam, qs) => fam -> sumTimes(qs) }
    val famJson = famTotals.map { case (f, v) =>
      "\"family:" + f + "\":" + fmt3(v) }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt3(total)},"unit":"sec",""" +
        s""""sf":"$sfDir","n_queries":${results.length},""" +
        s""""canary_ratio":${fmt3(canaryRatio)},""" +
        s""""normalized_total":${fmt3(normalizedTotal)},""" +
        s""""sf1_canary_ratio":${fmt3(sf1CanaryRatio)},""" +
        s""""queries":$famJson,""" +
        s""""per_query_in":"BENCH_DETAIL.json"}""")
    spark.stop()
  }
}
