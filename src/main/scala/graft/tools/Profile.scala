package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.{ProfileShims, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.DISK_ONLY

import graft.SparkEntry
import graft.pipeline.{Dedup, Similarity}
import graft.storage.TimeRange

/** One profiler for Bench and every probe. [[run]] tags its body's Spark
  * jobs (`SparkContext.addJobTag` is thread-local, so concurrent runs never
  * share jobs) and one shared listener attributes jobs, stages, tasks,
  * shuffle, input, spill and peak execution memory to the tag, read after
  * the listener bus drains. [[query]] splits a DataFrame body into build /
  * plan / exec; [[sample]] is Bench's warmup-then-three-samples protocol.
  *
  * Scenarios, `runMain graft.tools.Profile <scenario> <args>`: `query
  * <dir>[,...] <query>[,...]`; `plans <dir> <tag> <query>[,...] <outDir>`
  * (formatted plans to `<outDir>/<query>_<tag>.txt`); `fanout [N,...]` (a
  * broad `__name__` regex over N metrics, alone and with `without` + sliding
  * windows: flat in N); `c3 <dir>` (the c3 dedup stages; fails unless
  * candidate pairs are O(docs)); `cc <dir>` (iterative components over c2's
  * pairs per closure/compression variant, checked against union-find).
  * `query` and `c3` dirs may be `scaled<N>x:<srcDir>` specs. */
object Profile {
  /** Spark work attributed to one run and its wall time. A DataFrame body
    * ([[query]]) also has build, plan (the sum of `phases`: analysis,
    * optimization, planning) and exec times and its row count. */
  final case class Stats(label: String, wallMs: Double, jobs: Long,
      stages: Long, tasks: Long, shuffleRead: Long, shuffleWrite: Long,
      input: Long, spill: Long, peakExecMem: Long, buildMs: Double = 0,
      phases: Map[String, Double] = Map.empty, execMs: Double = 0,
      rows: Long = -1) {
    def planMs: Double = phases.values.sum
    def line: String = f"[profile] $label wall=${wallMs / 1e3}%.2fs" +
      (if (rows < 0) "" else f" rows=$rows build=$buildMs%.0fms plan=$planMs%.0fms" +
        phases.toSeq.sorted.map { case (k, v) => f"$k=$v%.0f" }.mkString("(", " ", ")") +
        f" exec=$execMs%.0fms") +
      s" jobs=$jobs stages=$stages tasks=$tasks shuf_read=${shuffleRead >> 10}KiB" +
      s" shuf_write=${shuffleWrite >> 10}KiB input=${input >> 10}KiB" +
      s" spill=${spill >> 10}KiB peak_exec_mem=${peakExecMem >> 10}KiB"
  }

  /** (min, median, max) seconds of three samples; the median's stats. */
  final case class Spread(minS: Double, median: Stats, maxS: Double) {
    def medS: Double = median.wallMs / 1e3
  }

  private final class Counters {
    val jobs, stages, tasks, shufRead, shufWrite, input, spill = new LongAdder
    val peak = new AtomicLong
  }

  /** Attributes each job, and the stages it lists, to every profile tag its
    * thread carried, so a nested run's jobs also count for the outer one. */
  private object Listener extends SparkListener {
    val byTag = new ConcurrentHashMap[String, Counters]()
    val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
    var registeredOn: SparkContext = _

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty(ProfileShims.JobTagsKey)))
        .toSeq.flatMap(_.split(',')).filter(byTag.containsKey)
      tags.foreach(t => Option(byTag.get(t)).foreach(_.jobs.increment()))
      if (tags.nonEmpty) e.stageIds.foreach(stageTags.put(_, tags))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      for (tags <- Option(stageTags.get(e.stageInfo.stageId)); t <- tags;
           c <- Option(byTag.get(t))) {
        val m = e.stageInfo.taskMetrics
        c.stages.increment()
        c.tasks.add(e.stageInfo.numTasks.toLong)
        c.shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.input.add(m.inputMetrics.bytesRead)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.peak.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
      }
  }

  private val ids = new AtomicLong

  /** Run `body` with its Spark jobs tagged; returns its result and the work
    * those jobs did. The tag is removed even when `body` throws. */
  def run[T](label: String)(body: => T): (T, Stats) = {
    val sc = SparkSession.active.sparkContext
    Listener.synchronized { if (Listener.registeredOn ne sc) {
      sc.addSparkListener(Listener); Listener.registeredOn = sc } }
    val tag = s"graft-profile-${ids.incrementAndGet()}"
    val c = new Counters
    Listener.byTag.put(tag, c)
    try {
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val out = try body finally sc.removeJobTag(tag)
      val wallMs = (System.nanoTime() - t0) / 1e6
      ProfileShims.drainListeners(sc)
      (out, Stats(label, wallMs, c.jobs.sum, c.stages.sum, c.tasks.sum,
        c.shufRead.sum, c.shufWrite.sum, c.input.sum, c.spill.sum, c.peak.get))
    } finally {
      Listener.byTag.remove(tag)
      Listener.stageTags.values.removeIf(_.contains(tag))
    }
  }

  /** Profile a DataFrame body: build (constructing the frame, driver-side
    * jobs included), plan (the planning tracker's phases of its
    * `groupBy().count()`, read after forcing the executed plan) and exec
    * (collecting that count: the full count `Dataset.count()` runs). */
  def query(label: String)(build: => DataFrame): Stats = {
    val ((buildNs, phases, execNs, rows), st) = run(label) {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      val counted = df.groupBy().count()
      val qe = counted.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      val n = counted.collect().head.getLong(0)
      (t1 - t0, qe.tracker.phases.map { case (k, v) =>
        k -> v.durationMs.toDouble }, System.nanoTime() - t2, n)
    }
    st.copy(buildMs = buildNs / 1e6, phases = phases,
      execMs = execNs / 1e6, rows = rows)
  }

  /** Bench's protocol for one unit of work: an untimed warmup, then three
    * timed samples, or None once a sample fails (one failure decides; a
    * failing multi-minute run is not repeated). Then, untimed, every
    * persistent RDD not in `keep` (the work's own cached and checkpointed
    * frames) is released and the driver GC runs. */
  def sample(keep: collection.Set[Int])(once: => Stats): Option[Spread] = {
    try once catch { case _: Throwable => () }
    val got = scala.collection.mutable.ArrayBuffer.empty[Stats]
    var failed = false
    while (got.length < 3 && !failed)
      try got += once catch { case e: Throwable =>
        System.err.println(s"[profile] sample FAILED: $e"); failed = true }
    SparkSession.active.sparkContext.getPersistentRDDs.foreach {
      case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
    System.gc()
    val s = got.sortBy(_.wallMs)
    if (failed) None else Some(Spread(s(0).wallMs / 1e3, s(1), s(2).wallMs / 1e3))
  }

  private def sampled(label: String)(build: => DataFrame): Unit = {
    val s = sample(SparkSession.active.sparkContext.getPersistentRDDs.keySet)(
      query(label)(build))
    println(s.fold(s"[profile] $label FAILED")(s =>
      f"${s.median.line} spread=${s.minS}%.2f/${s.medS}%.2f/${s.maxS}%.2fs"))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def each(names: String)(f: (String, String => DataFrame) => Unit): Unit =
      for (q <- names.split(',')) SparkEntry.queries.get(q) match {
        case None => println(s"[profile] $q UNKNOWN query name — skipped")
        case Some(fn) => try f(q, fn(spark, _)) catch { case e: Throwable =>
          println(s"[profile] $q FAILED: ${e.getMessage}") }
      }
    try args.headOption match {
      case Some("query") =>
        for (spec <- args(1).split(',')) try {
          val dir = SparkEntry.resolveScaledSpec(spark, spec)
          SparkEntry.prewarm(spark, dir)
          each(args(2))((q, fn) => sampled(s"$q $dir")(fn(dir)))
        } catch { case e: Throwable =>
          println(s"[profile] dir $spec FAILED: ${e.getMessage}") }
      case Some("plans") =>
        val Array(_, dir, tag, names, outDir) = args
        SparkEntry.prewarm(spark, dir)
        val out = Files.createDirectories(Paths.get(outDir))
        each(names) { (q, fn) =>
          fn(dir).count() // fixture engines and indexes build first
          val plan = fn(dir).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          Files.write(out.resolve(s"${q}_$tag.txt"), plan.getBytes(UTF_8))
          println(s"[profile] wrote ${out.resolve(s"${q}_$tag.txt")}")
        }
      case Some("fanout") => fanout(spark,
        args.lift(1).fold(Seq(4, 64, 1024))(_.split(',').toSeq.map(_.toInt)))
      case Some("c3") => c3(spark, SparkEntry.resolveScaledSpec(spark, args(1)))
      case Some("cc") => cc(spark, args(1))
      case _ => println("usage: Profile query|plans|fanout|c3|cc <args>")
    } finally spark.stop()
  }

  private def fanout(spark: SparkSession, ns: Seq[Int]): Unit = {
    import spark.implicits._
    val t0 = 1723680000000L
    for (n <- ns) try {
      val e = new graft.metric.MetricEngine(spark,
        Files.createTempDirectory(s"graft-fanout-$n").toString)
      println(run(s"fanout n=$n ingest")(e.write((0 until n).map(i =>
        graft.metric.Sample(f"fan_$i%05d", Map("host" -> s"h${i % 3}"),
          t0 + i, i.toDouble)).toDF()))._2.line)
      sampled(s"fanout n=$n regex")(e.queryPromQL(
        """sum by (__name__) ({__name__=~"fan_.*"})""",
        TimeRange(Long.MinValue, Long.MaxValue)))
      spark.conf.set("graft.promql.rangeWindows", "sliding")
      try sampled(s"fanout n=$n regex+without+sliding")(e.queryPromQL(
          """sum without (host) (rate({__name__=~"fan_.*"}[10s]))""",
          TimeRange(t0, t0 + math.max(n, 10).toLong + 10000L), Some(10000L)))
      finally spark.conf.unset("graft.promql.rangeWindows")
    } catch { case e: Throwable =>
      println(s"[profile] fanout n=$n FAILED: ${e.getMessage}") }
  }

  private def c3(spark: SparkSession, dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet").persist(DISK_ONLY)
    def stage[T](label: String)(body: => T): T = {
      val (out, st) = run(s"c3 $label")(body); println(s"${st.line} -> $out"); out }
    val (nDocs, nCand) = stage("total") {
      val nDocs = stage("documents")(docs.count())
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text", 8).persist(DISK_ONLY)
      stage("minhash signatures")(sigs.count())
      val cand = Dedup.lshCandidatePairs(sigs, "doc_id", numHashes = 8,
        bandSize = 2, maxBucket = 16).persist(DISK_ONLY)
      val nCand = stage("lsh candidates")(cand.count())
      val verified = Dedup.ngramJaccard(docs, cand, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5).select(col("id_a"), col("id_b"))
        .persist(DISK_ONLY)
      stage("jaccard verify")(verified.count())
      val closed = Dedup.boundedTwoHopClosure(verified).persist(DISK_ONLY)
      stage("two-hop closure")(closed.count())
      stage("connected components, keepers")(Dedup.duplicateClusters(closed)
        .filter(col("id") === col("cluster_id")).count())
      (nDocs, nCand)
    }
    // under the bucket cap candidates per doc stay O(1): a quadratic
    // blowup fails here instead of silently burning the wall clock
    require(nCand < nDocs * 20L,
      s"candidate pairs $nCand not O(docs) — bucket cap not holding")
  }

  private def cc(spark: SparkSession, dir: String): Unit = {
    val pairs = Similarity.lshNearDupPairs(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
        dim = 64, threshold = 0.3, bits = -1)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // pinned, so variants profile only clustering
    println(s"[profile] cc pairs=${pairs.count()}")
    def assignment(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unionFind = assignment(Dedup.duplicateClusters(pairs))
    spark.conf.set("graft.pipeline.localCcMaxEdges", "0")
    try for ((passes, compress) <- Seq((1, false), (2, false), (3, false),
        (4, false), (2, true), (3, true))) {
      def clusters() = Dedup.duplicateClusters(
        Dedup.boundedTwoHopClosure(pairs, passes = passes), compressPaths = compress)
      val label = s"cc passes=$passes compress=$compress"
      sampled(label)(clusters())
      require(assignment(clusters()) == unionFind,
        s"$label: clusters differ from the union-find assignment")
    } finally spark.conf.unset("graft.pipeline.localCcMaxEdges")
  }
}
